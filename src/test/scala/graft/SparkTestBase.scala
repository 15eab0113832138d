package graft

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.scalatest.{BeforeAndAfterAll, Outcome}
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (getOrCreate → one JVM-wide session). */
trait SparkTestBase extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = GraftSession.local("graft-test", "4")
  lazy val sfDir = "/root/testdata/sf0.001"

  def rowsOf(df: DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq)

  def assertNoCartesian(df: DataFrame): Unit = {
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"plan contains CartesianProduct:\n$plan")
  }

  private val tempDirs = ArrayBuffer.empty[Path]

  /** A fresh empty directory `target/<prefix>NNN/<prefix>` that lives as
    * long as the running test: its parent is deleted recursively when the
    * test ends, together with any sibling the test writes next to it
    * (`<dir>-compact`). */
  def withTempDir(prefix: String): String = {
    val parent = Files.createTempDirectory(Paths.get("target"), prefix)
    tempDirs += parent
    Files.createDirectory(parent.resolve(prefix)).toString
  }

  override def withFixture(test: NoArgTest): Outcome =
    try super.withFixture(test)
    finally {
      tempDirs.foreach(p => org.apache.commons.io.FileUtils.deleteDirectory(p.toFile))
      tempDirs.clear()
    }

  /** Content digest of the directory tree at `root`, independent of where
    * it lives and of part-file names: the sorted relative paths of every
    * directory and non-parquet file, where a directory holding parquet
    * parts carries its schema and an md5 of its sorted rows instead of
    * its part files. */
  def stateDigest(root: String): Seq[String] = {
    val base = Paths.get(root)
    def isPart(name: String) = name.matches("""\.?part-.*""")
    def show(v: Any): String = v match {
      case null => "null"
      case b: Array[Byte] => b.map(x => f"$x%02x").mkString("0x", "", "")
      case r: Row => r.toSeq.map(show).mkString("(", ",", ")")
      case s: scala.collection.Seq[_] => s.map(show).mkString("[", ",", "]")
      case x => x.toString
    }
    Files.walk(base).iterator().asScala.filter(_ != base).flatMap { p =>
      val rel = base.relativize(p).toString
      if (!Files.isDirectory(p)) Option.when(!isPart(p.getFileName.toString))(rel)
      else if (!p.toFile.list().exists(n => isPart(n) && n.endsWith(".parquet")))
        Some(rel + "/")
      else {
        val df = spark.read.parquet(p.toString)
        val rows = df.collect().map(show).sorted.mkString("\n")
        Some(s"$rel/ ${df.schema.simpleString} ${md5Hex(rows)}")
      }
    }.toSeq.sorted
  }

  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map(x => f"$x%02x").mkString
}
