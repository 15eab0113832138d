package graft

import java.nio.file.{Files, Paths}

/** Harness-level checks of the driver contract itself. */
class HarnessSpec extends SparkTestBase {

  private val verifyDir = Files.createTempDirectory(Paths.get("target"), "verify")

  /** One full Verify dump per suite, shared by the tests that read it.
    * Verify also mirrors its status into `VERIFY_STATUS_LAST.json` in the
    * working directory (kept there on purpose, see Verify); the run restores
    * whatever that file held before, so a test run leaves it untouched. */
  private lazy val verifyOut: String = {
    val mirror = Paths.get("VERIFY_STATUS_LAST.json")
    val saved = Option.when(Files.exists(mirror))(Files.readAllBytes(mirror))
    try Verify.main(Array(sfDir, verifyDir.toString))
    finally saved match {
      case Some(bytes) => Files.write(mirror, bytes)
      case None => Files.deleteIfExists(mirror)
    }
    verifyDir.toString
  }

  override def afterAll(): Unit =
    try org.apache.commons.io.FileUtils.deleteDirectory(verifyDir.toFile)
    finally super.afterAll()

  test("every oracle key has a query, and oracle SQL aliases match outputs") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphans.isEmpty, s"oracle entries without queries: $orphans")
  }

  test("Verify main writes one dir per query plus parseable oracle json") {
    val out = verifyOut
    val entries = new java.io.File(out).list().toSet
    SparkEntry.queries.keySet.foreach { q =>
      assert(entries.contains(q), s"missing output dir for $q")
    }
    val json = new String(Files.readAllBytes(Paths.get(out, "oracle_sql.json")))
    // minimal JSON sanity: every oracle key quoted, no raw control chars
    SparkEntry.oracleSql.keySet.foreach { k =>
      assert(json.contains("\"" + k + "\""), s"oracle json missing $k")
    }
    assert(!json.exists(c => c < ' '), "raw control characters in oracle json")
  }

  test("materializeCtes hints every non-recursive CTE and nothing else") {
    // synthetic: plain CTEs get the hint, self-referential ones don't,
    // named windows and literals are untouched, non-WITH passes through
    val sql = """WITH RECURSIVE a AS (SELECT 1 AS x FROM t WHERE s <> 'AS ('),
                |b(y) AS (SELECT x FROM a UNION ALL SELECT y + 1 FROM b WHERE y < 3)
                |SELECT y, sum(y) OVER w AS z FROM b
                |WINDOW w AS (ORDER BY y)""".stripMargin
    val out = SparkEntry.materializeCtes(sql)
    assert(out.contains("a AS MATERIALIZED (SELECT 1"), out)
    assert(out.contains("b(y) AS (SELECT x"), out) // recursive: unhinted
    assert(out.contains("WINDOW w AS (ORDER BY y)"), out) // window: untouched
    assert(SparkEntry.materializeCtes("SELECT 1") == "SELECT 1")

    // the real map: every WITH query gains hints; WINDOW clauses and
    // recursive CTE heads never get one
    val winBad = "WINDOW\\s+[A-Za-z_][A-Za-z0-9_]*\\s+AS\\s+MATERIALIZED".r
    var hinted = 0
    SparkEntry.oracleSql.foreach { case (k, sql) =>
      assert(winBad.findFirstIn(sql).isEmpty, s"$k: named window got hinted")
      if (sql.trim.toUpperCase.startsWith("WITH")) {
        assert(sql.contains(" AS MATERIALIZED ("), s"$k: WITH query unhinted")
        hinted += 1
      } else assert(!sql.contains("MATERIALIZED"), s"$k: non-WITH query changed")
    }
    assert(hinted >= 130, s"expected >=130 hinted WITH oracles, got $hinted")
    // the recursive capstone CTE stays plain
    val v4 = SparkEntry.oracleSql("corpus_pipeline_v4")
    assert(v4.contains("reach3(id, root) AS (\n"), "recursive CTE was rewritten")
  }

  test("flagship entry returns rows on the smoke dataset") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("no query output carries array/map/binary columns (driver compare chokes on them)") {
    import org.apache.spark.sql.types.{ArrayType, BinaryType, MapType}
    // the schemas Verify wrote: a key whose dump failed has no _SUCCESS
    SparkEntry.queries.keys.foreach { name =>
      val dump = Paths.get(verifyOut, name)
      assert(Files.exists(dump.resolve("_SUCCESS")), s"$name: no Verify dump")
      val bad = spark.read.parquet(dump.toString).schema.fields.collect {
        case f if f.dataType.isInstanceOf[ArrayType]
          || f.dataType.isInstanceOf[MapType]
          || f.dataType == BinaryType => f.name
      }
      assert(bad.isEmpty, s"$name outputs non-scalar columns: ${bad.mkString(",")}")
    }
  }
}
