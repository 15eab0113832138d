package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.AsOf
import graft.sources.Lake

class AsOfLakeSpec extends SparkTestBase {
  import spark.implicits._

  test("asof backward join: inclusive match, null before first right row") {
    val left = Seq(("A", 5L), ("A", 10L), ("A", 25L), ("B", 5L))
      .toDF("symbol", "ts")
    val right = Seq(("A", 10L, 1.0), ("A", 20L, 2.0))
      .toDF("symbol", "rts", "ctx")
    val out = AsOf.joinBackward(left, right, "symbol", "ts", "rts")
      .orderBy("symbol", "ts").collect()
    assert(out(0).isNullAt(out(0).fieldIndex("ctx")))      // A@5: nothing yet
    assert(out(1).getAs[Double]("ctx") == 1.0)             // A@10: inclusive
    assert(out(1).getAs[Long]("matched_ts") == 10L)
    assert(out(2).getAs[Double]("ctx") == 2.0)             // A@25: latest
    assert(out(3).isNullAt(out(3).fieldIndex("ctx")))      // B: no right rows
  }

  test("asof grid fast path equals general join on grid-aligned data") {
    val left = Seq(("A", 0L), ("A", 100L), ("A", 250L)).toDF("symbol", "ts")
    val right = Seq(("A", 0L, 10.0), ("A", 100L, 20.0), ("A", 200L, 30.0))
      .toDF("symbol", "bucket", "ctx")
    val grid = AsOf.joinGrid(left, right, "symbol", "ts", "bucket", bucketMs = 100L)
      .orderBy("ts").select("ctx").collect().map(r => Option(r.get(0)))
    assert(grid.toSeq == Seq(Some(10.0), Some(20.0), Some(30.0)))
  }

  test("mergeUpsert: incoming wins on collision, both sides kept otherwise") {
    val old = Seq(("A", 1L, 10.0), ("A", 2L, 20.0)).toDF("symbol", "k", "v")
    val inc = Seq(("A", 2L, 99.0), ("A", 3L, 30.0)).toDF("symbol", "k", "v")
    val out = Lake.mergeUpsert(old, inc, Seq("symbol", "k"))
      .orderBy("k").select("v").as[Double].collect()
    assert(out.toSeq == Seq(10.0, 99.0, 30.0))
  }

  test("partitioned lake write prunes partitions and compacts to one file each") {
    val root = withTempDir("lake")
    val bars = Seq(
      ("A", 1704067200000L, 1.0), ("A", 1706745600000L, 2.0),
      ("B", 1704067200000L, 3.0))
      .toDF("symbol", "bar_ts_ms", "close")
    Lake.writePartitioned(bars, root)
    val read = Lake.read(spark, root).where(col("symbol") === "A" && col("month") === 1)
    assert(read.count() == 1)
    val scan = read.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("symbol"),
      s"partition pruning missing from plan:\n$scan")

    val compacted = root + "-compact"
    Lake.compact(spark, root, compacted)
    val parts = new java.io.File(compacted + "/symbol=A/year=2024/month=1")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(parts == 1)
  }

  test("writeShards: one sorted part per shard dir, pack order preserved") {
    val root = withTempDir("shards")
    val docs = (0 until 40).map(i => (i.toLong, ("tok " * (i % 5 + 1)).trim))
      .toDF("doc_id", "text")
    val packed = graft.llm.TextAnalysis.packShards(docs, tokensPerPack = 6L,
      nShards = 4)
    Lake.writeShards(packed, root)
    // one hive dir per shard, exactly one part file each (one task/shard)
    (0 until 4).foreach { s =>
      val parts = new java.io.File(s"$root/shard=$s")
        .listFiles().count(_.getName.endsWith(".parquet"))
      assert(parts == 1, s"shard $s has $parts parts")
    }
    // a sequential read of a shard's single part streams packs in order
    val shard0 = spark.read.parquet(s"$root/shard=0")
      .select("pack_id", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(shard0.toSeq == shard0.sortBy(p => (p._1, p._2)).toSeq, shard0.toSeq)
    // round trip loses nothing
    assert(spark.read.parquet(root).count() == 40)
  }

  test("bucketed tables join without an exchange (co-located)") {
    Seq("bkt_left", "bkt_right").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
        }
        rm(loc)
      }
    }
    val bars = Seq(("A", 1L, 1.0), ("B", 2L, 2.0), ("C", 3L, 3.0))
      .toDF("symbol", "bar_ts_ms", "close")
    Lake.writeBucketed(bars, "bkt_left", 4, Seq("symbol"))
    Lake.writeBucketed(bars.withColumnRenamed("close", "ctx"), "bkt_right", 4, Seq("symbol"))
    val joined = spark.sql(
      """SELECT /*+ MERGE(l) */ l.symbol, l.close, r.ctx
        |FROM bkt_left l JOIN bkt_right r ON l.symbol = r.symbol""".stripMargin)
    val p = joined.queryExecution.executedPlan.toString
    assert(!p.contains("Exchange hashpartitioning"),
      s"bucketed join should not shuffle:\n$p")
    assert(joined.count() == 3)
  }

  test("checkpoint round-trip and resume semantics") {
    import graft.operators.TfAggregate
    import graft.sources.Checkpoint
    val root = withTempDir("ckpt")
    val bars = Seq(
      ("A", 0L, 1.0, 1.0, 1.0, 1.0, 1.0, 1L),
      ("A", 60000L, 1.0, 1.0, 1.0, 1.0, 1.0, 1L),
      ("A", 120000L, 1.0, 1.0, 1.0, 1.0, 1.0, 1L),
      ("A", 180000L, 1.0, 1.0, 1.0, 1.0, 1.0, 1L))
      .toDF("symbol", "bar_ts_ms", "open", "high", "low", "close", "volume", "n_trades")
    val derived = TfAggregate(bars, 60000L, 2)
    val next = Checkpoint.advance(derived, bucketMs = 120000L)
    assert(next == Map("A" -> 240000L)) // past the last complete bucket
    Checkpoint.write(root, "m2", next)
    assert(Checkpoint.read(root, "m2") == next)
    // resuming from the checkpoint emits nothing until new bars arrive
    assert(TfAggregate.incremental(bars, 60000L, 2, next("A")).count() == 0)
  }

  test("meta json + schema validation") {
    val root = withTempDir("meta")
    val df = Seq(("A", 1L, 1.0)).toDF("symbol", "bar_ts_ms", "close")
    Lake.writeMeta(df, root)
    val meta = new String(Files.readAllBytes(
      java.nio.file.Paths.get(root, "_meta.json")))
    assert(meta.contains("\"n_rows\":1") && meta.contains("bar_ts_ms"))
    assert(Lake.validateSchema(df.schema, df.schema).isEmpty)
    val wrong = Seq((1, "x")).toDF("symbol", "extra")
    assert(Lake.validateSchema(wrong.schema, df.schema).nonEmpty)
  }

  test("migrate: column rename refreshes meta; concat keep-last honors input order") {
    val root = withTempDir("migrate")

    // rename_ts_col_v1 semantics: guard both KO paths, rewrite, refresh meta
    val src = s"$root/src"; val dst = s"$root/dst"
    Seq(("A", 1L, 1.0), ("A", 2L, 2.0)).toDF("symbol", "ts", "close")
      .write.parquet(src)
    intercept[IllegalArgumentException](
      Lake.renameColumn(spark, src, dst, "nope", "bar_ts_ms"))
    intercept[IllegalArgumentException](
      Lake.renameColumn(spark, src, dst, "ts", "close"))
    Lake.renameColumn(spark, src, dst, "ts", "bar_ts_ms")
    val renamed = spark.read.parquet(dst)
    assert(renamed.columns.toSet == Set("symbol", "bar_ts_ms", "close"))
    assert(renamed.count() == 2)
    val meta = new String(Files.readAllBytes(
      java.nio.file.Paths.get(dst, "_meta.json")))
    assert(meta.contains("bar_ts_ms") && !meta.contains("\"ts\""))

    // concat_parquets_v1 semantics: union, sort by ts, keep-LAST on ts
    // collision where last = later input in list order
    val p1 = s"$root/p1"; val p2 = s"$root/p2"; val cat = s"$root/cat"
    Seq((1L, "old1"), (2L, "old2"), (4L, "only1")).toDF("ts", "v").write.parquet(p1)
    Seq((2L, "new2"), (3L, "only2")).toDF("ts", "v").write.parquet(p2)
    Lake.concatParquets(spark, Seq(p1, p2), cat, tsCol = "ts")
    val got = spark.read.parquet(cat).orderBy("ts")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toSeq
    assert(got == Seq(1L -> "old1", 2L -> "new2", 3L -> "only2", 4L -> "only1"))
    // missing ts column and null ts both fail loudly, like the reference
    intercept[IllegalArgumentException](
      Lake.concatParquets(spark, Seq(p1, p2), cat, tsCol = "zzz"))
    val pBad = s"$root/pbad"
    Seq((Some(5L), "x"), (None, "y")).toDF("ts", "v").write.parquet(pBad)
    intercept[IllegalArgumentException](
      Lake.concatParquets(spark, Seq(p1, pBad), s"$root/cat2", tsCol = "ts"))
  }

  test("verifyAll: healthy lake all-ok; corruption flips the right checks") {
    val root = withTempDir("verify-lake")
    val bars = Seq(
      ("A", 1704067200000L, 1.0), ("A", 1704067260000L, 2.0),
      ("B", 1704067200000L, 3.0))
      .toDF("symbol", "bar_ts_ms", "close")
    Lake.writePartitioned(bars, root)
    Lake.writeMeta(bars, root)
    sources.Checkpoint.write(root, "m1", Map("A" -> 1704067320000L))
    val expected = org.apache.spark.sql.types.StructType(bars.schema.fields)

    val now = 1704070000000L
    val healthy = Lake.verifyAll(spark, root, expected, 60000L, "m1", now)
      .collect().map(r => (r.getString(0), r.getBoolean(2))).toMap
    assert(healthy("meta_present") && healthy("schema_match")
      && healthy("checkpoint_sane"))
    assert(Lake.verifyAll(spark, root, expected, 60000L, "m1", now)
      .where($"check" === "integrity" && !$"ok").count() == 0)

    // checkpoint in the future -> flagged
    sources.Checkpoint.write(root, "m1", Map("A" -> (now + 86400000L)))
    val future = Lake.verifyAll(spark, root, expected, 60000L, "m1", now)
      .collect().map(r => (r.getString(0), r.getBoolean(2))).toMap
    assert(!future("checkpoint_sane"))

    // schema drift -> flagged with detail
    val drifted = org.apache.spark.sql.types.StructType(
      expected.fields.filterNot(_.name == "close"))
    val rep = Lake.verifyAll(spark, root, drifted, 60000L, "m1", now)
      .where($"check" === "schema_match").collect()(0)
    assert(!rep.getBoolean(2) && rep.getString(3).contains("close"))

    // duplicate row -> integrity KO for that symbol only
    Lake.writePartitioned(bars.unionAll(bars.limit(1)), root)
    val integ = Lake.verifyAll(spark, root, expected, 60000L, "m1", now)
      .where($"check" === "integrity").collect()
      .map(r => r.getString(1) -> r.getBoolean(2)).toMap
    assert(!integ("A") && integ("B"))
  }
}
