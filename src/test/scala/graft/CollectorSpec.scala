package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.functions._

import graft.sources.{Checkpoint, Collector, Lake}
import graft.sources.Collector.Kline

/** The REST poll-and-stage loop against a deterministic fake Fetch
  * (klines_m1.py:31-210 semantics): pagination, checkpoint resume, safe-lag
  * and end-clip stops, retry/backoff, and the staged lake's readability. */
class CollectorSpec extends SparkTestBase {

  private def mkKline(t: Long): Kline =
    Kline(t, 1.0 + (t / 60000L % 5), 2.0, 0.5, 1.5, 10.0, 20.0, 3L, 4.0, 8.0)

  /** A fake REST source over a fixed minute grid; records each requested
    * startTime so tests can assert the pagination trace. */
  private class FakeSource(openTimes: Seq[Long]) {
    val calls = ArrayBuffer.empty[Option[Long]]
    val fetch: Collector.Fetch = (_, start, limit) => {
      calls += start
      val s = start.getOrElse(Long.MinValue)
      openTimes.filter(_ >= s).take(limit).map(mkKline)
    }
  }

  private def tmpRoot(tag: String): String =
    withTempDir(tag)

  // 120 minutes of data starting 2024-01-01T00:00Z
  private val t0 = 1704067200000L
  private val grid: Seq[Long] = (0 until 120).map(i => t0 + i * 60000L)
  private val nowMs = t0 + 10 * 86400000L // far future: safe-lag never binds

  test("multi-page collect accumulates ALL pages (append, not overwrite)") {
    val root = tmpRoot("coll-pages")
    val src = new FakeSource(grid)
    val rep = Collector.collect(spark, src.fetch, "BTCUSDT", root, nowMs,
      startMs = Some(t0), limit = 50)
    assert(rep.pages == 3 && rep.rows == 120L)        // 50 + 50 + 20
    assert(rep.stopReason == "no_new_data")           // 4th fetch: empty
    assert(rep.nextStartTimeMs.contains(grid.last + 1))
    // pagination trace: each page starts 1ms past the previous page's max
    assert(src.calls.toSeq == Seq(Some(t0), Some(grid(49) + 1),
      Some(grid(99) + 1), Some(grid.last + 1)))
    // every page survived on disk — the SaveMode.Append regression guard
    val staged = Lake.read(spark, root)
    assert(staged.count() == 120L)
    assert(staged.select(countDistinct(col("open_time_ms"))).head.getLong(0) == 120L)
    // checkpoint file survived alongside the staged parquet
    assert(Checkpoint.read(root, "collector_m1_BTCUSDT")
      .get("BTCUSDT").contains(grid.last + 1))
  }

  test("resume from checkpoint: first fetch starts at the stored resume point") {
    val root = tmpRoot("coll-resume")
    val src1 = new FakeSource(grid.take(60))
    Collector.collect(spark, src1.fetch, "BTCUSDT", root, nowMs,
      startMs = Some(t0), limit = 100)
    val resumeAt = grid(59) + 1
    // second run: explicit startMs is IGNORED in favor of the checkpoint
    val src2 = new FakeSource(grid)
    val rep2 = Collector.collect(spark, src2.fetch, "BTCUSDT", root, nowMs,
      startMs = Some(t0), limit = 100)
    assert(src2.calls.head.contains(resumeAt))
    assert(rep2.rows == 60L) // only the 60 new minutes, no refetch
    assert(Lake.read(spark, root).count() == 120L)
  }

  test("per-symbol checkpoints are independent files (no cross-symbol clobber)") {
    val root = tmpRoot("coll-sym")
    val srcA = new FakeSource(grid.take(10))
    val srcB = new FakeSource(grid.take(20))
    Collector.collect(spark, srcA.fetch, "AAA", root, nowMs,
      startMs = Some(t0), limit = 100)
    Collector.collect(spark, srcB.fetch, "BBB", root, nowMs,
      startMs = Some(t0), limit = 100)
    assert(Checkpoint.read(root, "collector_m1_AAA")
      .get("AAA").contains(grid(9) + 1))
    assert(Checkpoint.read(root, "collector_m1_BBB")
      .get("BBB").contains(grid(19) + 1))
    val bySym = Lake.read(spark, root).groupBy("symbol").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySym == Map("AAA" -> 10L, "BBB" -> 20L))
  }

  test("maxPages bounds a run and reports max_pages with a resumable checkpoint") {
    val root = tmpRoot("coll-cap")
    val src = new FakeSource(grid)
    val rep = Collector.collect(spark, src.fetch, "BTCUSDT", root, nowMs,
      startMs = Some(t0), limit = 10, maxPages = 2)
    assert(rep.stopReason == "max_pages" && rep.pages == 2 && rep.rows == 20L)
    // the next run resumes exactly where the capped run stopped
    assert(Checkpoint.read(root, "collector_m1_BTCUSDT")
      .get("BTCUSDT").contains(grid(19) + 1))
  }

  test("safe-lag stop: within safeLagMinutes of now -> up_to_date, no fetch") {
    val root = tmpRoot("coll-lag")
    val src = new FakeSource(grid)
    val rep = Collector.collect(spark, src.fetch, "BTCUSDT", root,
      nowMs = t0 + 60000L, startMs = Some(t0), safeLagMinutes = 2)
    assert(rep.stopReason == "up_to_date" && rep.pages == 0)
    assert(src.calls.isEmpty)
  }

  test("endMs clips the page and stops with end_reached") {
    val root = tmpRoot("coll-end")
    val src = new FakeSource(grid)
    val endMs = grid(29) // keep only the first 30 minutes
    val rep = Collector.collect(spark, src.fetch, "BTCUSDT", root, nowMs,
      startMs = Some(t0), endMs = Some(endMs), limit = 50)
    assert(rep.stopReason == "end_reached")
    assert(rep.rows == 30L)
    assert(Lake.read(spark, root).agg(max(col("open_time_ms"))).head.getLong(0)
      == endMs)
  }

  test("empty first page stops with no_new_data and stages nothing") {
    val root = tmpRoot("coll-empty")
    val src = new FakeSource(Seq.empty)
    val rep = Collector.collect(spark, src.fetch, "BTCUSDT", root, nowMs,
      startMs = Some(t0))
    assert(rep.stopReason == "no_new_data" && rep.rows == 0L && rep.pages == 0)
    assert(!new java.io.File(root, "symbol=BTCUSDT").exists())
  }

  test("withRetry: transient failures back off exponentially then succeed") {
    var failures = 2
    val sleeps = ArrayBuffer.empty[Long]
    val flaky: Collector.Fetch = (_, start, limit) => {
      if (failures > 0) { failures -= 1; throw new RuntimeException("boom") }
      Seq(mkKline(t0))
    }
    val out = Collector.withRetry(flaky, maxRetries = 3,
      baseBackoffMs = 100L, sleep = sleeps += _)("S", Some(t0), 10)
    assert(out.map(_.openTimeMs) == Seq(t0))
    assert(sleeps.toSeq == Seq(100L, 200L)) // 1x, 2x
  }

  test("withRetry: persistent failure throws after maxRetries+1 attempts") {
    var attempts = 0
    val dead: Collector.Fetch = (_, _, _) => {
      attempts += 1; throw new RuntimeException("down")
    }
    val e = intercept[RuntimeException] {
      Collector.withRetry(dead, maxRetries = 2, baseBackoffMs = 1L,
        sleep = _ => ())("S", None, 10)
    }
    assert(attempts == 3 && e.getMessage.contains("after 3 attempts"))
  }

  test("composed lake repair: outage gap -> plan -> backfillRange -> verified healthy") {
    import graft.operators.Gaps
    val root = tmpRoot("coll-repair")
    val stepMs = 3600000L // hour grid so three months stay small
    // Jan(744) + Feb(696) + Mar(744) 2024 hour opens; the source had a
    // full-February outage during initial collection
    val jan = (0 until 744).map(i => t0 + i * stepMs)
    val feb = (0 until 696).map(i => jan.last + stepMs + i * stepMs)
    val mar = (0 until 744).map(i => feb.last + stepMs + i * stepMs)
    val outage = new FakeSource(jan ++ mar)
    Collector.collect(spark, outage.fetch, "BTCUSDT", root,
      nowMs = mar.last + 86400000L, startMs = Some(t0), limit = 500,
      intervalMs = stepMs)
    // 1) detect: one gap spanning exactly February
    val staged = Lake.read(spark, root)
    val gaps = Gaps.gapsReport(staged, stepMs, tsMsCol = "open_time_ms")
    val g = gaps.collect()
    assert(g.length == 1)
    assert(g(0).getAs[Long]("gap_start_ms") == feb.head &&
      g(0).getAs[Long]("gap_end_ms") == feb.last &&
      g(0).getAs[Long]("n_missing") == 696L)
    // 2) plan: explode to the concrete missing grid, take its bounds
    val plan = Gaps.backfillPlan(gaps, stepMs)
    assert(plan.count() == 696L)
    val b = plan.agg(min(col("missing_ms")), max(col("missing_ms"))).head
    // 3) repair: explicit-range fetch over a healthy source, month merge-write
    val healthy = new FakeSource(jan ++ feb ++ mar)
    val rep = Collector.backfillRange(spark, healthy.fetch, "BTCUSDT", root,
      startMs = b.getLong(0), endMs = b.getLong(1), limit = 500,
      intervalMs = stepMs)
    assert(rep.rows == 696L)
    // 4) verify: grid complete, no dups, verifyAll all-green
    val after = Lake.read(spark, root)
    assert(after.count() == 2184L)
    assert(Gaps.gapsReport(after, stepMs, tsMsCol = "open_time_ms").count() == 0)
    Lake.writeMeta(after.drop("year", "month"), root)
    val expected = org.apache.spark.sql.types.StructType(
      after.schema.filterNot(f => Seq("year", "month").contains(f.name)))
    val report = Lake.verifyAll(spark, root, expected, stepMs,
      tf = "collector_m1_BTCUSDT", nowMs = mar.last + 86400000L,
      tsMsCol = "open_time_ms")
    val notOk = report.where(!col("ok")).collect()
    assert(notOk.isEmpty, s"verifyAll failures: ${notOk.mkString("; ")}")
  }

  test("backfillRange merges into a partially-present month (incoming wins)") {
    val root = tmpRoot("coll-overlap")
    val stepMs = 3600000L
    val jan = (0 until 744).map(i => t0 + i * stepMs)
    // initial lake holds only the first half of January
    val firstHalf = new FakeSource(jan.take(372))
    Collector.collect(spark, firstHalf.fetch, "BTCUSDT", root,
      nowMs = jan.last + 86400000L, startMs = Some(t0), limit = 500,
      intervalMs = stepMs)
    // repair the WHOLE month: incoming overlaps the existing 372 rows
    val full = new FakeSource(jan)
    val rep = Collector.backfillRange(spark, full.fetch, "BTCUSDT", root,
      startMs = t0, endMs = jan.last, limit = 500, intervalMs = stepMs)
    assert(rep.rows == 744L)
    val after = Lake.read(spark, root)
    assert(after.count() == 744L) // merged, not duplicated
    assert(after.select(countDistinct(col("open_time_ms"))).head.getLong(0)
      == 744L)
  }

  test("backfillRange capped by maxPages reports max_pages + resume point") {
    val root = tmpRoot("coll-bfcap")
    val src = new FakeSource(grid)
    val rep = Collector.backfillRange(spark, src.fetch, "BTCUSDT", root,
      startMs = t0, endMs = grid.last, limit = 10, maxPages = 3)
    // 3 chunks of 10 minutes repaired; the rest of the range is NOT done.
    // The resume point is one past the last FETCHED row (chunk boundaries
    // may sit earlier than the stepMs grid when full pages end short of
    // chunkEnd) — what matters is that nothing repaired is refetched and
    // nothing unrepaired is skipped.
    assert(rep.stopReason == "max_pages" && rep.rows == 30L)
    assert(rep.nextStartTimeMs.contains(grid(29) + 1))
    assert(Lake.read(spark, root).count() == 30L)
    // resuming from the reported point completes the repair
    val rep2 = Collector.backfillRange(spark, src.fetch, "BTCUSDT", root,
      startMs = rep.nextStartTimeMs.get, endMs = grid.last, limit = 50)
    assert(rep2.stopReason == "end_reached")
    assert(Lake.read(spark, root).count() == 120L)
  }

  test("backfillRange bounded buffering: small flushRows still merges correctly") {
    val root = tmpRoot("coll-flush")
    val src = new FakeSource(grid)
    val rep = Collector.backfillRange(spark, src.fetch, "BTCUSDT", root,
      startMs = t0, endMs = grid.last, limit = 10, flushRows = 25)
    assert(rep.rows == 120L)
    val staged = Lake.read(spark, root)
    assert(staged.count() == 120L)
    assert(staged.select(countDistinct(col("open_time_ms"))).head.getLong(0)
      == 120L)
  }

  test("crash replay duplicates staging; compact with dedup keys restores exactly-once") {
    val root = tmpRoot("coll-replay")
    val src1 = new FakeSource(grid.take(20))
    Collector.collect(spark, src1.fetch, "BTCUSDT", root, nowMs,
      startMs = Some(t0), limit = 100)
    // simulate a crash BETWEEN the page append and the checkpoint advance:
    // roll the checkpoint back to before the staged page
    Checkpoint.write(root, "collector_m1_BTCUSDT", Map("BTCUSDT" -> t0))
    val src2 = new FakeSource(grid.take(20))
    Collector.collect(spark, src2.fetch, "BTCUSDT", root, nowMs, limit = 100)
    // staging is at-least-once: the replayed page appended a second copy
    val staged = Lake.read(spark, root)
    assert(staged.count() == 40L)
    assert(staged.select(countDistinct(col("open_time_ms"))).head.getLong(0)
      == 20L)
    // the canonical-dedup compaction is the exactly-once pass
    val compacted = root + "-compact"
    Lake.compact(spark, root, compacted,
      dedupKeys = Seq("symbol", "open_time_ms"))
    val clean = Lake.read(spark, compacted)
    assert(clean.count() == 20L)
    assert(clean.select(countDistinct(col("open_time_ms"))).head.getLong(0)
      == 20L)
  }

  test("compact dedup resolves CONFLICTING duplicates deterministically") {
    import spark.implicits._
    import org.apache.spark.sql.SaveMode
    val root = tmpRoot("coll-conflict")
    // two staged copies of the same (symbol, open_time_ms) with different
    // payloads — an exchange-corrected bar replayed after a crash
    def stage(vol: Double): Unit =
      Lake.writePartitioned(
        (0 until 5).map(i => ("BTCUSDT", t0 + i * 60000L, vol))
          .toDF("symbol", "open_time_ms", "volume_base"),
        root, tsMsCol = "open_time_ms", mode = SaveMode.Append)
    stage(1.0); stage(2.0)
    val outA = root + "-a"
    val outB = root + "-b"
    Lake.compact(spark, root, outA, dedupKeys = Seq("symbol", "open_time_ms"))
    Lake.compact(spark, root, outB, dedupKeys = Seq("symbol", "open_time_ms"))
    val a = Lake.read(spark, outA).orderBy("open_time_ms")
      .select("open_time_ms", "volume_base").collect().map(_.toSeq).toSeq
    val b = Lake.read(spark, outB).orderBy("open_time_ms")
      .select("open_time_ms", "volume_base").collect().map(_.toSeq).toSeq
    assert(a.length == 5)           // exactly one survivor per key
    assert(a == b, "survivor choice must be stable across compaction runs")
  }

  test("backfillRange pages past empty source segments instead of stalling") {
    val root = tmpRoot("coll-void")
    // source has data only in the SECOND chunk of the requested range
    val late = (0 until 20).map(i => t0 + (10 + i) * 60000L)
    val src = new FakeSource(late)
    val rep = Collector.backfillRange(spark, src.fetch, "BTCUSDT", root,
      startMs = t0, endMs = late.last, limit = 10)
    assert(rep.rows == 20L)
    assert(Lake.read(spark, root).count() == 20L)
  }

  test("legacy shared checkpoint migrates to the per-symbol namespace on resume") {
    val root = tmpRoot("coll-legacy")
    // a lake written by the pre-per-symbol collector holds its resume point
    // in the shared `_checkpoint_collector_m1.json`
    Checkpoint.write(root, "collector_m1", Map("BTCUSDT" -> (grid(29) + 1)))
    val src = new FakeSource(grid)
    val rep = Collector.collect(spark, src.fetch, "BTCUSDT", root, nowMs,
      startMs = Some(t0), limit = 100)
    // resumed from the legacy point — no full-history refetch
    assert(src.calls.head.contains(grid(29) + 1))
    assert(rep.rows == 90L)
    // and the entry migrated forward into the per-symbol file
    assert(Checkpoint.read(root, "collector_m1_BTCUSDT")
      .get("BTCUSDT").contains(grid.last + 1))
  }

  test("backfillRange keeps paging inside a chunk denser than intervalMs") {
    val root = tmpRoot("coll-dense")
    // source rows every 30s while the caller claims intervalMs=60s: each
    // limit-sized time chunk holds TWICE limit rows
    val dense = (0 until 40).map(i => t0 + i * 30000L)
    val src = new FakeSource(dense)
    val rep = Collector.backfillRange(spark, src.fetch, "BTCUSDT", root,
      startMs = t0, endMs = dense.last, limit = 10, intervalMs = 60000L)
    // a stepMs-advance loop would silently keep only the first 10 rows per
    // chunk (20 total) and still report end_reached
    assert(rep.rows == 40L && rep.stopReason == "end_reached")
    val staged = Lake.read(spark, root)
    assert(staged.count() == 40L)
    assert(staged.select(countDistinct(col("open_time_ms"))).head.getLong(0)
      == 40L)
  }

  test("merge-write month derivation follows the SESSION timezone (no cross-TZ loss)") {
    val root = tmpRoot("coll-tz")
    val stepMs = 3600000L
    // existing lake: five mid-January hours (month=1 in any nearby TZ)
    val jan15 = 1705276800000L // 2024-01-15T00:00Z
    val feb10 = 1707523200000L // 2024-02-10T00:00Z — safe-lag never binds
    val src0 = new FakeSource((0 until 5).map(i => jan15 + i * stepMs))
    Collector.collect(spark, src0.fetch, "BTCUSDT", root, nowMs = feb10,
      startMs = Some(jan15), limit = 100, intervalMs = stepMs)
    assert(Lake.read(spark, root).count() == 5L)
    // repair two hours at 2024-02-01T00:00Z under a non-UTC session: in
    // America/New_York those instants are still JANUARY 31 evening, so the
    // write lands in month=1 — the month the merge MUST have read. A UTC
    // Calendar would compute affected={Feb}, skip reading month=1, and the
    // dynamic partition overwrite would then replace all of January with
    // just the two incoming rows.
    val feb1 = 1706745600000L // 2024-02-01T00:00Z
    val prevTz = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      val src = new FakeSource(Seq(feb1, feb1 + stepMs))
      val rep = Collector.backfillRange(spark, src.fetch, "BTCUSDT", root,
        startMs = feb1, endMs = feb1 + stepMs, limit = 100,
        intervalMs = stepMs)
      assert(rep.rows == 2L)
      val after = Lake.read(spark, root)
      assert(after.count() == 7L, "existing January rows must survive the merge")
      val times = after.select("open_time_ms").collect().map(_.getLong(0)).toSet
      assert((0 until 5).forall(i => times.contains(jan15 + i * stepMs)))
      assert(times.contains(feb1) && times.contains(feb1 + stepMs))
    } finally spark.conf.set("spark.sql.session.timeZone", prevTz)
  }

  test("concurrent multi-symbol collectors: all rows land, checkpoints stay isolated") {
    val root = tmpRoot("coll-conc")
    val sizes = Map("AAA" -> 40, "BBB" -> 60, "CCC" -> 80)
    val srcs = sizes.map { case (sym, n) => sym -> new FakeSource(grid.take(n)) }
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val threads = srcs.map { case (sym, src) =>
      new Thread(() =>
        try Collector.collect(spark, src.fetch, sym, root, nowMs,
          startMs = Some(t0), limit = 15)
        catch { case t: Throwable => errs.add(t) })
    }.toSeq
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errs.isEmpty, s"concurrent collect failed: ${errs.toArray.mkString("; ")}")
    // every page from every symbol survived the interleaved appends
    val bySym = Lake.read(spark, root).groupBy("symbol").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(bySym == sizes.map { case (s, n) => s -> n.toLong })
    // each checkpoint is exactly its OWN symbol's max(open_time)+1
    sizes.foreach { case (sym, n) =>
      assert(Checkpoint.read(root, s"collector_m1_$sym")
        .get(sym).contains(grid(n - 1) + 1), s"checkpoint for $sym")
    }
  }

  test("staged schema: close_time_ms follows intervalMs; compact preserves rows") {
    val root = tmpRoot("coll-schema")
    val src = new FakeSource(grid.take(40))
    Collector.collect(spark, src.fetch, "BTCUSDT", root, nowMs,
      startMs = Some(t0), limit = 10, intervalMs = 300000L) // 4 small pages, m5
    val staged = Lake.read(spark, root)
    assert(staged.where(col("close_time_ms") =!= col("open_time_ms") + 299999L)
      .count() == 0)
    // many page-files -> compact to one part per (symbol, year, month)
    val compacted = root + "-compact"
    Lake.compact(spark, root, compacted)
    val parts = new java.io.File(compacted + "/symbol=BTCUSDT/year=2024/month=1")
      .listFiles().count(_.getName.endsWith(".parquet"))
    assert(parts == 1)
    assert(Lake.read(spark, compacted).count() == 40L)
  }

  test("funding-event shape: generic loop stages settled rates that feed accrual") {
    import graft.operators.Funding
    import graft.sources.Collector.FundingEvent
    val root = tmpRoot("coll-funding")
    val eightH = 8 * 3600000L
    // three settlements on the 8h grid from t0 (t0 is midnight UTC)
    val events = Seq(
      FundingEvent(t0, 0.001, 42000.0),
      FundingEvent(t0 + eightH, -0.002, 42100.0),
      FundingEvent(t0 + 2 * eightH, 0.0005, 41900.0))
    val calls = ArrayBuffer.empty[Option[Long]]
    val fetch: Collector.FetchOf[FundingEvent] = (_, start, limit) => {
      calls += start
      val s = start.getOrElse(Long.MinValue)
      events.filter(_.fundingTimeMs >= s).take(limit)
    }
    val rep = Collector.collectRecords(spark, fetch, Collector.fundingShape,
      "BTCUSDT", root, nowMs, startMs = Some(t0), limit = 2)
    assert(rep.pages == 2 && rep.rows == 3L)          // 2 + 1
    assert(rep.stopReason == "no_new_data")
    // per-shape checkpoint namespace, per-symbol file
    assert(Checkpoint.read(root, "collector_funding_BTCUSDT")
      .get("BTCUSDT").contains(t0 + 2 * eightH + 1))
    val staged = Lake.read(spark, root)
    assert(staged.count() == 3L)
    assert(Seq("rate", "mark_price", "funding_time_ms")
      .forall(staged.columns.contains))
    // the staged lake feeds the accrual pipeline directly
    import spark.implicits._
    val bars = Seq(
      ("BTCUSDT", t0 - 1L),             // before first settlement
      ("BTCUSDT", t0),                  // at first: accrued 0.001
      ("BTCUSDT", t0 + 9 * 3600000L),   // after second: 0.001 - 0.002
      ("BTCUSDT", t0 + 20 * 3600000L))  // after third: -0.001 + 0.0005
      .toDF("symbol", "bar_ts_ms")
    val accrued = Funding.accrueOntoBars(bars,
        Funding.ratesFromEvents(staged))
      .orderBy("bar_ts_ms")
      .select("cum_funding").as[Double].collect()
    assert(accrued.length == 4)
    assert(math.abs(accrued(0) - 0.0) < 1e-12)
    assert(math.abs(accrued(1) - 0.001) < 1e-12)
    assert(math.abs(accrued(2) - (-0.001)) < 1e-12)
    assert(math.abs(accrued(3) - (-0.0005)) < 1e-12)
  }

  test("premium-index shape: staged lake accrues like the funding-event lake") {
    import graft.operators.Funding
    import graft.sources.Collector.{FundingEvent, PremiumIndexKline}
    val root = tmpRoot("coll-premium")
    val eightH = 8 * 3600000L
    // two full settlement windows of m1 premium bars; each window's mean
    // premium is its funding rate (window 0: 0.001, window 1: -0.002)
    val winRates = Seq(0.001, -0.002)
    val bars = winRates.zipWithIndex.flatMap { case (r, wi) =>
      (0 until 480).map { i =>
        // premium oscillates around the window mean, cancelling in pairs so
        // avg(close) == r exactly (i and i+1 offsets sum to zero)
        val jitter = if (i % 2 == 0) 5e-5 else -5e-5
        PremiumIndexKline(t0 + wi * eightH + i * 60000L,
          r, r + 1e-4, r - 1e-4, r + jitter)
      }
    }
    val calls = ArrayBuffer.empty[Option[Long]]
    val fetch: Collector.FetchOf[PremiumIndexKline] = (_, start, limit) => {
      calls += start
      val s = start.getOrElse(Long.MinValue)
      bars.filter(_.openTimeMs >= s).take(limit)
    }
    val rep = Collector.collectRecords(spark, fetch,
      Collector.premiumIndexShape(), "BTCUSDT", root, nowMs,
      startMs = Some(t0), limit = 500)
    assert(rep.rows == 960L && rep.stopReason == "no_new_data")
    assert(Checkpoint.read(root, "collector_premium_index_BTCUSDT")
      .get("BTCUSDT").contains(bars.last.openTimeMs + 1))
    val staged = Lake.read(spark, root)
    assert(staged.count() == 960L)
    assert(Seq("open", "high", "low", "close", "open_time_ms", "close_time_ms")
      .forall(staged.columns.contains))
    // the staged premium lake and the equivalent settled-event lake derive
    // the SAME rate relation and accrue identically
    import spark.implicits._
    val events = winRates.zipWithIndex.map { case (r, wi) =>
      FundingEvent(t0 + (wi + 1) * eightH, r, 42000.0) }
    val fromPremium = Funding.ratesFromPremiumIndex(staged)
      .select("symbol", "pay_ms", "rate")
      .collect().map(r => (r.getString(0), r.getLong(1),
        math.rint(r.getDouble(2) * 1e12) / 1e12)).toSet
    val fromEvents = Funding.ratesFromEvents(
        Collector.fundingShape.toDf(spark, events, "BTCUSDT"))
      .select("symbol", "pay_ms", "rate")
      .collect().map(r => (r.getString(0), r.getLong(1),
        math.rint(r.getDouble(2) * 1e12) / 1e12)).toSet
    assert(fromPremium == fromEvents, s"$fromPremium vs $fromEvents")
    val probe = Seq(("BTCUSDT", t0 + eightH - 1L), ("BTCUSDT", t0 + eightH),
      ("BTCUSDT", t0 + 2 * eightH + 1L)).toDF("symbol", "bar_ts_ms")
    val a = Funding.accrueOntoBars(probe, Funding.ratesFromPremiumIndex(staged))
      .orderBy("bar_ts_ms").select("cum_funding").as[Double].collect()
    assert(math.abs(a(0) - 0.0) < 1e-12)
    assert(math.abs(a(1) - 0.001) < 1e-9)
    assert(math.abs(a(2) - (-0.001)) < 1e-9)
  }

  test("open-interest shape: staging round-trip and checkpoint resume") {
    import graft.sources.Collector.OpenInterestSnap
    val root = tmpRoot("coll-oi")
    val snaps = (0 until 30).map(i =>
      OpenInterestSnap(t0 + i * 300000L, 1000.0 + i, 4.2e7 + i * 1000))
    def src(upTo: Int): (ArrayBuffer[Option[Long]], Collector.FetchOf[OpenInterestSnap]) = {
      val calls = ArrayBuffer.empty[Option[Long]]
      val fetch: Collector.FetchOf[OpenInterestSnap] = (_, start, limit) => {
        calls += start
        val s = start.getOrElse(Long.MinValue)
        snaps.take(upTo).filter(_.timestampMs >= s).take(limit)
      }
      (calls, fetch)
    }
    val (_, fetch1) = src(20)
    Collector.collectRecords(spark, fetch1, Collector.openInterestShape,
      "BTCUSDT", root, nowMs, startMs = Some(t0), limit = 100)
    // resume: the second run starts at the stored per-shape checkpoint
    val (calls2, fetch2) = src(30)
    val rep2 = Collector.collectRecords(spark, fetch2, Collector.openInterestShape,
      "BTCUSDT", root, nowMs, startMs = Some(t0), limit = 100)
    assert(calls2.head.contains(snaps(19).timestampMs + 1))
    assert(rep2.rows == 10L)
    val staged = Lake.read(spark, root)
    assert(staged.count() == 30L)
    assert(staged.agg(max(col("open_interest"))).head.getDouble(0) == 1029.0)
    assert(Seq("open_interest", "open_interest_value", "snap_time_ms")
      .forall(staged.columns.contains))
  }
}
