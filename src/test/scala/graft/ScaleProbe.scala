package graft

import org.apache.spark.sql.functions._

import graft.functions.Features
import graft.llm.TextAnalysis
import graft.operators.{AsOf, Backtest, Canonical, Gaps, LowPlus, Sessions, Stats, TfAggregate}

/** Engineering scale probe (not part of the driver contract): synthesizes an
  * n-row minute-bar lake in memory (64 symbols, 10% gaps, hash-derived
  * prices) and times the core operators, printing one JSON line with
  * rows/sec per operator. Used to validate that plans hold their shape and
  * throughput at 100-1000x the bench scale factor; results summarized in
  * BASELINE.md. Run with `sbt "Test/runMain graft.ScaleProbe [n]"`.
  */
object ScaleProbe {

  private def streamN(n: Long): Long = math.min(n, 5000000L)

  /** Stage `input` to parquet, stream it through `mk` into a noop sink
    * (micro-batches via maxFilesPerTrigger, Trigger.AvailableNow), and
    * report input rows/s; one shared harness for every streaming probe so
    * their measurement conditions can't drift apart. */
  private def streamProbe(spark: org.apache.spark.sql.SparkSession,
                          name: String,
                          input: org.apache.spark.sql.DataFrame,
                          sn: Long)(
      mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : (String, Double) = {
    val dir = java.nio.file.Files.createTempDirectory(
      java.nio.file.Paths.get("target"), s"probe-$name").toString
    try {
      input.write.mode("overwrite").parquet(dir)
      val sch = spark.read.parquet(dir).schema
      val t0 = System.nanoTime()
      val src = spark.readStream.schema(sch)
        .option("maxFilesPerTrigger", "8").parquet(dir)
      val q = mk(src).writeStream.format("noop")
        .option("checkpointLocation", s"$dir-ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[probe] $name: $sec%.1f s, $sn input rows, ${sn / sec / 1e6}%.1f M input rows/s")
      name -> (sn / sec)
    } finally Seq(dir, s"$dir-ckpt").foreach(d =>
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(d)))
  }

  def main(args: Array[String]): Unit = {
    val n = args.find(_.forall(_.isDigit)).map(_.toLong).getOrElse(20000000L)
    val spark = GraftSession.local("scale-probe")
    import spark.implicits._
    // dev: `Test/runMain graft.ScaleProbe hotcell [n]` isolates the SemDeDup
    // hot-cell block (its numbers are contention-sensitive; the full-suite
    // tail position would otherwise measure the other probes' residue)
    if (args.contains("hotcell")) {
      val res = hotCellProbe(spark, n)
      val hq = res.map { case (k, v) => s""""$k":${v.toLong}""" }.mkString("{", ",", "}")
      println(s"""{"metric":"scale_probe_rows_per_sec","n":$n,"ops":$hq}""")
      spark.stop()
      return
    }
    // dev: `Test/runMain graft.ScaleProbe election [n]` isolates the keep-best
    // election A/B (packed DECIMAL HashAggregate vs struct SortAggregate)
    if (args.contains("election")) {
      val res = electionProbe(spark, n)
      val hq = res.map { case (k, v) => s""""$k":${v.toLong}""" }.mkString("{", ",", "}")
      println(s"""{"metric":"scale_probe_rows_per_sec","n":$n,"ops":$hq}""")
      spark.stop()
      return
    }

    val bars = spark.range(n).select(
        concat(lit("S"), pmod(col("id"), lit(64))).as("symbol"),
        ((col("id") / 64).cast("long") * 60000L).as("bar_ts_ms"),
        (pmod(xxhash64(col("id")), lit(1000L)) / 10.0 + 50.0).as("open"),
        (pmod(xxhash64(col("id"), lit(1)), lit(1000L)) / 10.0 + 100.0).as("high"),
        (pmod(xxhash64(col("id"), lit(2)), lit(1000L)) / 10.0).as("low"),
        (pmod(xxhash64(col("id"), lit(3)), lit(1000L)) / 10.0 + 50.0).as("close"),
        lit(1.0).as("volume"),
        lit(1L).as("n_trades"),
        col("id").as("event_id"))
      .where(pmod(xxhash64(col("id"), lit(9)), lit(10L)) =!= 0)

    // dev: `only:<op>` args isolate named batch ops for clean re-measures
    // (skew/hotcell blocks have their own entry points)
    val only = args.filter(_.startsWith("only:"))
      .map(_.stripPrefix("only:")).toSet
    def time(name: String)(f: => Long): (String, Double) = {
      if (only.nonEmpty && !only(name)) return name -> -1.0
      val t0 = System.nanoTime()
      val rows = f
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[probe] $name: $sec%.1f s, $rows rows, ${n / sec / 1e6}%.1f M input rows/s")
      name -> (n / sec)
    }
    def timeStream(name: String, input: => org.apache.spark.sql.DataFrame,
                   sn: Long)(
        mk: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
        : (String, Double) =
      if (only.nonEmpty && !only(name)) name -> -1.0
      else streamProbe(spark, name, input, sn)(mk)

    val results = Seq(
      time("tf_aggregate_m5") { TfAggregate(bars, 60000L, 5).count() },
      time("gaps_report") { Gaps.gapsReport(bars, 60000L).count() },
      // count() would let Catalyst prune the windowed/joined columns and
      // skip the work entirely — aggregate over the computed column instead
      time("rolling_stats") {
        Features.withRollingStats(bars, "close", 20)
          .agg(count(col("roll_mean"))).as[Long].collect()(0)
      },
      time("dedup_keep_last") {
        Canonical.dedupKeepLast(bars, Seq("symbol", "bar_ts_ms"), col("event_id")).count()
      },
      time("dedup_keep_last_agg") {
        Canonical.dedupKeepLastAgg(bars, Seq("symbol", "bar_ts_ms"), col("event_id")).count()
      },
      time("asof_join_h1ctx") {
        val ctx = TfAggregate(bars, 60000L, 60)
          .select(col("symbol"), col("bucket_ms"), col("close").as("ctx_close"))
        AsOf.joinBackward(bars.select("symbol", "bar_ts_ms", "close"), ctx,
          "symbol", "bar_ts_ms", "bucket_ms")
          .agg(count(col("ctx_close"))).as[Long].collect()(0)
      },
      time("sessionize") {
        // user key with ~n/4096 sessions-worth of density; ts as timestamp
        Sessions.sessionize(
          bars.select(pmod(col("event_id"), lit(4096L)).as("user_id"),
            timestamp_millis(col("bar_ts_ms")).as("ts"), col("close").as("value")),
          "user_id", "ts", "value", gapMs = 300000L).count()
      },
      time("grouped_quantiles_sketch") {
        Stats.groupQuantilesApprox(
          bars.select(col("symbol"),
            (col("bar_ts_ms") / 86400000L).cast("long").as("day"), col("close")),
          Seq("symbol", "day"), "close", Seq(0.5, 0.9, 0.99)).count()
      },
      time("ngram_freq") {
        // synthesize short texts from hash words: ~8 tokens/row
        val txt = concat_ws(" ", (0 until 8).map(i =>
          pmod(xxhash64(col("event_id"), lit(i)), lit(500L)).cast("string")): _*)
        TextAnalysis.ngramFreq(bars.select(txt.as("text")), n = 2).count()
      },
      time("pack_shards") {
        // ~8-token docs synthesized from hashes; 1024 shards so per-shard
        // window state stays small at any n
        val txt = concat_ws(" ", (0 until 8).map(i =>
          pmod(xxhash64(col("event_id"), lit(i)), lit(500L)).cast("string")): _*)
        TextAnalysis.packShards(
          bars.select(col("event_id").as("doc_id"), txt.as("text")),
          tokensPerPack = 4096L, nShards = 1024)
          .agg(count(col("pack_id"))).as[Long].collect()(0)
      },
      time("flow_features") {
        val fb = bars.withColumn("aggr_buy",
            pmod(xxhash64(col("event_id"), lit(11)), lit(100L)) / 10.0)
          .withColumn("aggr_sell",
            pmod(xxhash64(col("event_id"), lit(12)), lit(100L)) / 10.0)
        graft.operators.Flow.withFlowFeatures(fb)
          .agg(count(col("cvd_ret1_z"))).as[Long].collect()(0)
      },
      time("column_profile_exact") {
        // count() would let Catalyst PRUNE the distinct/extrema aggregates
        // (the output row count is |cols| regardless) — hash every output
        // value so the full profile is actually computed
        graft.operators.Profile.columnProfile(
          bars.select("symbol", "bar_ts_ms", "close", "event_id"),
          Seq("symbol", "bar_ts_ms", "close", "event_id"))
          .agg(sum(bit_count(xxhash64(col("column_name"), col("n_rows"),
            col("n_null"), col("n_distinct"), col("min_str"), col("max_str")))))
          .as[Long].collect()(0)
      },
      time("keep_frac_sweep_sketch") {
        // one t-digest pass + broadcast threshold join + one hash agg — the
        // shape that replaced the global row_number single-partition sort
        val scored = bars.select(col("symbol"), col("bar_ts_ms"),
          (pmod(xxhash64(col("event_id"), lit(21)), lit(100000L)) / 100000.0)
            .as("score"),
          (pmod(xxhash64(col("event_id"), lit(22)), lit(200L)) / 100.0 - 1.0)
            .as("r"))
        Backtest.keepFracSweepApprox(scored, "score", "r",
          Seq(0.05, 0.1, 0.25, 0.5)).count()
      },
      time("robust_scale_sketch") {
        Stats.robustScale(
          bars.select(col("symbol"), col("bar_ts_ms"), col("close")),
          Seq("symbol"), "close", useApprox = true)
          .agg(count(col("robust_z"))).as[Long].collect()(0)
      },
      time("robust_scale_exact") {
        // comparison row: exact percentile buffers each symbol's full value
        // set in one aggregation buffer — works here, dies at a hot symbol's
        // lake-scale history
        Stats.robustScale(
          bars.select(col("symbol"), col("bar_ts_ms"), col("close")),
          Seq("symbol"), "close")
          .agg(count(col("robust_z"))).as[Long].collect()(0)
      },
      time("backtest_dual_engine") {
        // the SeqScan position state machine at lake scale: 64 symbols run
        // their sequential lifecycles in parallel, ~5% signal density,
        // regime mode flipping on an hourly grid so every exit path fires
        val sig = bars
          .withColumn("atr", lit(5.0))
          .withColumn("signal",
            (pmod(xxhash64(col("event_id"), lit(31)), lit(20L)) === 0)
              .cast("int"))
          .withColumn("mode",
            when(pmod((col("bar_ts_ms") / 3600000L).cast("long"), lit(3L)) === 0,
              "TREND").otherwise("RANGE"))
          .withColumn("tp_r", when(col("mode") === "TREND", 2.0).otherwise(1.2))
          .withColumn("sl_k", when(col("mode") === "TREND", 1.0).otherwise(0.8))
          .withColumn("horizon_bars",
            when(col("mode") === "TREND", 16).otherwise(8))
          .withColumn("be_at_r", when(col("mode") === "RANGE", 0.6))
        Backtest.runDualEngine(sig, "signal", "mode", cooldownBars = 5).count()
      },
      time("add_slices_groupingsets") {
        // the grouping-sets Expand duplicates every ADD row 4x (one per
        // grouping set) — this measures that duplication cost at lake
        // scale on a synthesized enriched frame (~10% ADD density)
        val enr = bars
          .withColumn("is_add",
            pmod(xxhash64(col("event_id"), lit(41)), lit(10L)) === 0)
          .withColumn("dir_state",
            when(pmod(xxhash64(col("event_id"), lit(42)), lit(2L)) === 0,
              "BULL").otherwise("BEAR"))
          .withColumn("range_pctl",
            pmod(xxhash64(col("event_id"), lit(43)), lit(2000L)) / 100.0)
        LowPlus.addSlices(enr).count()
      },
      time("param_sweep_3d_8cells") {
        // baseline grid for the frames-not-passes comparison below
        val ab = bars.withColumn("atr", lit(5.0))
        Backtest.sweepGrid3d(ab, horizons = Seq(8, 16),
          slKs = Seq(0.5, 1.5), tpRs = Seq(1.0, 2.0)).count()
      },
      time("param_sweep_3d_64cells") {
        // frames-not-passes at a real grid: 4 horizons cost 12 window
        // frames on ONE (symbol, ts) sort; the 64-cell broadcast grid
        // explodes AFTER the windows, so bar-side work is horizon-bound,
        // not cell-bound — compare against the 8-cell row: 8x the cells
        // must cost well under 8x the time
        val ab = bars.withColumn("atr", lit(5.0))
        Backtest.sweepGrid3d(ab, horizons = Seq(4, 8, 16, 32),
          slKs = Seq(0.5, 1.0, 1.5, 2.0), tpRs = Seq(1.0, 1.5, 2.0, 3.0))
          .count()
      },
      // Streaming keyed-state probes: the SAME aggregation expressions as
      // the batch path, run through the real streaming engine (file source
      // → micro-batches → state store → noop sink, AvailableNow). Emitted
      // -row counts are watermark-dependent; the measured quantity is
      // input rows/s through the stateful operator (staging write is
      // outside the timing).
      timeStream("streaming_tf_gate",
        bars.where(col("event_id") < streamN(n))
          .select(col("symbol"), timestamp_millis(col("bar_ts_ms")).as("bar_ts"),
            col("open"), col("high"), col("low"), col("close"),
            col("volume"), col("n_trades")),
        streamN(n)) { src =>
        graft.streaming.Ingest.tfAggregate(src, 60000L, 5,
          watermark = "0 seconds")
      },
      timeStream("streaming_sessionize",
        bars.where(col("event_id") < streamN(n))
          .select(pmod(col("event_id"), lit(4096L)).as("user_id"),
            timestamp_millis(col("bar_ts_ms")).as("ts"),
            col("close").as("value")),
        streamN(n)) { src =>
        graft.streaming.Ingest.sessionSummaries(src, gapMs = 300000L,
          watermark = "0 seconds")
      },
      timeStream("streaming_dual_backtest",
        bars.where(col("event_id") < streamN(n))
          .select(col("symbol"), col("bar_ts_ms").as("barTsMs"),
            col("open"), col("high"), col("low"), col("close"),
            lit(5.0).as("atr"),
            (pmod(xxhash64(col("event_id"), lit(31)), lit(20L)) === 0)
              .cast("int").as("signal"),
            when(pmod((col("bar_ts_ms") / 3600000L).cast("long"), lit(3L)) === 0,
              "TREND").otherwise("RANGE").as("mode"),
            when(pmod((col("bar_ts_ms") / 3600000L).cast("long"), lit(3L)) === 0,
              2.0).otherwise(1.2).as("tpR"),
            lit(1.0).as("slK"), lit(16).as("horizonBars"),
            lit(0.6).as("beAtR"), lit(null).cast("int").as("flip")),
        streamN(n)) { src =>
        import spark.implicits._
        graft.streaming.Ingest.dualBacktestStream(
          src.as[graft.operators.Backtest.DualBar], cooldownBars = 5).toDF()
      },
      time("contamination_ngram") {
        // ~n/16 train docs of 12 hash-words vs a 1/16-sized test split
        // with seeded half-copies: the gram explode (x~10), the global
        // distinct-gram relation, and the overlap equi-join at corpus
        // scale — O(tokens) end to end
        val nd = math.max(n / 16, 1000L)
        val train = spark.range(nd).select(col("id").as("doc_id"),
          concat_ws(" ", (0 until 12).map(i =>
            concat(lit("w"), pmod(xxhash64(col("id"), lit(i)),
              lit(nd * 4)))): _*).as("text"))
        // drop 2 of 12 tokens: the 10-token test docs keep 3 of the
        // train doc's 5 distinct 8-grams, so the overlap join EMITS
        val test = train.where(col("doc_id") % 16 === 0)
          .select((col("doc_id") + nd * 10).as("doc_id"),
            regexp_replace(col("text"), " \\S+ \\S+$", "").as("text"))
        graft.llm.Dedup.contaminationNgram(train, test, n = 8).count()
      },
      time("contamination_bloom") {
        // the SAME corpus/benchmark shape as contamination_ngram, through
        // the Bloom path: benchmark grams -> one filter (KBs), corpus pass
        // map-only — measures the join-free plan's win at corpus scale
        val nd = math.max(n / 16, 1000L)
        val corpus = spark.range(nd).select(col("id").as("doc_id"),
          concat_ws(" ", (0 until 12).map(i =>
            concat(lit("w"), pmod(xxhash64(col("id"), lit(i)),
              lit(nd * 4)))): _*).as("text"))
        val benchmark = corpus.where(col("doc_id") % 16 === 0)
          .select((col("doc_id") + nd * 10).as("doc_id"),
            regexp_replace(col("text"), " \\S+ \\S+$", "").as("text"))
        graft.llm.Dedup.contaminationBloom(corpus, benchmark, n = 8).count()
      },
      // bloom-VERIFIED exact decontamination vs the plain equi-join, both
      // in the production orientation (small benchmark = gram side, big
      // corpus = scored side): the claim under test is that the verify
      // join's corpus-side exchange carries only SUSPECT docs' grams, so
      // verified ≈ bloom + a benchmark-sized join, not a corpus-sized one
      time("contamination_join_full") {
        val nd = math.max(n / 16, 1000L)
        val corpus = spark.range(nd).select(col("id").as("doc_id"),
          concat_ws(" ", (0 until 12).map(i =>
            concat(lit("w"), pmod(xxhash64(col("id"), lit(i)),
              lit(nd * 4)))): _*).as("text"))
        val benchmark = corpus.where(col("doc_id") % 16 === 0)
          .select((col("doc_id") + nd * 10).as("doc_id"),
            regexp_replace(col("text"), " \\S+ \\S+$", "").as("text"))
        graft.llm.Dedup.contaminationNgram(benchmark, corpus, n = 8).count()
      },
      time("contamination_bloom_verified") {
        val nd = math.max(n / 16, 1000L)
        val corpus = spark.range(nd).select(col("id").as("doc_id"),
          concat_ws(" ", (0 until 12).map(i =>
            concat(lit("w"), pmod(xxhash64(col("id"), lit(i)),
              lit(nd * 4)))): _*).as("text"))
        val benchmark = corpus.where(col("doc_id") % 16 === 0)
          .select((col("doc_id") + nd * 10).as("doc_id"),
            regexp_replace(col("text"), " \\S+ \\S+$", "").as("text"))
        graft.llm.Dedup.contaminationBloomVerified(corpus, benchmark, n = 8)
          .count()
      },
      // repeated-gram trim at corpus scale: nd docs × 16 unique hash-words,
      // every 4th doc sharing a 12-token boilerplate tail — the duplicated
      // mass is HOT (3 pure-boilerplate 10-grams × nd/4 occurrences each),
      // exactly the shape the per-hash census collapses map-side. The agg
      // consumes kept_text so the complement-interval rebuild cannot be
      // pruned out of the timed plan.
      time("repeated_ngram_trim") {
        val nd = math.max(n / 16, 1000L)
        val docsDf = spark.range(nd).select(col("id").as("doc_id"),
          concat_ws(" ", (0 until 16).map(i =>
            concat(lit("w"), pmod(xxhash64(col("id"), lit(i)),
              lit(nd * 8)))): _*).as("text"))
          .withColumn("text", when(col("doc_id") % 4 === 0,
            concat(col("text"),
              lit(" b0 b1 b2 b3 b4 b5 b6 b7 b8 b9 b10 b11")))
            .otherwise(col("text")))
        val r = graft.llm.Dedup
          .repeatedNgramTrim(docsDf, n = 10, minCount = 2)
          .agg(sum(col("n_removed_tokens")).as("rm"),
            sum(length(col("kept_text"))).as("kl"))
          .collect()(0)
        r.getLong(0)
      },
      time("corpus_pipeline_v2") {
        // the composed curation capstone at corpus scale: normalize ->
        // gopher gate -> 8-gram decontamination vs a 1/16 benchmark ->
        // span dedup -> 1024-shard shuffle, over n/16 docs of 60
        // hash-words (so the gate actually passes and spans split)
        val nd = math.max(n / 16, 1000L)
        val txt = concat_ws(". ", (0 until 12).map(s =>
          concat_ws(" ", (0 until 5).map(i =>
            concat(lit("w"), pmod(xxhash64(col("id"), lit(s * 5 + i)),
              lit(nd)))): _*)): _*)
        val d = spark.range(nd).select(col("id").as("doc_id"), txt.as("text"))
        val norm = d.withColumn("text",
          graft.llm.TextAnalysis.normalize(col("text")))
        val benchmark = norm.where(col("doc_id") % 16 === 0)
        val corpus = norm.where(col("doc_id") % 16 =!= 0)
        val gated = graft.llm.TextAnalysis.gopherRules(corpus,
            minMeanWordLen = 1.0)
          .where(col("pass_gopher") === 1).select("doc_id", "text")
        val contaminated = graft.llm.Dedup
          .contaminationNgram(benchmark, gated, n = 8)
          .where(col("share_frac") >= 0.3)
          .select(col("test_id").as("doc_id"))
        val clean = gated.join(contaminated, Seq("doc_id"), "left_anti")
        val deduped = graft.llm.Dedup.spanDedup(clean)
          .where(col("kept_text") =!= "")
        graft.llm.Sampling.shardShuffle(deduped, "doc_id", 1024, "v2")
          .agg(count(col("pos_in_shard"))).as[Long].collect()(0)
      },
      time("mean_pool") {
        // chunk->doc pooling at scale: n/8 64-dim vectors, 50-chunk docs —
        // one (group, dim) hash agg whose exchange is the honest dim-fold
        val nv = math.max(n / 8, 1000L)
        val vec = transform(sequence(lit(0), lit(63)), i =>
          pmod(xxhash64(col("id"), i), lit(1000L)).cast("double") / 1000.0)
        graft.llm.Similarity.meanPool(
            spark.range(nv).select((col("id") / 50).cast("long").as("parent"),
              vec.as("embedding")), "parent")
          .agg(count(col("value"))).as[Long].collect()(0)
      },
      time("shard_shuffle") {
        // reproducible training-order shuffle at corpus scale: one md5
        // projection + a 1024-shard hash exchange + per-shard sorts; the
        // window buffer is one shard (~n/1024 keys)
        graft.llm.Sampling.shardShuffle(
            bars.select(col("event_id").as("doc_id")), "doc_id",
            nShards = 1024)
          .agg(count(col("pos_in_shard"))).as[Long].collect()(0)
      },
      time("importance_weight") {
        // n docs of 8 hash-words over a 500-word vocab, 10% target: the
        // DSIR path at corpus scale — two token aggs (vocab-sized LM
        // relation) + one vocab-keyed equi-join, O(tokens) end to end
        val txt = concat_ws(" ", (0 until 8).map(i =>
          concat(lit("w"), pmod(xxhash64(col("event_id"), lit(i)),
            lit(500L)))): _*)
        val d = bars.select(col("event_id").as("doc_id"), txt.as("text"),
          (pmod(xxhash64(col("event_id"), lit(51)), lit(10L)) === 0).as("tgt"))
        graft.llm.Selection.importanceWeight(d, isTarget = col("tgt"))
          .agg(count(col("log_weight"))).as[Long].collect()(0)
      },
      time("score_relation") {
        // the serving half at corpus scale: train the (token, weight)
        // relation once (three scalar totals to the driver), then score
        // the same corpus through the token equi-join — the
        // web-scale-vocabulary path where the model cannot be a plan
        // literal; per-doc distinct-token pre-aggregation bounds the join
        val txt = concat_ws(" ", (0 until 8).map(i =>
          concat(lit("w"), pmod(xxhash64(col("event_id"), lit(i)),
            lit(500L)))): _*)
        val d = bars.select(col("event_id").as("doc_id"), txt.as("text"),
          (pmod(xxhash64(col("event_id"), lit(51)), lit(10L)) === 0).as("tgt"))
        val (model, oov) = graft.llm.Selection.exportModelRelation(
          d, isTarget = col("tgt"))
        graft.llm.Selection.scoreWithRelation(
            d.select(col("doc_id"), col("text")), model, oov)
          .agg(count(col("log_weight"))).as[Long].collect()(0)
      },
      time("lm_score") {
        // same corpus through the bigram LM: the bigram count relation is
        // vocab^2-bounded (~250K rows here), the per-doc scoring join keys
        // on (w1, w2) — the CCNet perplexity stage at corpus scale
        val txt = concat_ws(" ", (0 until 8).map(i =>
          concat(lit("w"), pmod(xxhash64(col("event_id"), lit(i)),
            lit(500L)))): _*)
        val d = bars.select(col("event_id").as("doc_id"), txt.as("text"),
          (pmod(xxhash64(col("event_id"), lit(51)), lit(10L)) === 0).as("tgt"))
        graft.llm.Selection.lmScore(d, isTarget = col("tgt"))
          .agg(count(col("ppl"))).as[Long].collect()(0)
      },
      time("embed_kmeans_k256") {
        // n 16-dim hash vectors against a 256-cell codebook: ONE fused
        // NearestCentroid loop per row (k cosine columns would stop
        // codegen'ing far below this k) — map-only, no shuffle
        val vecs = bars.select(col("event_id").as("vec_id"),
          array((0 until 16).map(i =>
            (pmod(xxhash64(col("event_id"), lit(i)), lit(1000L)) / 500.0
              - 1.0)): _*).as("embedding"))
        graft.llm.Similarity.kmeansAssign(vecs, k = 256)
          .agg(count(col("centroid_sim"))).as[Long].collect()(0)
      },
      time("semantic_dedup_k1024") {
        // n/20 vectors, 1024 cells (~cell size n/20k): the within-cell
        // self-join is the SemDeDup O(sum c_i^2) term — cell count is the
        // knob that keeps it bounded as the corpus grows
        val nv = math.max(n / 20, 10000L)
        val vecs = bars.where(col("event_id") < nv)
          .select(col("event_id").as("vec_id"),
            array((0 until 16).map(i =>
              (pmod(xxhash64(col("event_id"), lit(i)), lit(1000L)) / 500.0
                - 1.0)): _*).as("embedding"))
        graft.llm.Similarity.semanticDedup(vecs, k = 1024, tau = 0.95)
          .agg(sum(col("kept"))).as[Long].collect()(0)
      },
      time("dedup_rate_curve") {
        // same corpus shape as neardup_clusters: organic 8-grams are
        // unique (df=1, blocked by minDf), seeded twin pairs share grams
        // at df=2 — the curve costs one df agg + the df-capped pair join
        val nd = math.max(n / 16, 1000L)
        val base = spark.range(nd).select(col("id").as("doc_id"),
          concat_ws(" ", (0 until 12).map(i =>
            concat(lit("w"), pmod(xxhash64(col("id"), lit(i)),
              lit(nd * 4)))): _*).as("text"))
        val dups = base.where(col("doc_id") % 8 === 0)
          .select((col("doc_id") + nd * 10).as("doc_id"),
            regexp_replace(col("text"), " \\S+ \\S+$", "").as("text"))
        graft.llm.Dedup.dedupRateCurve(base.unionByName(dups),
          thresholds = Seq(0.5, 0.7, 0.9), n = 8).count()
      },
      time("neardup_clusters") {
        // ~n/16 docs of 12 hash-words with seeded near-dups every 8th doc:
        // exercises the DF-bounded blocking join + the propagation loop at
        // corpus scale (vocab sized so rare shingles stay rare)
        val nd = math.max(n / 16, 1000L)
        val base = spark.range(nd).select(col("id").as("doc_id"),
          concat_ws(" ", (0 until 12).map(i =>
            concat(lit("w"), pmod(xxhash64(col("id"), lit(i)),
              lit(nd * 4)))): _*).as("text"))
        val dups = base.where(col("doc_id") % 8 === 0)
          .select((col("doc_id") + nd * 10).as("doc_id"),
            regexp_replace(col("text"), " \\S+ \\S+$", "").as("text"))
        graft.llm.Cluster.nearDupClusters(base.unionByName(dups)).count()
      }) ++ {
      // incremental near-dup: a FIXED batch (half edit-variants of indexed
      // docs, half fresh) against a pre-built cached index — production
      // reads the index from the lake, so its build cost is amortized
      // across batches and stays outside the timed section. The claim:
      // doubling the index must not double per-batch cost (candidates +
      // verify are O(batch); only the map-side bucket derivation and the
      // one band-bucket exchange see the index). BASELINE.md compares the
      // two wall times.
      val nd = math.max(n / 16, 1000L)
      val batchSize = math.max(nd / 8, 500L)
      def idxDocs(m: Long) = spark.range(m).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 12).map(i =>
          concat(lit("w"), pmod(xxhash64(col("id"), lit(i)),
            lit(m * 4)))): _*).as("text"))
      def batchOf(m: Long) = {
        val variants = idxDocs(m).where(col("doc_id") < batchSize)
          .select((col("doc_id") + m * 10).as("doc_id"),
            regexp_replace(col("text"), " \\S+ \\S+$", "").as("text"))
        val fresh = spark.range(batchSize)
          .select((col("id") + m * 20).as("doc_id"),
            concat_ws(" ", (0 until 12).map(i =>
              concat(lit("f"), pmod(xxhash64(col("id"), lit(100 + i)),
                lit(m * 4)))): _*).as("text"))
        variants.unionByName(fresh)
      }
      def run(name: String, m: Long): (String, Double) = {
        if (only.nonEmpty && !only(name)) return name -> -1.0
        val ix = graft.llm.MinHashLsh.buildIndex(idxDocs(m)).cache()
        ix.count()
        val r = time(name) {
          graft.llm.MinHashLsh.nearDupIncremental(batchOf(m), ix, 0.3).count()
        }
        ix.unpersist(blocking = true)
        r
      }
      // the LlmSpec ≡-restriction property AT SCALE: the incremental
      // path's dup_of_index set must equal the full-pass pair scan's
      // batch-docs-matched-to-history set on the same million-doc corpus
      // (identical blocking seeds + identical hash-set Jaccard). A
      // disagreement FAILS the probe run, so BASELINE.md's incremental
      // numbers carry correctness evidence at the scale they're measured.
      def equivProbe(name: String, m: Long): (String, Double) = {
        if (only.nonEmpty && !only(name)) return name -> -1.0
        val hist = idxDocs(m)
        val batch = batchOf(m)
        val ix = graft.llm.MinHashLsh.buildIndex(hist).cache()
        ix.count()
        val r = time(name) {
          val out = graft.llm.MinHashLsh.nearDupIncremental(batch, ix, 0.3)
          val dupIdx = out.where(col("status") === "dup_of_index")
            .select("doc_id")
          val crossMatched = graft.llm.MinHashLsh
            .nearDupPairs(hist.unionByName(batch), 0.3)
            .where(col("id1") < m && col("id2") >= m * 10)
            .select(col("id2").as("doc_id")).distinct()
          val extra = dupIdx.exceptAll(crossMatched).count()
          val missed = crossMatched.exceptAll(dupIdx).count()
          require(extra == 0 && missed == 0,
            s"incremental != full-pass restriction at $m docs: " +
              s"extra=$extra missed=$missed")
          val matched = dupIdx.count()
          org.apache.spark.sql.GraftBridge.releasePinned(out)
          matched
        }
        ix.unpersist(blocking = true)
        r
      }
      Seq(run("neardup_incr_ix1", nd), run("neardup_incr_ix2", nd * 2),
        equivProbe("neardup_incr_equiv", nd))
    } ++ {
      // incremental repeated-gram trim: FIXED batch vs a pre-built gram
      // index at 1x and 2x corpus size — the claim: per-batch cost must
      // not track corpus age, because only MATCHED index grams cross the
      // merge exchange (build-probe semi filter) and history text appears
      // nowhere. Half the batch duplicates indexed docs verbatim (their
      // grams hit the index at combined count 2 -> full trim), half is
      // fresh and must survive intact.
      val nd = math.max(n / 16, 1000L)
      val batchSize = math.max(nd / 8, 500L)
      def corpusDocs(m: Long) = spark.range(m).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 16).map(i =>
          concat(lit("w"), pmod(xxhash64(col("id"), lit(i)),
            lit(m * 8)))): _*).as("text"))
      def trimBatch(m: Long) = {
        val copies = corpusDocs(m).where(col("doc_id") < batchSize / 2)
          .select((col("doc_id") + m * 10).as("doc_id"), col("text"))
        val fresh = spark.range(batchSize / 2)
          .select((col("id") + m * 20).as("doc_id"),
            concat_ws(" ", (0 until 16).map(i =>
              concat(lit("f"), pmod(xxhash64(col("id"), lit(100 + i)),
                lit(m * 8)))): _*).as("text"))
        copies.unionByName(fresh)
      }
      def runTrim(name: String, m: Long): (String, Double) = {
        if (only.nonEmpty && !only(name)) return name -> -1.0
        val ix = graft.llm.Dedup.buildGramIndex(corpusDocs(m), n = 10).cache()
        ix.count()
        val r = time(name) {
          graft.llm.Dedup
            .repeatedNgramTrimIncremental(trimBatch(m), ix, n = 10,
              minCount = 2)
            .agg(sum(col("n_removed_tokens")).as("rm"),
              sum(length(col("kept_text"))).as("kl"))
            .collect()(0).getLong(0)
        }
        ix.unpersist(blocking = true)
        r
      }
      Seq(runTrim("trim_incr_ix1", nd), runTrim("trim_incr_ix2", nd * 2))
    } ++ {
      // incremental SemDeDup: FIXED batch vs a pre-built kept-vector
      // index. Unlike the hash-keyed incrementals, the cell probe ships
      // the MATCHED cells' index VECTORS, so at fixed k doubling the
      // index doubles the probe's join input — the production contract is
      // k ∝ corpus (SemDeDup runs ~50k cells at web scale), which keeps
      // per-cell mass bounded. The probe therefore doubles index AND k
      // together; BASELINE.md compares the two walls (claim: ~flat).
      // Batch = half exact-direction twins of indexed vectors (cosine
      // 1.0 — scale-invariant — so they MUST come back dup_of_index when
      // cells match), half fresh near-orthogonal vectors.
      val nv = math.max(n / 64, 2000L)
      val semBatch = math.max(nv / 8, 500L)
      def vecsOf(m: Long, tag: Int) =
        spark.range(m).select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(31)), i =>
            pmod(xxhash64(col("id"), i + lit(tag * 100 + 1)), lit(2000L))
              / 1000.0 - 1.0).as("embedding"))
      def semBatchOf(m: Long) = {
        val twins = vecsOf(m, 0).where(col("vec_id") < semBatch / 2)
          .select((col("vec_id") + m * 10).as("vec_id"),
            transform(col("embedding"), x => x * 1.0001).as("embedding"))
        val fresh = vecsOf(semBatch / 2, 7)
          .select((col("vec_id") + m * 20).as("vec_id"), col("embedding"))
        twins.unionByName(fresh)
      }
      def runSem(name: String, m: Long, k: Int): (String, Double) = {
        if (only.nonEmpty && !only(name)) return name -> -1.0
        val centers = graft.llm.Similarity.trainCodebook(vecsOf(m, 0), k)
        val idx = vecsOf(m, 0).join(
            graft.llm.Similarity.kmeansAssignWith(vecsOf(m, 0), centers)
              .select("vec_id", "cluster"), "vec_id")
          .cache()
        idx.count()
        val r = time(name) {
          val out = graft.llm.Similarity.semanticDedupIncremental(
            semBatchOf(m), idx, centers, tau = 0.95)
          val matched = out.where(col("status") === "dup_of_index").count()
          require(matched > 0, s"$name: no twin matched — probe is vacuous")
          out.count()
        }
        idx.unpersist(blocking = true)
        r
      }
      Seq(runSem("semdedup_incr_ix1", nv, 64),
        runSem("semdedup_incr_ix2", nv * 2, 128))
    } ++ {
      // cross-source overlap at corpus scale: nd docs over 20 sources,
      // every 7th doc's text duplicated into the next source. The claim:
      // the exact matrix pays ONE fingerprint-grain exchange (O(distinct
      // docs) 16-byte rows), while the sketch's partial aggregation
      // collapses each partition to |sources|·k rows before its exchange
      // — the re-estimate-per-snapshot path when the fingerprint stream
      // itself is the cost.
      val nd = math.max(n / 16, 1000L)
      def srcDocs = {
        val base = spark.range(nd).select(col("id").as("doc_id"),
          concat(lit("src"), pmod(col("id"), lit(20L)).cast("string"))
            .as("source"),
          concat_ws(" ", (0 until 16).map(i =>
            concat(lit("w"), pmod(xxhash64(col("id"), lit(i)),
              lit(nd * 8)))): _*).as("text"))
        val copies = base.where(col("doc_id") % 7 === 0)
          .select((col("doc_id") + nd * 10).as("doc_id"),
            concat(lit("src"),
              pmod(pmod(col("doc_id"), lit(20L)) + 1, lit(20L))
                .cast("string")).as("source"),
            col("text"))
        base.unionByName(copies)
      }
      Seq(
        time("source_overlap_exact") {
          graft.llm.Dedup.sourceOverlap(srcDocs).count()
        },
        time("source_overlap_sketch") {
          graft.llm.Dedup.sourceOverlapSketch(srcDocs, k = 128).count()
        })
    } ++ {
      // winnowing + char entropy at corpus grain: nd docs x 24 hash-words
      // (~200 MB text at n=20M). The claims: both are map-only single
      // passes (the native expressions exist because the HOF winnow plan
      // was O(n³)/doc under CollapseProject — 76 s for a 500-doc dump);
      // the candidate join after the df cap is pair-bounded by the seeded
      // variants, never all-pairs.
      val nd = math.max(n / 16, 1000L)
      def wdocs = spark.range(nd).select(col("id").as("doc_id"),
        concat_ws(" ", (0 until 24).map(i =>
          concat(lit("w"), pmod(xxhash64(col("id"), lit(i)),
            lit(nd)))): _*).as("text"))
      Seq(
        time("char_entropy") {
          graft.llm.TextAnalysis.withEntropy(wdocs)
            .agg(count(col("entropy_bits"))).as[Long].collect()(0)
        },
        time("winnow_fingerprint") {
          graft.llm.TextAnalysis.winnowFingerprints(wdocs).count()
        },
        time("winnow_candidates") {
          val variants = wdocs.where(col("doc_id") % 8 === 0)
            .select((col("doc_id") + nd * 10).as("doc_id"),
              regexp_replace(col("text"), " \\S+ \\S+$", "").as("text"))
          graft.llm.Dedup.winnowCandidates(
            wdocs.unionByName(variants), minShared = 2).count()
        })
    } ++ {
      // round-14 curation ops at corpus grain: nd docs × 24 words over a
      // 100k hash-word vocabulary, 20 sources × 5 langs. Claims: the
      // heavy-hitter confirm's exchange carries only CMS suspects (vocab
      // 100k, heavy set ~top-1%); fertility is one low-cardinality agg;
      // the LPT rank never funnels through a single-task global window;
      // weighted sampling is map-only + one top-k; the divergence card's
      // pair explosion is token-grain × 190 pairs, never corpus-grain.
      val nd = math.max(n / 16, 1000L)
      def pdocs = spark.range(nd).select(col("id").as("doc_id"),
        concat(lit("src"), pmod(col("id"), lit(20L))).as("source"),
        concat(lit("l"), pmod(col("id"), lit(5L))).as("lang"),
        concat_ws(" ", (0 until 24).map(i =>
          concat(lit("w"), pmod(xxhash64(col("id"), lit(i)),
            lit(100000L)))): _*).as("text"))
      Seq(
        time("heavy_hitters") {
          // a 2% hot-token mass over 100 ids rides the uniform 100k-word
          // stream (every 50th position) — under a uniform-only corpus a
          // 3x-mean threshold nominates NOTHING (Poisson(mean) never
          // reaches 3x over 100k tokens) and the probe would measure an
          // empty confirm; the hot set makes ~100 true heavy hitters
          val hot = pdocs.withColumn("text",
            concat_ws(" ", (0 until 24).map(i =>
              when(pmod(xxhash64(col("doc_id"), lit(100 + i)), lit(50L)) === 0,
                concat(lit("h"), pmod(xxhash64(col("doc_id"), lit(200 + i)),
                  lit(100L))))
                .otherwise(concat(lit("w"), pmod(xxhash64(col("doc_id"),
                  lit(i)), lit(100000L))))): _*))
          // one rational step: the old `nd * 24 / 100000 * 3` truncated
          // to 0 for nd < ~4167 and clamped to 2, making the probe
          // measure a near-full-vocabulary confirm instead of the
          // suspects-only exchange (round-14 ADVICE)
          val t = math.max(nd * 24 * 3 / 100000, 2L)
          TextAnalysis.heavyHitters(hot, minCount = t)
            .agg(count(col("share"))).as[Long].collect()(0)
        },
        time("tokenizer_fertility") {
          TextAnalysis.tokenizerFertility(pdocs)
            .agg(count(col("fertility"))).as[Long].collect()(0)
        },
        time("pack_shards_lpt") {
          TextAnalysis.packShardsLpt(pdocs, nShards = 1024)
            .agg(count(col("shard"))).as[Long].collect()(0)
        },
        time("weighted_sample") {
          graft.llm.Sampling.weightedSample(
            pdocs.withColumn("w", length(col("text")).cast("double")),
            "doc_id", col("w"), k = 1000).count()
        },
        time("source_divergence") {
          graft.llm.Curation.sourceDivergence(pdocs)
            .agg(count(col("js"))).as[Long].collect()(0)
        },
        time("prototype_prune") {
          val nv = math.max(n / 8, 1000L)
          val vecs = spark.range(nv).select(col("id").as("vec_id"),
            transform(sequence(lit(0), lit(63)), j =>
              (pmod(xxhash64(col("id"), j), lit(1000L)) / 500.0 - 1.0))
              .as("embedding"))
          graft.llm.Similarity.prototypePrune(vecs, k = 64,
              pruneFrac = 0.25, outlierFrac = 0.10, refineIters = 1)
            .agg(sum(col("kept"))).as[Long].collect()(0)
        })
    } ++ Seq(
      // span-grain decontamination scrub at corpus scale: benchmark =
      // nd/256 docs, every 4th corpus doc carries a benchmark doc's
      // 12-token tail (5 matching 8-gram starts -> one fused 12-token
      // span). The claim: corpus grams never shuffle (the benchmark
      // relation broadcasts for nomination AND confirm), so the wall is
      // the map-side positional-gram pass plus the suspect-only
      // assembly; the removed-token checksum proves the seeded mass came
      // out.
      time("contamination_scrub") {
        val nd = math.max(n / 16, 1000L)
        val nb = math.max(nd / 256, 100L)
        val bench = spark.range(nb).select(col("id").as("doc_id"),
          concat_ws(" ", (0 until 12).map(i =>
            concat(lit("b"), pmod(xxhash64(col("id"), lit(500 + i)),
              lit(nb * 8)))): _*).as("text"))
        val tail12 = concat_ws(" ", (0 until 12).map(i =>
          concat(lit("b"), pmod(xxhash64(pmod(col("id"), lit(nb)),
            lit(500 + i)), lit(nb * 8)))): _*)
        val corpus = spark.range(nd).select(col("id").as("doc_id"),
          when(col("id") % 4 === 0,
            concat_ws(" ",
              concat_ws(" ", (0 until 16).map(i =>
                concat(lit("w"), pmod(xxhash64(col("id"), lit(i)),
                  lit(nd * 8)))): _*),
              tail12))
            .otherwise(concat_ws(" ", (0 until 16).map(i =>
              concat(lit("w"), pmod(xxhash64(col("id"), lit(i)),
                lit(nd * 8)))): _*)).as("text"))
        graft.llm.Dedup.contaminationScrub(corpus, bench, n = 8)
          .agg(sum(col("n_removed_tokens"))).as[Long].collect()(0)
      },
      // BPE training at corpus scale: nd docs x 12 hash-words. The claim:
      // the corpus appears ONLY in the word-count pass; the 32 merge
      // iterations run over the bounded frequency dict, so wall time is
      // the one explode+agg regardless of numMerges.
      time("bpe_train") {
        val nd = math.max(n / 16, 1000L)
        val docsDf = spark.range(nd).select(col("id").as("doc_id"),
          concat_ws(" ", (0 until 12).map(i =>
            concat(lit("w"), pmod(xxhash64(col("id"), lit(i)),
              lit(4096L)))): _*).as("text"))
        graft.llm.Bpe.trainBounded(docsDf, numMerges = 32).count()
      },
      // PQ encode throughput: n/8 64-dim synthetic vectors through the
      // full report (driver codebooks + map-side encode/decode/rmse).
      // The m·ksub argmin is the cost center — the native PqCodes
      // expression measured 54x over the HOF formulation here (423.6 s
      // -> 7.9 s at 2.5 M vectors), which is why it exists.
      time("pq_encode") {
        val nv = math.max(n / 8, 1000L)
        val vecs = spark.range(nv).select(col("id").as("vec_id"),
          transform(sequence(lit(0), lit(63)), j =>
            (pmod(xxhash64(col("id"), j), lit(1000L)) / 500.0 - 1.0))
            .as("embedding"))
        graft.llm.Similarity.quantizePqReport(vecs, inDim = 64)
          .agg(count(col("rmse"))).as[Long].collect()(0)
      })

    val all = (if (only.isEmpty)
        results ++ skewProbe(spark, n) ++ hotCellProbe(spark, n)
      else results.filter(_._2 >= 0))
    val qs = all.map { case (k, v) => s""""$k":${v.toLong}""" }.mkString("{", ",", "}")
    println(s"""{"metric":"scale_probe_rows_per_sec","n":$n,"ops":$qs}""")
    spark.stop()
  }

  /** Seeded hot-cell block for SemDeDup: ~25% of the corpus lands in ONE
    * k-means cell (vectors seeded on the cell-0 codebook direction plus
    * per-id jitter), the rest spread organically over 64 cells. Three
    * claims measured (conclusions in BASELINE.md and
    * [[graft.llm.Similarity.semanticDedup]]'s scaladoc):
    *   1. plain within-cell self-join — the hot cell's O(c^2) pairs are
    *      ONE join key, i.e. one task;
    *   2. AQE skew-split with byte thresholds hand-scaled to the hot
    *      partition's actual size (1 MB) — effective HERE, but AQE keys on
    *      input partition BYTES while the self-join's output is quadratic
    *      in key mass, so at production defaults (256 MB) a hot cell of
    *      tens of MB emitting billions of pairs never triggers the split;
    *   3. the `maxCell` salt-split — m = ceil(c/maxCell) sub-keys of
    *      ~c*maxCell pairs each, bit-identical output, keyed on row count
    *      (the quantity that predicts pair count) with no conf tuning —
    *      the production knob.
    */
  /** Keep-best election A/B (round-15 verdict item): the SAME
    * URL-keep-best query with the election key as (a) the packed
    * DECIMAL(38,0) primitive (HashAggregate, the shipped form) and
    * (b) the max(struct(q, −id)) reference (SortAggregate fallback) —
    * interleaved b/a/b/a in one JVM so JIT/IO warm-up cancels, medians
    * reported. The synthesized frame has ~8 copies per canonical URL so
    * the aggregation (not the canonicalization projection, shared by
    * both) dominates. */
  private def electionProbe(spark: org.apache.spark.sql.SparkSession,
                            n: Long): Seq[(String, Double)] = {
    import spark.implicits._
    val nd = math.max(n / 4, 100000L)
    val docs = spark.range(nd).select(col("id").as("doc_id"),
      concat(lit("https://Example.com/path/"),
        pmod(xxhash64(col("id")), lit(nd / 8)),
        lit("?utm_source=probe&v='"),
        pmod(col("id"), lit(3)), lit("'")).as("url"),
      pmod(xxhash64(col("id"), lit(1)), lit(10000L)).as("quality"))
    def run(fn: => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      fn.agg(count(lit(1))).as[Long].collect()
      (System.nanoTime() - t0) / 1e9
    }
    def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    val reps = 3
    val pairs = (0 until reps).map { _ =>
      val s = run(graft.llm.Dedup.urlKeepBestFullRange(
        docs, col("url"), col("quality")))
      val p = run(graft.llm.Dedup.urlKeepBest(
        docs, col("url"), col("quality")))
      (s, p)
    }
    val sMed = med(pairs.map(_._1))
    val pMed = med(pairs.map(_._2))
    println(f"[probe] url_elect_struct: $sMed%.2f s median, ${nd / sMed / 1e6}%.2f M rows/s")
    println(f"[probe] url_elect_packed: $pMed%.2f s median, ${nd / pMed / 1e6}%.2f M rows/s (${sMed / pMed}%.2fx vs struct)")

    // raw-aggregation A/B: the same election with the canonicalization
    // projection (regex + param-sort HOF, shared by both variants and
    // dominant end-to-end) taken out of the frame — this is the
    // SortAggregate → HashAggregate delta itself
    import org.apache.spark.sql.GraftBridge
    val keyed = spark.range(nd).select(
      pmod(xxhash64(col("id")), lit(nd / 8)).cast("string").as("k"),
      pmod(xxhash64(col("id"), lit(1)), lit(10000L)).cast("double").as("q"),
      col("id"))
    def runAgg(best: org.apache.spark.sql.Column): Double = {
      val t0 = System.nanoTime()
      keyed.groupBy(col("k")).agg(best.as("b"))
        .agg(count(lit(1))).as[Long].collect()
      (System.nanoTime() - t0) / 1e9
    }
    val packedKey = GraftBridge.column(graft.functions.ElectionPack(
      GraftBridge.expression(col("q")), GraftBridge.expression(col("id"))))
    val aggPairs = (0 until reps).map { _ =>
      val s = runAgg(max(struct(col("q"), (-col("id")).as("n"))))
      val p = runAgg(max(packedKey))
      (s, p)
    }
    val asMed = med(aggPairs.map(_._1))
    val apMed = med(aggPairs.map(_._2))
    println(f"[probe] elect_agg_struct: $asMed%.2f s median, ${nd / asMed / 1e6}%.2f M rows/s")
    println(f"[probe] elect_agg_packed: $apMed%.2f s median, ${nd / apMed / 1e6}%.2f M rows/s (${asMed / apMed}%.2fx vs struct)")
    Seq("url_elect_struct" -> nd / sMed, "url_elect_packed" -> nd / pMed,
      "elect_agg_struct" -> nd / asMed, "elect_agg_packed" -> nd / apMed)
  }

  private def hotCellProbe(spark: org.apache.spark.sql.SparkSession,
                           n: Long): Seq[(String, Double)] = {
    import spark.implicits._
    val nv = math.max(n / 400, 20000L)
    def vcols(seed: org.apache.spark.sql.Column) =
      array((0 until 16).map(i =>
        (pmod(xxhash64(seed, lit(i)), lit(1000L)) / 500.0 - 1.0)): _*)
    // ids 0..63 seed the codebook (lowest-id init); from there every 4th
    // id rides the cell-0 direction with 1% jitter -> one ~25%-mass cell
    val vecs = spark.range(nv).select(col("id").as("vec_id"),
      when(col("id") >= 64 && pmod(col("id"), lit(4)) === 0,
        zip_with(vcols(lit(0L)), vcols(col("id")), (a, b) => a + b * 0.01))
        .otherwise(vcols(col("id"))).as("embedding"))

    def time(name: String)(f: => Long): (String, Double) = {
      val t0 = System.nanoTime()
      val rows = f
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[probe] $name: $sec%.1f s, $rows kept, ${nv / sec / 1e6}%.2f M vecs/s")
      name -> (nv / sec)
    }
    def kept(maxCell: Option[Int]): Long =
      graft.llm.Similarity.semanticDedup(vecs, k = 64, tau = 0.95,
          maxCell = maxCell)
        .agg(sum(col("kept"))).as[Long].collect()(0)
    def withConf(pairs: (String, String)*)(f: => (String, Double)): (String, Double) = {
      val prev = pairs.map { case (key, _) => key -> spark.conf.getOption(key) }
      pairs.foreach { case (key, v) => spark.conf.set(key, v) }
      try f
      finally prev.foreach {
        case (key, Some(v)) => spark.conf.set(key, v)
        case (key, None) => spark.conf.unset(key)
      }
    }
    val plain = time("semdedup_hotcell_plain")(kept(None))
    val aqe = withConf(
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "1m",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "512k") {
      time("semdedup_hotcell_aqe_tuned")(kept(None))
    }
    val capped = time("semdedup_hotcell_capped")(kept(Some(2000)))
    Seq(plain, aqe, capped)
  }

  /** Seeded-skew block: one key ("HOT") holds ~30% of all rows, the rest
    * spread over 10k keys. Three claims measured (see
    * [[graft.functions.Salting]]'s scaladoc for the conclusions these
    * numbers back):
    *   1. plain vs salted SUM — expected parity: partial aggregation
    *      pre-combines map-side, so combinable aggs don't row-skew;
    *   2. plain vs salted exact-distinct (collect_set buffer) — the hot
    *      key's whole value set merges in ONE reducer vs split by
    *      hash(value) across `salts` reducers;
    *   3. hot-key sort-merge join, AQE skew-split off vs on (broadcast
    *      disabled: at lake scale the build side doesn't fit; skew
    *      thresholds scaled to probe size — production partition sizes
    *      cross the 256 MB default on their own).
    */
  private def skewProbe(spark: org.apache.spark.sql.SparkSession,
                        n: Long): Seq[(String, Double)] = {
    import spark.implicits._
    val skewed = spark.range(n).select(
      when(pmod(xxhash64(col("id"), lit(31)), lit(10L)) < 3, lit("HOT"))
        .otherwise(concat(lit("K"),
          pmod(xxhash64(col("id"), lit(32)), lit(10000L)))).as("k"),
      col("id").as("v"),
      (pmod(xxhash64(col("id"), lit(33)), lit(1000L)) / 10.0).as("x"))

    def time(name: String)(f: => Long): (String, Double) = {
      val t0 = System.nanoTime()
      val rows = f
      val sec = (System.nanoTime() - t0) / 1e9
      println(f"[probe] $name: $sec%.1f s, $rows rows, ${n / sec / 1e6}%.1f M input rows/s")
      name -> (n / sec)
    }
    // consume through a hash of every output value so Catalyst can't prune
    // the aggregates under test
    def consume(df: org.apache.spark.sql.DataFrame): Long = {
      val h = xxhash64(df.columns.map(col): _*)
      df.agg(sum(bit_count(h))).as[Long].collect()(0)
    }

    val sumPlain = time("skew_sum_plain") {
      consume(skewed.groupBy("k")
        .agg(sum(col("x")).as("s"), count(lit(1)).as("c")))
    }
    val sumSalted = time("skew_sum_salted") {
      consume(graft.functions.Salting.saltedSumCount(
        skewed, Seq("k"), "x", entropyCol = "v"))
    }
    val setPlain = time("skew_distinct_plain_set") {
      consume(skewed.groupBy("k")
        .agg(size(collect_set(col("v"))).cast("long").as("n_distinct_v")))
    }
    val setSalted = time("skew_distinct_salted") {
      consume(graft.functions.Salting.saltedDistinctCount(
        skewed, Seq("k"), "v", salts = 32))
    }

    val dim = spark.range(10001).select(
        when(col("id") === 10000L, lit("HOT"))
          .otherwise(concat(lit("K"), col("id"))).as("k"),
        (col("id") % 97).as("w"))
    def hotJoin(): Long =
      consume(skewed.join(dim, "k")
        .select(col("k"), (col("v") + col("w")).as("vw")))
    def withConf(pairs: (String, String)*)(f: => (String, Double)): (String, Double) = {
      val prev = pairs.map { case (key, _) => key -> spark.conf.getOption(key) }
      pairs.foreach { case (key, v) => spark.conf.set(key, v) }
      try f
      finally prev.foreach {
        case (key, Some(v)) => spark.conf.set(key, v)
        case (key, None) => spark.conf.unset(key)
      }
    }
    val joinOff = withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false") {
      time("skew_join_aqe_off")(hotJoin())
    }
    val joinOn = withConf(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8m",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8m") {
      time("skew_join_aqe_on")(hotJoin())
    }
    Seq(sumPlain, sumSalted, setPlain, setSalted, joinOff, joinOn)
  }
}
