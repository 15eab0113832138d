package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}

import graft.operators.Backtest
import graft.sources.SmallFile

/** Streaming ingestion: the collector path (reference
  * /root/reference/src/bfdl/collectors/klines_m1.py:31-210 polls an API and
  * appends month-partition staging parts) re-expressed as Structured
  * Streaming — readStream → watermark → dedup → windowed OHLCV aggregation →
  * hive-partitioned parquet sink. The same canonicalization (dedup on the
  * ingestion id) and bar semantics as the batch path, incremental by
  * construction instead of by checkpoint files.
  */
object Ingest {

  /** Minute-bar aggregation over a streaming tick frame. Late data beyond
    * the watermark is dropped; duplicate event ids within the watermark are
    * deduped before aggregation (exactly-once bars per (symbol, minute) in
    * append mode once the watermark passes). */
  def minuteBars(ticks: DataFrame, watermark: String = "10 minutes"): DataFrame =
    ticks
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("event_id")
      .groupBy(col("event_type").as("symbol"), window(col("ts"), "1 minute"))
      .agg(
        min_by(col("value"), col("event_id")).as("open"),
        max(col("value")).as("high"),
        min(col("value")).as("low"),
        max_by(col("value"), col("event_id")).as("close"),
        sum(col("value")).as("volume"),
        count(lit(1)).as("n_trades"))
      .select(col("symbol"), col("window.start").as("bar_ts"),
        unix_millis(col("window.start")).as("bar_ts_ms"),
        col("open"), col("high"), col("low"), col("close"),
        col("volume"), col("n_trades"))

  /** Append-mode sink into the partitioned lake layout (symbol=/year=/month=
    * like the batch writer). */
  def toLake(bars: DataFrame, root: String, checkpoint: String): DataStreamWriter[Row] =
    bars
      .withColumn("year", year(col("bar_ts")))
      .withColumn("month", month(col("bar_ts")))
      .writeStream
      .outputMode(OutputMode.Append)
      .format("parquet")
      .option("path", root)
      .option("checkpointLocation", checkpoint)
      .partitionBy("symbol", "year", "month")

  /** Streaming completeness-gated timeframe aggregation — the streaming
    * analogue of [[graft.operators.TfAggregate]] (aggregate_tf.py): n-step
    * buckets over a BAR stream, a bucket emitted (append mode, after the
    * watermark passes) only when all `n` constituent bars arrived. The
    * incremental-checkpoint machinery of the batch path is free here:
    * structured streaming's state store IS the checkpoint.
    *
    * Precondition: bars are unique per (symbol, bar_ts) — in a stream that
    * is the upstream `dropDuplicatesWithinWatermark` (see [[minuteBars]]);
    * streaming aggregation cannot countDistinct, so with dedup guaranteed
    * the count+span pair is an equivalent completeness gate. */
  def tfAggregate(bars: DataFrame, stepMs: Long, n: Int,
                  watermark: String = "10 minutes"): DataFrame =
    bars
      .withWatermark("bar_ts", watermark)
      .groupBy(col("symbol"),
        window(col("bar_ts"), s"${stepMs * n} milliseconds"))
      .agg(
        min_by(col("open"), col("bar_ts")).as("open"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        max_by(col("close"), col("bar_ts")).as("close"),
        sum(col("volume")).as("volume"),
        sum(col("n_trades")).as("n_trades"),
        count(lit(1)).as("_cnt"),
        (max(unix_millis(col("bar_ts"))) - min(unix_millis(col("bar_ts"))))
          .as("_span"))
      .where(col("_cnt") === n && col("_span") === (n - 1) * stepMs)
      .select(col("symbol"), unix_millis(col("window.start")).as("bucket_ms"),
        col("open"), col("high"), col("low"), col("close"),
        col("volume"), col("n_trades"))

  /** Streaming sessionization: the SAME session_window expression as the
    * batch [[graft.operators.Sessions]] operator, under a watermark — a
    * session emits (append mode) once the watermark passes its close. This
    * is the batch/stream portability the operator was designed for: one
    * definition of "session", two execution modes. */
  def sessionSummaries(events: DataFrame, gapMs: Long,
                       watermark: String = "10 minutes",
                       keyCol: String = "user_id", tsCol: String = "ts",
                       valueCol: String = "value"): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .groupBy(col(keyCol),
        session_window(col(tsCol), s"$gapMs milliseconds").as("_sw"))
      .agg(
        unix_millis(min(col(tsCol))).as("session_start_ms"),
        unix_millis(max(col(tsCol))).as("session_end_ms"),
        count(lit(1)).as("n_events"),
        sum(col(valueCol)).as("sum_value"))
      .select(col(keyCol), col("session_start_ms"), col("session_end_ms"),
        col("n_events"), col("sum_value"))

  /** Corpus-clean gating (quality score + language ID + token floor) as a
    * STATELESS map stage: pure per-row column algebra + filter, so the same
    * call runs on a batch frame and on a readStream frame unchanged (append
    * mode, no watermark, no state store) — the LLM pipeline's filter stages
    * are streaming-safe end-to-end. The batch contract query
    * (`corpus_clean`) and StreamingSpec's batch-equality test share this
    * exact code path. */
  def cleanDocs(docs: DataFrame, lang: String = "en", minQuality: Double = 0.5,
                minTokens: Int = 10, keepText: Boolean = false): DataFrame = {
    import graft.llm.TextAnalysis
    val gated = TextAnalysis.withLangId(TextAnalysis.withQuality(docs))
      .where(col("lang_pred") === lang && col("quality_score") >= minQuality &&
        col("n_tokens") >= minTokens)
    // keepText feeds downstream stages (chunking/packing) without a
    // re-join; the default keeps the original compact survivors schema
    if (keepText)
      gated.select(col("doc_id"), col("text"), col("n_tokens"),
        round(col("quality_score"), 6).as("quality_score"))
    else
      gated.select(col("doc_id"), col("n_tokens"),
        round(col("quality_score"), 6).as("quality_score"))
  }

  /** The curation capstone's STATELESS prefix as ONE streaming stage:
    * normalize → Gopher gate → Bloom decontamination probe → stateless
    * quality-classifier score — the per-document half of
    * `corpus_pipeline_v2/v3`, runnable on a live document stream. Pure
    * per-row column algebra end to end: no watermark, no state store, no
    * aggregation, so batch and stream run the SAME plan (StreamingSpec
    * pins equality). The benchmark side is static by nature (held-out
    * eval sets don't stream): its Bloom filter is built ONCE at plan
    * time — two bounded benchmark-side jobs — and rides into every
    * micro-batch as a broadcast literal expression
    * ([[graft.functions.BloomMightContain]]), the same no-join corpus
    * pass as [[graft.llm.Dedup.contaminationBloom]] but with the per-doc
    * flag fraction folded by an `aggregate` HOF instead of a groupBy, so
    * it stays append-mode legal. The cross-document stages (span/near-dup
    * dedup, the DSIR percentile cut) stay batch or go through
    * [[dedupDocs]]/`foreachBatch` by design — they need state a pure
    * append stream cannot hold. */
  def curateDocs(docs: DataFrame, benchmark: DataFrame,
                 intercept: Double, coefs: Array[Double],
                 n: Int = 8, fpp: Double = 0.001,
                 maxFlagFrac: Double = 0.3,
                 minQualityProb: Double = 0.5): DataFrame = {
    import graft.llm.{Dedup, TextAnalysis}
    import org.apache.spark.sql.GraftBridge
    val bg = benchmark
      .select(explode(Dedup.shingles(col("text"), n)).as("_g"))
      .select(xxhash64(col("_g")).as("_gh")).distinct()
    val bloomOpt =
      if (bg.isEmpty) None
      else Some(bg.stat.bloomFilter("_gh", math.max(bg.count(), 1L), fpp))
    val gated = TextAnalysis.gopherRules(
        docs.withColumn("norm_text", TextAnalysis.normalize(col("text"))),
        "norm_text")
      .where(col("pass_gopher") === 1)
    val probed = bloomOpt match {
      case Some(bloom) =>
        def hit(g: org.apache.spark.sql.Column) = GraftBridge.column(
          graft.functions.BloomMightContain(
            GraftBridge.expression(xxhash64(g)), bloom)).cast("int")
        gated
          .withColumn("_gs", Dedup.shingles(col("norm_text"), n))
          .withColumn("flag_frac", round(
            aggregate(col("_gs"), lit(0), (acc, g) => acc + hit(g))
              .cast("double") / greatest(size(col("_gs")), lit(1)), 6))
          .drop("_gs")
      case None => gated.withColumn("flag_frac", lit(0.0))
    }
    graft.ml.QualityClassifier.scoreStateless(
        probed.where(col("flag_frac") < maxFlagFrac),
        intercept, coefs, textCol = "norm_text")
      .where(col("quality_prob") >= minQualityProb)
      .select(col("doc_id"), col("norm_text"), col("n_words"),
        col("flag_frac"), round(col("quality_prob"), 6).as("quality_prob"))
  }

  /** Streaming exact dedup of a document stream by content FINGERPRINT
    * (case-folded, whitespace-collapsed md5 — the same canonical key as
    * the batch [[graft.llm.Dedup.exactSurvivors]]): within the watermark,
    * only the first arrival of each canonical form survives, so reworded
    * whitespace/case variants dedup too, not just byte-identical replays
    * (which is all the event-id dedup of [[minuteBars]] can see). State is
    * one fingerprint per distinct doc inside the watermark window — the
    * watermark bounds it, exactly like the reference collector's staging
    * dedup bounds its replay window. */
  def dedupDocs(docs: DataFrame, tsCol: String = "ts",
                watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("_fp", graft.llm.TextAnalysis.fingerprint(col("text")))
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark("_fp")
      .drop("_fp")

  /** Cross-batch state of one `foreachBatch` loop, kept as a
    * delta-compacted directory `<root>/<name>`: one `batch_id=N` delta per
    * batch plus, once compaction has run, a versioned base
    * `compacted/upto=K`. `cols` is the projection every read takes,
    * `empty` the zero-row frame that stands in before the first delta, and
    * `fold` the merge compaction applies to base ∪ deltas. */
  private final case class DeltaState(name: String, cols: Seq[String],
                                      empty: () => DataFrame,
                                      fold: DataFrame => DataFrame = identity)

  /** The per-batch directory handle [[commitBatch]] lends its body: every
    * name resolves to `<root>/<name>/batch_id=N`. Overwriting the delta of
    * a [[DeltaState]] is what makes the protocol compact that state. */
  private final class BatchDir(spark: SparkSession, val fs: FileSystem,
                               root: String, commitId: String,
                               batchId: Long) {
    val deltas = scala.collection.mutable.ArrayBuffer.empty[DeltaState]

    private def path(name: String) =
      new Path(root, s"$name/batch_id=$batchId").toString

    def overwrite(df: DataFrame, name: String): Unit =
      df.write.mode(SaveMode.Overwrite).parquet(path(name))

    def overwrite(df: DataFrame, state: DeltaState): Unit = {
      overwrite(df, state.name)
      deltas += state
    }

    def read(name: String): DataFrame = spark.read.parquet(path(name))

    /** `state` as committed history: the batch's own delta stays out until
      * this attempt has rewritten it. */
    def snapshot(state: DeltaState): DataFrame =
      deltaSnapshot(spark, root, commitId, state,
        excludeBatch = if (deltas.contains(state)) None else Some(batchId))
  }

  /** The commit protocol of every cross-batch loop below. `foreachBatch`
    * delivers at least once — a restarted query re-runs the last batch its
    * checkpoint had not recorded as done — and four rules make the state
    * exactly-once:
    *  - Skip: a batch id whose empty commit marker exists returns false
    *    before any read, listing or write.
    *  - Own slices: `body` writes through its [[BatchDir]], which
    *    OVERWRITES `<root>/<name>/batch_id=N`, so a replay rewrites its
    *    slices in place. A flat append would leave duplicate rows behind,
    *    and the summed folds (gram counts, URL `n_copies`) would
    *    double-count them in every later batch. The two writes outside
    *    the handle are the semantic loop's codebook, guarded by its own
    *    marker, and [[writeShardBatch]]'s append.
    *  - Pre-batch view: `snapshot` leaves out the batch's own delta until
    *    this attempt has rewritten it, so a replay after a crash between
    *    the body's writes and the marker recomputes against exactly the
    *    pre-batch state and reproduces every output byte for byte.
    *  - Marker, then compaction: the marker lands after `body` returns, and
    *    [[maybeCompactState]] runs after it for each state whose delta the
    *    batch wrote, so a batch that can still replay is never folded into
    *    a committed base.
    * `commitId` namespaces the markers per logical query: batch ids restart
    * at 0 for every new checkpoint location, so pair it 1:1 with the
    * query's checkpointLocation. StreamingSpec pins, for every loop, that a
    * committed id writes nothing and that a crash replay reproduces the
    * state tree. */
  private def commitBatch(batch: DataFrame, batchId: Long, root: String,
                          commitId: String, compactEvery: Int)(
      body: BatchDir => Unit): Boolean = {
    val spark = batch.sparkSession
    val marker = new Path(root, s"_committed_batches/$commitId/$batchId")
    val fs = marker.getFileSystem(spark.sessionState.newHadoopConf())
    if (fs.exists(marker)) return false
    val dir = new BatchDir(spark, fs, root, commitId, batchId)
    body(dir)
    SmallFile.write(fs, marker, Array.emptyByteArray)
    dir.deltas.foreach(
      maybeCompactState(spark, root, commitId, batchId, compactEvery, _))
    true
  }

  /** `foreachBatch` in append mode, handing `f` each micro-batch and id. */
  private def eachBatch(docs: DataFrame)(
      f: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    docs.writeStream.outputMode(OutputMode.Append)
      .foreachBatch { (batch: Dataset[Row], batchId: Long) =>
        f(batch.toDF(), batchId)
      }

  /** Streaming incremental NEAR-dup dedup — the production growing-corpus
    * loop around [[graft.llm.MinHashLsh.nearDupIncremental]]: each
    * micro-batch dedups against the accumulated signature/shingle-hash
    * index at `indexRoot/index`, stores its accepted docs' index rows
    * ([[graft.llm.MinHashLsh.buildIndex]]) back, and logs every decision
    * to `indexRoot/decisions`. `foreachBatch` because the index is
    * cross-batch state no append stream can hold (the same reasoning as
    * [[shardWriter]]'s packing); within a batch the near-dup clustering
    * elects min-id survivors exactly as the batch operator does. Delivery
    * is [[commitBatch]]'s; a foreign commitId on a compacted index fails
    * loudly. (A re-ingest of already-accepted docs under a genuinely NEW
    * batch id still self-heals: they match their own index rows at
    * Jaccard 1.0 and come back `dup_of_index` with `match_id == doc_id` —
    * the replay-idempotency property LlmSpec pins for the batch API.) */
  def nearDupWriter(docs: DataFrame, indexRoot: String, threshold: Double,
                    idCol: String = "doc_id", textCol: String = "text",
                    k: Int = 32, bands: Int = 8, shingleN: Int = 3,
                    seed: Int = 42, maxBucket: Option[Int] = None,
                    commitId: String = "stream",
                    compactEvery: Int = 0): DataStreamWriter[Row] =
    eachBatch(docs)(nearDupBatch(_, _, indexRoot, threshold, idCol, textCol,
      k, bands, shingleN, seed, maxBucket, commitId, compactEvery))

  /** One micro-batch of [[nearDupWriter]] under [[commitBatch]]: dedup
    * against the index → `decisions` → the accepted docs' `index` delta.
    * Fold: identity — each accepted doc's signature lives in exactly one
    * delta, so compaction only bounds the file count. The pre-batch view
    * matters here: replayed signature rows would inflate maxBucket's
    * combined band-bucket population for every later batch. */
  def nearDupBatch(batch: DataFrame, batchId: Long, indexRoot: String,
                   threshold: Double, idCol: String = "doc_id",
                   textCol: String = "text", k: Int = 32, bands: Int = 8,
                   shingleN: Int = 3, seed: Int = 42,
                   maxBucket: Option[Int] = None,
                   commitId: String = "stream",
                   compactEvery: Int = 0): Boolean = {
    import graft.llm.MinHashLsh
    val index = DeltaState("index", Seq(idCol, "minhash_sig",
      "shingle_hashes"), () => MinHashLsh.buildIndex(batch.limit(0), idCol,
      textCol, k, shingleN, seed))
    commitBatch(batch, batchId, indexRoot, commitId, compactEvery) { dir =>
      // an eagerly-materialized local checkpoint whose internal pins are
      // already released, so both writes read settled blocks; its own
      // blocks are the batch's only cache, released whatever happens
      val decisions = MinHashLsh.nearDupIncremental(batch,
        dir.snapshot(index), threshold, idCol, textCol, k, bands, shingleN,
        seed, maxBucket)
      try {
        dir.overwrite(decisions, "decisions")
        val acceptedIds = dir.read("decisions")
          .where(col("status") === "accepted").select(col(idCol))
        dir.overwrite(MinHashLsh.buildIndex(batch.join(acceptedIds,
          Seq(idCol)), idCol, textCol, k, shingleN, seed), index)
      } finally {
        // releasePinned, not Dataset.unpersist: the checkpoint blocks are
        // RDD-persisted directly (LogicalRDD leaf), which CacheManager-based
        // unpersist does not touch
        org.apache.spark.sql.GraftBridge.releasePinned(decisions)
      }
    }
  }

  /** Streaming perceptual image-dedup loop — the production shape of
    * [[graft.llm.Multimodal.perceptualNearDupIncremental]] for a
    * continuous multimodal crawl: each micro-batch dedups its payloads
    * against the accumulated dHash index at `indexRoot/index` (8
    * bytes/image — historical payloads are never re-read), writes its
    * decisions under `decisions/`, and stores the ACCEPTED images' hashes
    * ([[graft.llm.Multimodal.buildDHashIndex]]) back to the index.
    * `foreachBatch` because the index is cross-batch state (same reasoning
    * as [[nearDupWriter]]); delivery is [[commitBatch]]'s. */
  def perceptualDedupWriter(docs: DataFrame, indexRoot: String,
                            maxHamming: Int = 10, idCol: String = "doc_id",
                            payloadCol: String = "payload",
                            maxBucket: Option[Int] = None,
                            commitId: String = "stream",
                            compactEvery: Int = 0): DataStreamWriter[Row] =
    eachBatch(docs)(perceptualDedupBatch(_, _, indexRoot, maxHamming, idCol,
      payloadCol, maxBucket, commitId, compactEvery))

  /** One micro-batch of [[perceptualDedupWriter]] under [[commitBatch]]:
    * dedup against the index → `decisions` → the accepted hashes' `index`
    * delta. Fold: identity — each accepted doc's dHash lives in exactly
    * one delta, so compaction only bounds the file count. The pre-batch
    * view matters here: replayed hashes would inflate maxBucket's
    * per-(band, chunk) population counts and flag the whole replayed batch
    * dup_of_index. */
  def perceptualDedupBatch(batch: DataFrame, batchId: Long,
                           indexRoot: String, maxHamming: Int = 10,
                           idCol: String = "doc_id",
                           payloadCol: String = "payload",
                           maxBucket: Option[Int] = None,
                           commitId: String = "stream",
                           compactEvery: Int = 0): Boolean = {
    import graft.llm.Multimodal
    val index = DeltaState("index", Seq(idCol, "dhash"),
      () => Multimodal.buildDHashIndex(batch.limit(0), idCol, payloadCol))
    commitBatch(batch, batchId, indexRoot, commitId, compactEvery) { dir =>
      dir.overwrite(Multimodal.perceptualNearDupIncremental(batch,
        dir.snapshot(index), maxHamming, idCol, payloadCol, maxBucket),
        "decisions")
      val acceptedIds = dir.read("decisions")
        .where(col("status") === "accepted").select(col(idCol))
      dir.overwrite(Multimodal.buildDHashIndex(batch.join(acceptedIds,
        Seq(idCol)), idCol, payloadCol), index)
    }
  }

  /** Streaming incremental SEMANTIC dedup — the production loop around
    * [[graft.llm.Similarity.semanticDedupIncremental]] (growing-corpus
    * SemDeDup): the FIRST non-empty batch bootstraps the frozen codebook
    * ([[graft.llm.Similarity.trainCodebook]], written once to
    * `indexRoot/codebook` behind its own `_codebook_mark/<commitId>` —
    * deterministic, so a crash-window replay retrains the identical
    * codebook from the same replayed batch), and every batch then assigns
    * under it, dedups against the accumulated kept-vector index at
    * `indexRoot/index`, writes decisions to `decisions/`, and stores its
    * accepted vectors back to the index. `foreachBatch` because the index
    * and codebook are cross-batch state (the [[nearDupWriter]] reasoning);
    * delivery is [[commitBatch]]'s. */
  def semanticDedupWriter(docs: DataFrame, indexRoot: String, k: Int = 8,
                          tau: Double = 0.95, iters: Int = 0,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding",
                          maxCell: Option[Int] = None,
                          commitId: String = "stream",
                          compactEvery: Int = 0): DataStreamWriter[Row] =
    eachBatch(docs)(semanticDedupBatch(_, _, indexRoot, k, tau, iters, idCol,
      vecCol, maxCell, commitId, compactEvery))

  /** One micro-batch of [[semanticDedupWriter]] under [[commitBatch]]:
    * load (or bootstrap) the frozen codebook → dedup against the index →
    * `decisions` → the accepted vectors' `index` delta. Fold: identity —
    * each accepted vector lives in exactly one delta. */
  def semanticDedupBatch(batch: DataFrame, batchId: Long, indexRoot: String,
                         k: Int = 8, tau: Double = 0.95, iters: Int = 0,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding",
                         maxCell: Option[Int] = None,
                         commitId: String = "stream",
                         compactEvery: Int = 0): Boolean = {
    import graft.llm.Similarity
    val spark = batch.sparkSession
    val cbPath = new Path(indexRoot, "codebook")
    val cbMark = new Path(indexRoot, s"_codebook_mark/$commitId")
    val index = DeltaState("index", Seq(idCol, "cluster", vecCol),
      () => batch.limit(0).select(col(idCol),
        lit(0).cast("int").as("cluster"),
        col(vecCol).cast("array<double>").as(vecCol)))
    commitBatch(batch, batchId, indexRoot, commitId, compactEvery) { dir =>
      val fs = dir.fs
      // frozen codebook: bootstrap from the first NON-EMPTY batch, then
      // load forever. An empty batch before bootstrap (a stream can open
      // with one) commits as a no-op — it carries no vectors to decide and
      // must not crash the codebook trainer or freeze a vacuous codebook —
      // but still writes a schema-only decisions slice, so consumers
      // enumerating decisions by committed batch ids never hit a missing
      // parquet path
      if (!fs.exists(cbMark) && batch.isEmpty) {
        assertCodebookOwned(fs, indexRoot, commitId, cbPath)
        dir.overwrite(batch.limit(0).select(col(idCol),
          lit(0).cast("int").as("cluster"),
          lit(null).cast("string").as("status"),
          col(idCol).as("match_id"),
          lit(null).cast("double").as("sim")), "decisions")
      } else {
        val centers: Array[Array[Double]] =
          if (fs.exists(cbMark))
            spark.read.parquet(cbPath.toString).orderBy(col("cell"))
              .collect().map(_.getSeq[Double](1).toArray)
          else {
            // the codebook is shared per indexRoot but marks are
            // commitId-scoped: retraining over a FOREIGN commitId's
            // codebook would silently OVERWRITE it — fail loudly instead
            assertCodebookOwned(fs, indexRoot, commitId, cbPath)
            val c = Similarity.trainCodebook(batch, k, iters, idCol, vecCol)
            import spark.implicits._
            c.zipWithIndex.toSeq.map { case (cv, i) => (i, cv.toSeq) }
              .toDF("cell", "cv")
              .coalesce(1)
              .write.mode(SaveMode.Overwrite)
              .parquet(cbPath.toString)
            SmallFile.write(fs, cbMark, Array.emptyByteArray)
            c
          }
        dir.overwrite(Similarity.semanticDedupIncremental(batch,
          dir.snapshot(index), centers, tau, idCol, vecCol, maxCell),
          "decisions")
        val accepted = dir.read("decisions")
          .where(col("status") === "accepted")
          .select(col(idCol), col("cluster"))
        dir.overwrite(batch.select(col(idCol),
            col(vecCol).cast("array<double>").as(vecCol))
          .join(accepted, Seq(idCol))
          .select(col(idCol), col("cluster"), col(vecCol)), index)
      }
    }
  }

  /** Streaming incremental repeated-gram TRIM — the production loop
    * around [[graft.llm.Dedup.repeatedNgramTrimIncremental]], completing
    * the batch+streaming pairing the exact and near-dup incremental
    * shapes already have: each micro-batch trims against the accumulated
    * gram-count index at `indexRoot/gram_index`, writes its trimmed rows
    * to `indexRoot/trimmed`, and stores its OWN gram counts
    * ([[graft.llm.Dedup.buildGramIndex]]) back to the index so later
    * batches see this batch's repetition. `foreachBatch` because the
    * index is cross-batch state (same reasoning as [[nearDupWriter]]);
    * delivery is [[commitBatch]]'s. */
  def repeatedTrimWriter(docs: DataFrame, indexRoot: String, n: Int = 10,
                         minCount: Int = 2, idCol: String = "doc_id",
                         textCol: String = "text",
                         commitId: String = "stream",
                         compactEvery: Int = 0): DataStreamWriter[Row] =
    eachBatch(docs)(repeatedTrimBatch(_, _, indexRoot, n, minCount, idCol,
      textCol, commitId, compactEvery))

  /** One micro-batch of [[repeatedTrimWriter]] under [[commitBatch]]: trim
    * against the index → `trimmed` → this batch's `gram_index` delta.
    * Fold: per-(gram_hash, gram) count SUMS. The sum is not idempotent; it
    * is safe because [[deltaSnapshot]] reads only deltas above the newest
    * committed base, and because the pre-batch view keeps a replay from
    * counting the batch's own grams (which would trim unique text). */
  def repeatedTrimBatch(batch: DataFrame, batchId: Long, indexRoot: String,
                        n: Int = 10, minCount: Int = 2,
                        idCol: String = "doc_id", textCol: String = "text",
                        commitId: String = "stream",
                        compactEvery: Int = 0): Boolean = {
    import graft.llm.Dedup
    val index = DeltaState("gram_index",
      Seq("gram_hash", "gram", "n_occurrences"),
      () => Dedup.buildGramIndex(batch.limit(0), n, idCol, textCol),
      _.groupBy(col("gram_hash"), col("gram"))
        .agg(sum(col("n_occurrences")).as("n_occurrences")))
    // the trimmed write is the ONLY consumer of the old-index plan and it
    // runs before the delta lands, so no checkpoint pin is needed
    commitBatch(batch, batchId, indexRoot, commitId, compactEvery) { dir =>
      dir.overwrite(Dedup.repeatedNgramTrimIncremental(batch,
        dir.snapshot(index), n, minCount, idCol, textCol), "trimmed")
      dir.overwrite(Dedup.buildGramIndex(batch, n, idCol, textCol), index)
    }
  }

  /** Streaming incremental span-grain (paragraph) dedup — the production
    * loop around [[graft.llm.Dedup.spanDedupIncremental]] (Dolma's
    * bloom-paragraph pass as a growing-corpus stream): each micro-batch
    * keeps only spans that are (a) not in the accumulated span-hash index
    * at `indexRoot/span_index` and (b) first-occurrence within the batch,
    * writes its rebuilt docs to `indexRoot/deduped`, and stores its own
    * span hashes back to the index so later batches see this batch's
    * paragraphs. `foreachBatch` because the index is cross-batch state
    * (same reasoning as [[nearDupWriter]]); per-batch cost is O(batch)
    * plus the Bloom build over the index — which production replaces with
    * a PERSISTED mergeable filter unioned per batch instead of rebuilt
    * (the operator doc spells out the swap). Delivery is
    * [[commitBatch]]'s. */
  def spanDedupWriter(docs: DataFrame, indexRoot: String,
                      fpp: Double = 0.01, idCol: String = "doc_id",
                      textCol: String = "text",
                      commitId: String = "stream",
                      compactEvery: Int = 0): DataStreamWriter[Row] =
    eachBatch(docs)(spanDedupBatch(_, _, indexRoot, fpp, idCol, textCol,
      commitId, compactEvery))

  /** One micro-batch of [[spanDedupWriter]] under [[commitBatch]]: dedup
    * against the index → `deduped` → this batch's `span_index` delta.
    * Fold: `distinct()` — a span seen by several batches has one hash row
    * per batch, and membership semantics make the dedup exact either way.
    * The pre-batch view matters here: the batch's own hashes read as
    * history would wipe every span on replay. */
  def spanDedupBatch(batch: DataFrame, batchId: Long, indexRoot: String,
                     fpp: Double = 0.01, idCol: String = "doc_id",
                     textCol: String = "text",
                     commitId: String = "stream",
                     compactEvery: Int = 0): Boolean = {
    import graft.llm.Dedup
    val index = DeltaState("span_index", Seq("span_hash"),
      () => Dedup.spanHashes(batch.limit(0), textCol), _.distinct())
    // the deduped write (Bloom build included) is the ONLY consumer of the
    // old-index plan and runs before the delta lands: no checkpoint pin
    commitBatch(batch, batchId, indexRoot, commitId, compactEvery) { dir =>
      dir.overwrite(Dedup.spanDedupIncremental(batch, dir.snapshot(index),
        fpp, idCol, textCol), "deduped")
      dir.overwrite(Dedup.spanHashes(batch, textCol), index)
    }
  }

  /** Streaming URL-grain keep-best dedup loop — the production shape of
    * [[graft.llm.Dedup.urlKeepBestIncremental]] for a continuous crawl:
    * each micro-batch's decisions (new/improved/kept per touched address)
    * land under `stateRoot/decisions/`, and the batch's OWN within-batch
    * election is stored as a per-batch index delta under
    * `stateRoot/state/`. The queryable index ([[urlIndexSnapshot]]) is
    * the commutative-monoid fold of all deltas
    * ([[graft.llm.Dedup.mergeUrlIndex]]) — identical to one full-pass
    * [[graft.llm.Dedup.urlKeepBest]] over everything ingested, which is
    * what makes this loop exact rather than approximate. Per-batch cost
    * is O(batch) + an index-grain fold — history text is never rescanned.
    * Delivery is [[commitBatch]]'s; `compactEvery` > 0 bounds the fold
    * input by |URL index| + compactEvery deltas (see
    * [[maybeCompactState]]). StreamingSpec pins compacted ≡ uncompacted ≡
    * one full-pass [[graft.llm.Dedup.urlKeepBest]]. */
  def urlDedupWriter(docs: DataFrame, stateRoot: String,
                     urlCol: String = "url", qualityCol: String = "quality",
                     idCol: String = "doc_id",
                     commitId: String = "stream",
                     compactEvery: Int = 0): DataStreamWriter[Row] =
    eachBatch(docs)(urlDedupBatch(_, _, stateRoot, urlCol, qualityCol, idCol,
      commitId, compactEvery))

  private val urlIndexCols = Seq("canonical_url", "n_copies", "keep_id",
    "keep_quality")

  /** The URL index as a [[DeltaState]]: its fold is the index merge. */
  private def urlState(spark: SparkSession) = DeltaState("state",
    urlIndexCols, () => emptyUrlIndex(spark), graft.llm.Dedup.mergeUrlIndex)

  /** Newest committed compacted-base id under `stateRoot`, or -1. */
  private def committedBaseId(fs: FileSystem, stateRoot: String,
                              commitId: String): Long = {
    val marks = new Path(stateRoot, s"_compaction_marks/$commitId")
    if (!fs.exists(marks)) -1L
    else fs.listStatus(marks).map(_.getPath.getName.toLong)
      .foldLeft(-1L)(math.max)
  }

  /** Fail loudly on a commitId/compaction-state mismatch: compaction
    * markers are commitId-scoped but `compacted/upto=K` bases are not,
    * so reading an already-compacted state directory under a DIFFERENT
    * commitId sees baseK = -1 and would silently fold only the surviving
    * deltas — omitting all compacted history (the folded deltas were
    * deleted). A compacted base invisible to `commitId` (K > baseK) but
    * COMMITTED under another commitId is exactly that mismatch; an
    * unmarked base is legitimate crash residue (base written, marker
    * missing — its deltas all survive) and stays readable. */
  private def assertCompactionVisible(fs: FileSystem, stateRoot: String,
                                      commitId: String, baseK: Long): Unit = {
    val compacted = new Path(stateRoot, "compacted")
    if (!fs.exists(compacted)) return
    val invisible = fs.listStatus(compacted)
      .map(_.getPath.getName).filter(_.startsWith("upto="))
      .map(_.stripPrefix("upto=").toLong).filter(_ > baseK)
    if (invisible.isEmpty) return
    val marksRoot = new Path(stateRoot, "_compaction_marks")
    val foreign =
      if (!fs.exists(marksRoot)) Array.empty[(String, Long)]
      else for {
        cid <- fs.listStatus(marksRoot).map(_.getPath.getName)
          if cid != commitId
        k <- fs.listStatus(new Path(marksRoot, cid))
          .map(_.getPath.getName.toLong) if invisible.contains(k)
      } yield (cid, k)
    if (foreign.nonEmpty) throw new IllegalStateException(
      s"Delta-compacted state at $stateRoot was compacted under commitId(s) " +
        foreign.map(_._1).distinct.mkString("[", ", ", "]") +
        s" (bases upto=${foreign.map(_._2).distinct.sorted.mkString(",")})" +
        s" but is being read with commitId '$commitId', which cannot see " +
        "them — the fold would silently omit all compacted history " +
        "(its deltas were deleted). Use the writer's commitId.")
  }

  /** Fail loudly when a frozen codebook already exists at `cbPath` but
    * carries no `_codebook_mark/<commitId>`: [[semanticDedupBatch]] is
    * about to (re)train and OVERWRITE it, and a codebook written under a
    * DIFFERENT commitId is exactly the silent-destruction hazard — the
    * stored index clusters were assigned under the old codebook, so new
    * assignments disagree and every cell-confined probe silently misses
    * duplicates. A codebook with NO mark under ANY commitId stays
    * overwritable: that is the writer's own crash residue (codebook
    * written, mark not yet — the bootstrap writes codebook → mark →
    * index, so nothing downstream saw it), and the documented
    * crash-window replay retrains the identical codebook from the same
    * replayed batch; refusing would wedge the stream on its own
    * restart. */
  private def assertCodebookOwned(fs: FileSystem, indexRoot: String,
                                  commitId: String, cbPath: Path): Unit = {
    if (!fs.exists(cbPath)) return
    val marksRoot = new Path(indexRoot, "_codebook_mark")
    val foreign =
      if (!fs.exists(marksRoot)) Array.empty[String]
      else fs.listStatus(marksRoot).map(_.getPath.getName)
        .filter(_ != commitId)
    if (foreign.nonEmpty) throw new IllegalStateException(
      s"Frozen codebook at $cbPath was trained under commitId(s) " +
        foreign.mkString("[", ", ", "]") + s" but commitId '$commitId' " +
        "is about to retrain and overwrite it — the stored index clusters " +
        "would silently disagree with new assignments and cell-confined " +
        "probes would miss duplicates. Use the writer's commitId.")
  }

  /** Queryable snapshot of a delta-compacted state directory: newest
    * COMMITTED base (`compacted/upto=K`) ∪ deltas with `batch_id > K`
    * (minus `excludeBatch`, the current batch's own replay residue),
    * projected to the state's columns. Correctness is READ-side: leftover
    * ≤K deltas from a crashed deletion and unmarked bases are excluded by
    * the >K filter / marker check, so even NON-idempotent folds (summed
    * gram counts, n_copies) can never double-count; partition pruning
    * keeps the scan to exactly the live delta dirs. */
  private def deltaSnapshot(spark: SparkSession, stateRoot: String,
                            commitId: String, state: DeltaState,
                            excludeBatch: Option[Long]): DataFrame = {
    val cols = state.cols.map(col)
    val statePath = new Path(stateRoot, state.name)
    val fs = statePath.getFileSystem(spark.sessionState.newHadoopConf())
    val baseK = committedBaseId(fs, stateRoot, commitId)
    assertCompactionVisible(fs, stateRoot, commitId, baseK)
    // a fully-compacted state dir can be EMPTY (every delta deleted) —
    // parquet schema inference fails on it, so gate on dir contents
    val hasDeltas = fs.exists(statePath) &&
      fs.listStatus(statePath).exists(_.getPath.getName.startsWith("batch_id="))
    val deltas =
      if (hasDeltas) {
        val d0 = spark.read.parquet(statePath.toString)
          .where(col("batch_id") > baseK)
        excludeBatch.fold(d0)(b => d0.where(col("batch_id") =!= b))
          .select(cols: _*)
      } else state.empty().select(cols: _*)
    if (baseK >= 0)
      spark.read.parquet(new Path(stateRoot, s"compacted/upto=$baseK").toString)
        .select(cols: _*)
        .unionByName(deltas)
    else deltas
  }

  /** Fold deltas ≤ `batchId` into a new VERSIONED committed base
    * `compacted/upto=batchId` (its marker under
    * `_compaction_marks/<commitId>/`) once `compactEvery` live deltas
    * accumulate — bounding every later [[deltaSnapshot]]'s fold input by
    * |state| + compactEvery deltas and the state dir's file count by
    * compactEvery + 1, instead of growing with stream age forever.
    * Crash-safe by write → mark → delete ordering plus the snapshot's
    * read-side >K discipline: a crash between base write, marker, and
    * deletions can only leave IGNORED leftovers, never a double-count.
    * Reclamation re-lists and deletes EVERY delta at or below the new base
    * (crash leftovers below the old base included), then the superseded
    * base and its marker. */
  private def maybeCompactState(spark: SparkSession, stateRoot: String,
                                commitId: String, batchId: Long,
                                compactEvery: Int, state: DeltaState): Unit = {
    if (compactEvery <= 0) return
    val cols = state.cols.map(col)
    val statePath = new Path(stateRoot, state.name)
    val fs = statePath.getFileSystem(spark.sessionState.newHadoopConf())
    val baseK = committedBaseId(fs, stateRoot, commitId)
    def basePath(k: Long) = new Path(stateRoot, s"compacted/upto=$k")
    val deltaIds =
      if (!fs.exists(statePath)) Array.empty[Long]
      else fs.listStatus(statePath)
        .map(_.getPath.getName).filter(_.startsWith("batch_id="))
        .map(_.stripPrefix("batch_id=").toLong)
    if (deltaIds.count(k => k > baseK && k <= batchId) < compactEvery) return
    val baseRows =
      if (baseK >= 0) spark.read.parquet(basePath(baseK).toString)
        .select(cols: _*)
      else state.empty().select(cols: _*)
    val folded = state.fold(baseRows.unionByName(
      spark.read.parquet(statePath.toString)
        .where(col("batch_id") > baseK && col("batch_id") <= batchId)
        .select(cols: _*)))
    folded.write.mode(SaveMode.Overwrite).parquet(basePath(batchId).toString)
    SmallFile.write(fs, new Path(stateRoot,
      s"_compaction_marks/$commitId/$batchId"), Array.emptyByteArray)
    // space reclamation only — readers never look below the marker
    deltaIds.filter(_ <= batchId).foreach { k =>
      fs.delete(new Path(statePath, s"batch_id=$k"), true)
    }
    if (baseK >= 0) {
      fs.delete(basePath(baseK), true)
      fs.delete(new Path(stateRoot, s"_compaction_marks/$commitId/$baseK"),
        false)
    }
  }

  /** The queryable URL index of a [[urlDedupWriter]] state directory:
    * the monoid fold of the newest COMMITTED compacted base plus every
    * newer delta — exactly one full-pass
    * [[graft.llm.Dedup.urlKeepBest]] over everything ingested,
    * whatever the compaction state (StreamingSpec pins compacted ≡
    * uncompacted ≡ full pass). */
  def urlIndexSnapshot(spark: SparkSession, stateRoot: String,
                       commitId: String = "stream"): DataFrame =
    graft.llm.Dedup.mergeUrlIndex(deltaSnapshot(spark, stateRoot, commitId,
      urlState(spark), excludeBatch = None))

  /** Zero-row frame with the URL-index schema (first-batch bootstrap). */
  private def emptyUrlIndex(spark: SparkSession): DataFrame = {
    import org.apache.spark.sql.types._
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row],
      StructType(Seq(
        StructField("canonical_url", StringType),
        StructField("n_copies", LongType),
        StructField("keep_id", LongType),
        StructField("keep_quality", DoubleType))))
  }

  /** One micro-batch of [[urlDedupWriter]] under [[commitBatch]]: fold the
    * prior index → incremental `decisions` → the batch's own election as
    * its `state` delta. Fold: [[graft.llm.Dedup.mergeUrlIndex]], whose
    * `n_copies` sum is not idempotent — safe because [[deltaSnapshot]]
    * reads only deltas above the newest committed base and the pre-batch
    * view excludes the batch's own delta. */
  def urlDedupBatch(batch: DataFrame, batchId: Long, stateRoot: String,
                    urlCol: String = "url", qualityCol: String = "quality",
                    idCol: String = "doc_id",
                    commitId: String = "stream",
                    compactEvery: Int = 0): Boolean = {
    import graft.llm.Dedup
    val state = urlState(batch.sparkSession)
    commitBatch(batch, batchId, stateRoot, commitId, compactEvery) { dir =>
      dir.overwrite(Dedup.urlKeepBestIncremental(batch,
        Dedup.mergeUrlIndex(dir.snapshot(state)), col(urlCol),
        col(qualityCol), idCol), "decisions")
      dir.overwrite(Dedup.urlKeepBest(batch, col(urlCol), col(qualityCol),
        idCol).select(urlIndexCols.map(col): _*), state)
    }
  }

  /** Streaming cross-source overlap DATA CARD — the production loop
    * around [[graft.llm.Dedup.sourceOverlapState]]: each micro-batch
    * folds to its own per-source (MinHash signature, HLL) state under
    * `stateRoot/state/`, and the refreshed card
    * ([[graft.llm.Dedup.overlapFromState]] over the merge of ALL stored
    * batch states) lands under `stateRoot/card/`. `foreachBatch` because
    * the card is cross-batch state (same reasoning as [[nearDupWriter]]);
    * per-batch cost is O(batch) + a merge over |sources|·batches tiny
    * state rows — history is never rescanned. Delivery is
    * [[commitBatch]]'s; StreamingSpec pins stream-state ≡ one-shot
    * full-pass state bit-identically. */
  def overlapCardWriter(docs: DataFrame, stateRoot: String, k: Int = 128,
                        srcCol: String = "source", textCol: String = "text",
                        commitId: String = "stream",
                        compactEvery: Int = 0): DataStreamWriter[Row] =
    eachBatch(docs)(overlapCardBatch(_, _, stateRoot, k, srcCol, textCol,
      commitId, compactEvery))

  /** One micro-batch of [[overlapCardWriter]] under [[commitBatch]]: the
    * batch's per-source `state` delta FIRST, then the merge of every
    * stored state (its own delta included) → `card`. Fold:
    * [[graft.llm.Dedup.mergeOverlapStates]] — elementwise slot-min and
    * HLL-union are associative and idempotent, so a compacted base merged
    * with later deltas is bit-identical to merging every raw per-batch
    * state (StreamingSpec pins compacted ≡ uncompacted card and the
    * file-count bound), and a replay can neither grow the state nor move
    * the card. */
  def overlapCardBatch(batch: DataFrame, batchId: Long, stateRoot: String,
                       k: Int = 128, srcCol: String = "source",
                       textCol: String = "text",
                       commitId: String = "stream",
                       compactEvery: Int = 0): Boolean = {
    import graft.llm.Dedup
    val state = DeltaState("state", overlapStateCols,
      () => Dedup.sourceOverlapState(batch.limit(0), k, srcCol, textCol),
      Dedup.mergeOverlapStates(_))
    commitBatch(batch, batchId, stateRoot, commitId, compactEvery) { dir =>
      dir.overwrite(Dedup.sourceOverlapState(batch, k, srcCol, textCol),
        state)
      dir.overwrite(Dedup.overlapFromState(Dedup.mergeOverlapStates(
        dir.snapshot(state))), "card")
    }
  }

  private val overlapStateCols = Seq("_src", "_sig", "_hll")

  /** Streaming serving of the relation-model DSIR scorer
    * ([[graft.llm.Selection.scoreWithRelation]]): train the model on
    * yesterday's lake ([[graft.llm.Selection.exportModelRelation]]), score
    * today's document stream per micro-batch under `foreachBatch`. The
    * per-doc sum is an aggregation, which append-mode streaming cannot run
    * unbounded — but each document arrives exactly once in exactly one
    * micro-batch, so per-BATCH aggregation already yields the per-doc
    * totals; `foreachBatch` is the standard shape for that (same pattern
    * as [[shardWriter]]). The model stays a static relation: broadcast by
    * AQE when small, shuffle-joined when web-scale — the serving path that
    * `typedLit`-based [[graft.llm.Selection.scoreStateless]] cannot take.
    */
  def scoreDocsStream(docs: DataFrame, model: DataFrame, oovWeight: Double,
                      idCol: String = "doc_id", textCol: String = "text")(
      sink: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    eachBatch(docs)((batch, batchId) => sink(graft.llm.Selection
      .scoreWithRelation(batch, model, oovWeight, idCol, textCol), batchId))

  /** Streaming egress into the training-shard lake layout: every
    * micro-batch is packed ([[graft.llm.TextAnalysis.packShards]]) and
    * appended through the SAME physical writer as the batch path
    * ([[graft.sources.Lake.writeShards]] with `SaveMode.Append`), so the
    * on-disk contract — `shard=N/` hive directories, contiguous sorted
    * parts, pack-sequential row order within each part — is the batch
    * writer's contract (StreamingSpec asserts layout and order parity
    * against a batch-written lake). `foreachBatch` rather than a
    * partitioned file sink because pack assignment is a GREEDY
    * token-budget aggregation, not a per-row projection. Shard assignment
    * (`id mod nShards`) is id-stable, so a document lands in the same
    * shard directory regardless of batching; pack ids restart per batch
    * (each batch bin-packs what it saw — a trainer reads parts in file
    * order, exactly as with the batch writer's multi-part shards). */
  def shardWriter(docs: DataFrame, root: String, tokensPerPack: Long,
                  nShards: Int, idCol: String = "doc_id",
                  textCol: String = "text",
                  maxRecordsPerFile: Long = 5000000L,
                  commitId: String = "stream"): DataStreamWriter[Row] =
    eachBatch(docs)(writeShardBatch(_, _, root, tokensPerPack, nShards, idCol,
      textCol, maxRecordsPerFile, commitId))

  /** One micro-batch of [[shardWriter]] under [[commitBatch]]: pack →
    * append. There is no state to fold, and the one write is an APPEND
    * into the shared shard lake, not an own slice: a committed id is
    * skipped (StreamingSpec re-runs a batch id and asserts no growth), but
    * a crash BETWEEN append and marker degrades to at-least-once of one
    * batch. Per-batch packing is deterministic, so the replayed rows are
    * byte-identical and the lake's dedup-compact remedy (keep-first on
    * (shard, id)) restores exactly-once, the same contract as the
    * collector's staging path. */
  def writeShardBatch(batch: DataFrame, batchId: Long, root: String,
                      tokensPerPack: Long, nShards: Int,
                      idCol: String = "doc_id", textCol: String = "text",
                      maxRecordsPerFile: Long = 5000000L,
                      commitId: String = "stream"): Boolean =
    commitBatch(batch, batchId, root, commitId, compactEvery = 0) { _ =>
      graft.sources.Lake.writeShards(graft.llm.TextAnalysis.packShards(
          batch, tokensPerPack, nShards, idCol, textCol),
        root, idCol, maxRecordsPerFile, SaveMode.Append)
    }

  final case class Tick(symbol: String, tsMs: Long, value: Double)
  final case class GapEvent(symbol: String, prevMs: Long, tsMs: Long, gapMinutes: Long)

  /** Custom keyed state example (mapGroupsWithState family): an online gap
    * detector that remembers the last minute seen per symbol and emits a
    * GapEvent whenever a tick jumps more than one grid step — the streaming
    * analogue of [[graft.operators.Gaps.gapsReport]]. */
  def gapDetector(ticks: Dataset[Tick], stepMs: Long = 60000L): Dataset[GapEvent] = {
    import ticks.sparkSession.implicits._
    ticks
      .groupByKey(_.symbol)
      .flatMapGroupsWithState[Long, GapEvent](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (symbol: String, it: Iterator[Tick], state: GroupState[Long]) =>
          val sorted = it.toSeq.sortBy(t => (t.tsMs))
          val out = scala.collection.mutable.ArrayBuffer.empty[GapEvent]
          var last = state.getOption.getOrElse(Long.MinValue)
          sorted.foreach { t =>
            val minuteMs = t.tsMs / stepMs * stepMs
            if (last != Long.MinValue && minuteMs > last + stepMs) {
              out += GapEvent(symbol, last, minuteMs, (minuteMs - last) / stepMs - 1)
            }
            if (minuteMs > last) last = minuteMs
          }
          if (last != Long.MinValue) state.update(last)
          out.iterator
      }
  }

  final case class FlowBar(symbol: String, tsMs: Long,
                           aggrBuy: Double, aggrSell: Double)
  final case class CvdPoint(symbol: String, tsMs: Long, deltaAggr: Double,
                            cvdProxy: Double)

  /** Streaming CVD: the cumulative-volume-delta proxy of
    * [[graft.operators.Flow.withFlowFeatures]] as online keyed state — the
    * running sum lives in a per-symbol GroupState, so the stream emits the
    * same cvd_proxy the batch window computes. Bars are processed in ts
    * order within each micro-batch; upstream dedup/watermarking (see
    * [[minuteBars]]) owns late-data hygiene, matching the batch operator's
    * assume-canonical-input contract. */
  def cvdStream(bars: Dataset[FlowBar]): Dataset[CvdPoint] = {
    import bars.sparkSession.implicits._
    bars
      .groupByKey(_.symbol)
      .flatMapGroupsWithState[Double, CvdPoint](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (symbol: String, it: Iterator[FlowBar], state: GroupState[Double]) =>
          var cvd = state.getOption.getOrElse(0.0)
          val out = it.toSeq.sortBy(_.tsMs).map { b =>
            val delta = b.aggrBuy - b.aggrSell
            cvd += delta
            CvdPoint(symbol, b.tsMs, delta, cvd)
          }
          state.update(cvd)
          out.iterator
      }
  }

  /** Streaming dual-engine backtest: the per-symbol position lifecycle of
    * [[graft.operators.Backtest.runDualEngine]] as online keyed state. Each
    * symbol's [[graft.operators.Backtest.DualState]] lives in a GroupState
    * and every bar runs the SAME `dualStep` transition the batch SeqScan
    * folds, so a stream fed the batch input emits exactly the batch trade
    * set — equivalence by shared code, asserted in StreamingSpec. Bars are
    * processed in ts order within each micro-batch; across micro-batches,
    * the state's `lastTsMs` high-watermark makes `dualStep` DROP any bar
    * at or before the last folded timestamp, so a late arrival (which the
    * batch engine would have folded in order) cannot silently diverge the
    * stream from the batch result — the same dedup/ordering hygiene
    * [[minuteBars]] applies. */
  def dualBacktestStream(bars: Dataset[Backtest.DualBar],
                         short: Boolean = true, beOffsetR: Double = 0.0,
                         cooldownBars: Int = 0,
                         feeBps: Double = 0.0): Dataset[Backtest.DualTrade] = {
    import bars.sparkSession.implicits._
    bars
      .groupByKey(_.symbol)
      .flatMapGroupsWithState[Backtest.DualState, Backtest.DualTrade](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, it: Iterator[Backtest.DualBar],
         state: GroupState[Backtest.DualState]) =>
          var st = state.getOption.getOrElse(Backtest.DualState.init)
          val out = it.toSeq.sortBy(_.barTsMs).flatMap { b =>
            val (next, trade) =
              Backtest.dualStep(st, b, short, beOffsetR, cooldownBars, feeBps)
            st = next
            trade
          }
          state.update(st)
          out.iterator
      }
  }
}
