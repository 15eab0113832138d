package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The lake write path: hive-partitioned layout, merge/upsert, compaction
  * and `_meta.json` management.
  *
  * References: /root/reference/src/bfdl/transforms/aggregate_tf.py:27-45
  * (symbol=/year=/month= layout), 164-179 (month merge: concat, dedup on
  * key keep NEW, sort, atomic replace), compact_months.py:13 and
  * compact_staging.py (staging parts → one part per month),
  * verify_all.py:38-54 + fix_meta.py (`_meta.json` schema contract).
  *
  * Spark-first design: the layout IS the index — `symbol=`/`year=`/`month=`
  * directories give Catalyst partition pruning for free, so per-symbol /
  * per-month reads never touch the rest of the lake (the property the whole
  * reference directory scheme exists for; the same layout-as-metadata
  * philosophy as "Delta Lake: High-Performance ACID Table Storage over
  * Cloud Object Stores", VLDB 2020, per PAPERS.md — minus the transaction
  * log, which the driver-side `_meta.json` + checkpoint files stand in
  * for at this scope). Merge is a tagged union + one
  * keep-last window — no read-modify-write of whole months on the driver.
  * Compaction is `repartition(partition cols)` so each hive partition is
  * written by exactly one task → one file, the distributed equivalent of the
  * reference's per-month rewrite.
  */
object Lake {

  /** Upsert semantics of aggregate_tf.py:164-179: rows from `incoming`
    * replace rows from `existing` on key collision; both sides otherwise
    * kept. One shuffle on the keys. The secondary sort on a content hash
    * makes the survivor deterministic across runs/partitionings even when a
    * side holds several rows for one key (equal-content ties are
    * indistinguishable, so any survivor is the same row). */
  def mergeUpsert(existing: DataFrame, incoming: DataFrame, keys: Seq[String]): DataFrame = {
    val u = existing.withColumn("_pri", lit(0))
      .unionByName(incoming.withColumn("_pri", lit(1)))
    val payload = existing.columns.filterNot(keys.contains).map(col).toSeq
    val tiebreak = if (payload.isEmpty) lit(0L) else xxhash64(payload: _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("_pri").desc, tiebreak.asc)
    u.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .drop("_rn", "_pri")
  }

  /** Write bars into the partitioned lake layout. `tsMsCol` drives the
    * year=/month= derivation; `symbol` must already be a column. */
  def writePartitioned(df: DataFrame, root: String, tsMsCol: String = "bar_ts_ms",
                       mode: SaveMode = SaveMode.Overwrite): Unit =
    df.withColumn("year", year(timestamp_millis(col(tsMsCol))))
      .withColumn("month", month(timestamp_millis(col(tsMsCol))))
      .write.mode(mode)
      .partitionBy("symbol", "year", "month")
      .parquet(root)

  /** Compact a staging lake in place of many small parts: one task — hence
    * one parquet part — per (symbol, year, month).
    *
    * `dedupKeys` (optional) canonical-dedups during the compaction:
    * collector staging is at-least-once — a crash between a page append and
    * its checkpoint advance replays that page on resume — and this is the
    * pass that makes the compacted lake exactly-once, the same place the
    * reference dedups (aggregate_tf.py:205 drop_duplicates keep=last over
    * staging parts). With an explicit `ordCol` the survivor is keep-last by
    * that column; WITHOUT one (staging parts carry no ingest order), ties
    * resolve by a deterministic content hash over the non-key columns —
    * byte-identical replays are idempotent, and conflicting duplicates
    * pick one stable survivor independent of run or partitioning (the
    * reference's concat-order keep=last is filesystem-glob-dependent;
    * this is the reproducible equivalent). */
  def compact(spark: SparkSession, root: String, outRoot: String,
              dedupKeys: Seq[String] = Nil, ordCol: String = ""): Unit = {
    val raw = spark.read.parquet(root)
    val df =
      if (dedupKeys.isEmpty) raw
      else {
        val ord =
          if (ordCol.nonEmpty) col(ordCol)
          else {
            val payload = raw.columns
              .filterNot(c => dedupKeys.contains(c) ||
                Seq("year", "month").contains(c))
              .map(col).toSeq
            if (payload.isEmpty) lit(0L) else xxhash64(payload: _*)
          }
        graft.operators.Canonical.dedupKeepLast(raw, dedupKeys, ord)
      }
    df.repartition(col("symbol"), col("year"), col("month"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("symbol", "year", "month")
      .parquet(outRoot)
  }

  /** Read back with partition pruning available; filters on symbol/year/month
    * prune at planning time. */
  def read(spark: SparkSession, root: String): DataFrame = spark.read.parquet(root)

  /** Write a bucketed+sorted table: repeated joins/aggregations on
    * `bucketCols` become exchange-free (co-located), the classic big-joins
    * layout at 100 TB. Bucketed tables require the table catalog
    * (`saveAsTable`), not a bare path. */
  def writeBucketed(df: DataFrame, table: String, buckets: Int,
                    bucketCols: Seq[String]): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .format("parquet")
      .saveAsTable(table)

  /** Materialize a packed corpus ([[graft.llm.TextAnalysis.packShards]]
    * output) as a training-shard lake: `shard=N/` hive directories, ONE
    * task — hence one contiguous parquet part — per shard, rows sorted by
    * (pack_id, id) within the part so a sequential reader streams packs in
    * training order without a shuffle. `maxRecordsPerFile` caps part size
    * when a shard outgrows one file (parts stay sorted; readers concat in
    * file order). This is the write half the reference's pipeline stops
    * short of: pack assignment is only useful if the layout on disk lets a
    * trainer consume shard-parallel, pack-sequential. */
  def writeShards(packed: DataFrame, root: String, idCol: String = "doc_id",
                  maxRecordsPerFile: Long = 5000000L,
                  mode: SaveMode = SaveMode.Overwrite): Unit =
    packed
      .repartition(col("shard"))
      .sortWithinPartitions(col("shard"), col("pack_id"), col(idCol))
      .write.mode(mode)
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .partitionBy("shard")
      .parquet(root)

  /** Minimal `_meta.json`: schema fingerprint + row count, the contract
    * verify_all.py checks. Driver-side write of a few hundred bytes, routed
    * through the Hadoop FileSystem API so HDFS/S3 lake roots work, not only
    * local paths. */
  def writeMeta(df: DataFrame, root: String): Unit = {
    val fields = df.schema.filterNot(f => Seq("year", "month").contains(f.name))
      .map(f => s"""{"name":"${f.name}","type":"${f.dataType.simpleString}"}""")
      .mkString("[", ",", "]")
    val json = s"""{"schema":$fields,"n_rows":${df.count()}}"""
    val path = new org.apache.hadoop.fs.Path(root, "_meta.json")
    SmallFile.write(
      path.getFileSystem(df.sparkSession.sessionState.newHadoopConf()),
      path, json.getBytes("UTF-8"))
  }

  /** Read `_meta.json` back (Hadoop FS — works on any supported scheme). */
  def readMeta(spark: SparkSession, root: String): Option[String] = {
    val path = new org.apache.hadoop.fs.Path(root, "_meta.json")
    val fs = path.getFileSystem(spark.sessionState.newHadoopConf())
    if (!fs.exists(path)) None else Some(SmallFile.read(fs, path))
  }

  /** Composite lake health report — the end-to-end shape of the reference's
    * `verify_all.py` (its biggest transform): one row per (check, symbol)
    * with ok + detail. Covers `_meta.json` presence, schema conformance
    * against the expected contract, checkpoint sanity (present, not in the
    * future), and full per-symbol integrity (dupes / monotonicity / grid
    * completeness). The per-row work is the distributed
    * [[graft.operators.Gaps.integrityCheck]] pass; the metadata checks are
    * driver-side byte reads via the Hadoop FS. API/import checks of the
    * reference are environment probes with no lake analogue and are out of
    * scope. */
  def verifyAll(spark: SparkSession, root: String,
                expected: StructType, stepMs: Long, tf: String,
                nowMs: Long,
                symbolCol: String = "symbol",
                tsMsCol: String = "bar_ts_ms"): DataFrame = {
    import spark.implicits._
    val metaOk = readMeta(spark, root).isDefined
    val df = read(spark, root)
    val violations = validateSchema(
      StructType(df.schema.filterNot(f => Seq("year", "month").contains(f.name))),
      expected)
    val ckpt = Checkpoint.read(root, tf)
    val ckptOk = ckpt.nonEmpty && ckpt.values.forall(_ <= nowMs)
    val driverChecks = Seq(
      ("meta_present", "*", metaOk, if (metaOk) "" else "_meta.json absent"),
      ("schema_match", "*", violations.isEmpty, violations.mkString("; ")),
      ("checkpoint_sane", "*", ckptOk,
        if (ckpt.isEmpty) s"_checkpoint_$tf.json absent"
        else if (!ckptOk) "checkpoint in the future" else ""))
      .toDF("check", symbolCol, "ok", "detail")
    val integ = graft.operators.Gaps.integrityCheck(
        df.select(col(symbolCol), col(tsMsCol).as("ts_ms"),
          col(tsMsCol).as("event_id")), stepMs)
      .select(lit("integrity").as("check"), col(symbolCol),
        (col("n_dups") === 0 && col("n_non_monotonic") === 0).as("ok"),
        concat(lit("dups="), col("n_dups"),
          lit(" missing="), col("n_missing")).as("detail"))
    driverChecks.unionByName(integ)
  }

  /** Dataset-migration helper #1 (scripts/research/rename_ts_col_v1.py):
    * rewrite a parquet dataset with one column renamed, failing loudly when
    * the source column is absent or the target name already exists —
    * exactly the reference's two `[KO]` guards — and refresh the
    * `_meta.json` schema contract at the destination so [[verifyAll]]
    * keeps passing after the rename. A plain projection: no shuffle, the
    * scan streams straight into the write. */
  def renameColumn(spark: SparkSession, in: String, out: String,
                   fromCol: String, toCol: String): Unit = {
    val df = spark.read.parquet(in)
    require(df.columns.contains(fromCol),
      s"'$fromCol' not in columns=${df.columns.take(50).mkString("[", ", ", "]")}")
    require(!df.columns.contains(toCol), s"'$toCol' already exists in columns")
    df.withColumnRenamed(fromCol, toCol)
      .write.mode(SaveMode.Overwrite).parquet(out)
    writeMeta(spark.read.parquet(out), out)
  }

  /** Dataset-migration helper #2 (scripts/research/concat_parquets_v1.py):
    * union N parquet datasets, require `tsCol` present everywhere and
    * timestamp-valid (non-null) on every row, sort by it, and dedup
    * keep-last on the timestamp where LAST follows the input list order —
    * later inputs replace earlier ones on a ts collision, the reference's
    * stable-mergesort + `drop_duplicates(keep="last")`. Within one input,
    * ties resolve by content hash (the reference's row order there is
    * filesystem-glob-dependent; the hash is the reproducible equivalent,
    * as in [[compact]]). One shuffle on ts; the final `orderBy` makes the
    * written parts range-sorted like the reference's single sorted file. */
  def concatParquets(spark: SparkSession, inputs: Seq[String], out: String,
                     tsCol: String = "ts"): Unit = {
    require(inputs.nonEmpty, "inputs is empty")
    val parts = inputs.map { p =>
      val df = spark.read.parquet(p)
      require(df.columns.contains(tsCol),
        s"'$p' missing tsCol='$tsCol'. Columns=${df.columns.take(40).mkString("[", ", ", "]")}")
      df
    }
    val tagged = parts.zipWithIndex
      .map { case (df, i) => df.withColumn("_pri", lit(i)) }
      .reduce(_ unionByName _)
    val nBad = tagged.where(col(tsCol).isNull).count()
    require(nBad == 0, s"$nBad rows have invalid '$tsCol' timestamps after concat")
    val payload = parts.head.columns.filterNot(_ == tsCol).map(col).toSeq
    val tiebreak = if (payload.isEmpty) lit(0L) else xxhash64(payload: _*)
    val w = Window.partitionBy(col(tsCol))
      .orderBy(col("_pri").desc, tiebreak.asc)
    tagged.withColumn("_rn", row_number().over(w))
      .where(col("_rn") === 1)
      .drop("_rn", "_pri")
      .orderBy(col(tsCol))
      .write.mode(SaveMode.Overwrite).parquet(out)
  }

  /** Schema validation against an expected contract (verify_all.py:38-54):
    * returns the list of violations, empty = valid. */
  def validateSchema(actual: StructType, expected: StructType): Seq[String] = {
    val a = actual.fields.map(f => f.name -> f.dataType.simpleString).toMap
    expected.fields.toSeq.flatMap { f =>
      a.get(f.name) match {
        case None => Some(s"missing column ${f.name}")
        case Some(t) if t != f.dataType.simpleString =>
          Some(s"column ${f.name}: expected ${f.dataType.simpleString}, got $t")
        case _ => None
      }
    } ++ actual.fields.toSeq.collect {
      case f if !expected.fieldNames.contains(f.name) && !Seq("year", "month").contains(f.name) =>
        s"unexpected column ${f.name}"
    }
  }
}
