package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session factory: every entry point (Verify, Bench, tests) builds through
  * here so plan-shaping configs are uniform.
  *
  * - shuffle partitions sized for local[32] (a cluster deploy would raise
  *   this to ~2-3× total cores; AQE coalesces the excess either way)
  * - AQE on: runtime skew-join splitting and partition coalescing are the
  *   first line of defense at 100 TB
  * - coalescePartitions.parallelismFirst stays at its TRUE default
  *   deliberately (a measured choice, not an omission): the Spark docs
  *   recommend false for production, but size-based coalescing targets
  *   BYTES while this engine's hot operators are compute-dense per byte
  *   (regex/backtest scans, connected-components rounds, fingerprint
  *   joins). Round-13's paired A/B (count()-consumed) measured false
  *   9-16% worse on the compute-dense keys; re-measured in round 14
  *   under the honest full-plan shape (noop write — projections + final
  *   sort execute), the penalty is smaller and MIXED per key
  *   (backtest_trades +6.0%, dedup_clusters +5.6%, winnow_candidates
  *   −7.6%, tf_aggregate −9.7%; TOTAL +0.9% — a wash at bench scale).
  *   The default stays TRUE because bench-scale inputs cannot show the
  *   case where size-based coalescing pays (post-shuffle partitions far
  *   above the 64 MB advisory), and under-parallelizing CPU-bound
  *   stages is the asymmetric risk on a 32-core box; a cluster deploy
  *   at real bytes/partition should repeat that paired noop-write A/B
  *   on its own data and decide there
  * - nanosAsLong: the testdata's TIMESTAMP(NANOS) columns surface as LONG
  *   (see [[graft.sources.Tables]])
  * - UTC session timezone: bar bucketing must be timezone-stable
  */
object GraftSession {

  def configure(b: SparkSession.Builder, cores: String = "32"): SparkSession.Builder =
    b.config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  /** Release every cached table and persisted/localCheckpointed RDD block.
    * Long-lived sessions (the bench harness runs 81+ queries in one JVM)
    * call this between queries so one query's materializations can't build
    * memory pressure for the next. Cached blocks re-derive from lineage if
    * they vanish — EXCEPT localCheckpointed results (e.g. the frames
    * returned by Cluster.connectedComponents / nearDupClusters), whose
    * lineage is truncated: after releaseCache those frames are spent and
    * must not be re-used. Call this only once a query's results are fully
    * consumed (as Bench does, after count()). */
  def releaseCache(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** Session conf key that picks how pipeline stage boundaries
    * materialize: `local` (default), `reliable` or `none` — see
    * [[stageBoundary]]. Also decides whether [[graft.llm.Cluster]]'s
    * per-round pins are durable. */
  private val StageBoundaryConf = "graft.stage.boundary"

  /** The session's validated stage-boundary mode; `reliable` needs
    * `spark.sparkContext`'s checkpoint directory to be set. */
  private[graft] def stageBoundaryMode(spark: SparkSession): String =
    spark.conf.get(StageBoundaryConf, "local") match {
      case m @ ("local" | "none") => m
      case "reliable" =>
        require(spark.sparkContext.getCheckpointDir.isDefined,
          s"$StageBoundaryConf=reliable requires " +
            "spark.sparkContext.setCheckpointDir(...)")
        "reliable"
      case other => throw new IllegalArgumentException(
        s"$StageBoundaryConf must be local|reliable|none, got '$other'")
    }

  /** Capstone stage-boundary materialization, parameterized by
    * [[stageBoundaryMode]] so one code path serves both the bench box and
    * a real cluster:
    *
    *  - `local` (default): eager `localCheckpoint` — fastest, but blocks
    *    are UNREPLICATED executor-local storage, so on a multi-executor
    *    cluster one executor loss mid-capstone fails the job and the
    *    truncated lineage cannot recompute. The right trade at local[32]
    *    and for minutes-long runs.
    *  - `reliable`: eager reliable `checkpoint` into
    *    `spark.sparkContext`'s checkpoint directory (must be set) — the
    *    cluster-durable stage write every published pipeline performs
    *    between its per-doc prefix and cross-doc suffix; survives
    *    executor loss, tasks retry from the checkpoint files
    *    (FaultToleranceSpec injects first-attempt task failures through
    *    a reliable-boundary capstone and pins identical output).
    *  - `none`: passthrough — plan-shape A/Bs and debugging.
    *
    * At 100 TB the `reliable` files land on the cluster's checkpoint
    * store (HDFS/object store) exactly like the lake-materialized stage
    * dirs the streaming loops write — same durability class, chosen by
    * conf instead of a code fork. */
  private[graft] def stageBoundary(df: DataFrame): DataFrame =
    stageBoundaryMode(df.sparkSession) match {
      case "local" => df.localCheckpoint(true)
      case "reliable" => df.checkpoint(eager = true)
      case _ => df
    }

  def local(appName: String = "graft", cores: String = "32"): SparkSession = {
    val s = configure(SparkSession.builder().appName(appName).master(s"local[$cores]"), cores)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
