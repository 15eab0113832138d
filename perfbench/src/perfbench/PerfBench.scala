package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.util.QueryExecutionListener

import graft.{GraftSession, SparkEntry}
import graft.operators.{Gaps, TfAggregate}
import graft.sources.{Checkpoint, Collector, Lake}
import graft.streaming.Ingest

/** Closed-loop, single-client benchmark over the program's public entry
  * points. Every operation is fully materialized (a `noop` write), so
  * Catalyst cannot prune the final projections or sort as `.count()` lets
  * it.
  *
  * One process runs one workload:
  *  1. set-up: session start, warm-up, and one cold pass whose outputs are
  *     written as parquet for the correctness check made after the run;
  *  2. timed passes until `seconds` have elapsed (a started pass always
  *     finishes, so every pass covers the same work).
  *
  * With `trace=1` a `SparkListener` and a `QueryExecutionListener` record
  * counts per span; spans are opened around each call into a layer and
  * kept in memory until the run ends. With `trace=0` no listener is
  * registered. Raw samples go to `out` as JSON; `run.py` reduces them.
  *
  * Arguments are `key=value` pairs: workload, data, work, out, seconds,
  * trace, seed, cores, t0ms (epoch ms the run started, for setup time) and,
  * for `queries`, keys (comma-separated `name:module`).
  */
object PerfBench {

  def main(argv: Array[String]): Unit = {
    val a = argv.map { s => val i = s.indexOf('='); s.take(i) -> s.drop(i + 1) }.toMap
    val workload = a("workload")
    val cores = a("cores")
    val traced = a("trace") == "1"
    val t0ms = a("t0ms").toLong
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val out = new Json

    val tSession = System.nanoTime()
    val spark = GraftSession.configure(
        SparkSession.builder().appName("perfbench").master(s"local[$cores]"), cores)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    out.num("session_start_s", secs(tSession))
    val tracer = if (traced) Some(new Tracer(spark)) else None

    val run: Runner = workload match {
      case "ingest" => new IngestRunner(spark, a("data"), a("work"), tracer)
      case _ => new QueryRunner(spark, a("data"), a("work"), tracer,
        a("keys").split(",").toSeq.map { kv =>
          val Array(k, m) = kv.split(":"); (k, m) })
    }
    val tCold = System.nanoTime()
    run.coldPass()
    out.num("cold_pass_s", secs(tCold))
    out.num("setup_s", (System.currentTimeMillis() - t0ms) / 1000.0)

    val steal0 = stealTicks()
    val load0 = loadAvg()
    val tStart = System.nanoTime()
    val passWalls = mutable.ArrayBuffer.empty[Double]
    val heaps = mutable.ArrayBuffer.empty[Double]
    var pass = 0
    while (pass == 0 || secs(tStart) < seconds) {
      val tp = System.nanoTime()
      run.timedPass(pass, new scala.util.Random(seed * 1000 + pass))
      passWalls += secs(tp)
      System.gc()
      val mem = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      heaps += mem.getUsed / 1048576.0
      pass += 1
    }
    out.nums("pass_wall_s", passWalls.toSeq)
    out.nums("heap_after_gc_mb", heaps.toSeq)
    out.num("steal_ticks", (stealTicks() - steal0).toDouble)
    out.num("loadavg_start", load0)
    out.num("loadavg_end", loadAvg())
    run.report(out)
    tracer.foreach { t => t.drain(); t.report(out) }
    Files.write(Paths.get(a("out")), out.render.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Host contention evidence: hypervisor steal (cpu column 8 of
    * /proc/stat, in clock ticks summed over CPUs) and the 1-minute load
    * average. */
  def stealTicks(): Long = readProc("/proc/stat") { l =>
    val f = l.head.trim.split("\\s+"); if (f.length > 8) f(8).toLong else -1L }(-1L)
  def loadAvg(): Double = readProc("/proc/loadavg")(l =>
    l.head.split("\\s+")(0).toDouble)(-1.0)
  private val ClockTicks = 100.0

  /** Share of the machine's CPU time the hypervisor stole since `ticks0`,
    * over a window of `seconds`. */
  def stealShare(ticks0: Long, seconds: Double): Double =
    (stealTicks() - ticks0) / (ClockTicks * Runtime.getRuntime.availableProcessors * seconds)

  /** An operation whose window lost more than this share of the machine
    * to steal is measured again (a bounded number of times) and the
    * cleaner sample is kept. */
  val MaxSteal = 0.03
  val MaxRetries = 3

  private def readProc[T](p: String)(f: Seq[String] => T)(dflt: T): T =
    try f(Files.readAllLines(Paths.get(p)).asScala.toSeq)
    catch { case _: Exception => dflt }

  /** Between operations (not timed): release the operation's cached
    * blocks and collect its garbage, so no operation pays for the previous
    * one. */
  def settle(spark: SparkSession): Unit = {
    GraftSession.releaseCache(spark)
    System.gc()
    // the GC hands dead shuffles and broadcasts to Spark's asynchronous
    // cleaner; let it finish before the next operation starts
    Thread.sleep(SettleMs)
  }
  private val SettleMs = 250L

  /** Full materialization of a result. */
  def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def codegenTime(): Long = CodeGenerator.compileTime
  def codegenCount(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Bytes written through Hadoop's local file system by this process. */
  def localBytesWritten(): Long =
    FileSystem.getAllStatistics.asScala.filter(_.getScheme == "file").map(_.getBytesWritten).sum

  /** Regular files under a local directory. */
  def files(dir: String): Seq[String] =
    Option(new File(dir)).filter(_.exists).toSeq.flatMap { d =>
      Files.walk(d.toPath).iterator().asScala.filter(Files.isRegularFile(_)).map(_.toString).toSeq }

  def deleteDir(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteDir)
    f.delete()
  }

  /** Replaces `to` with a copy of `from`. */
  def copyDir(from: File, to: File): Unit = {
    deleteDir(to)
    if (from.exists) Files.walk(from.toPath).iterator().asScala.foreach { p =>
      val t = to.toPath.resolve(from.toPath.relativize(p))
      if (Files.isDirectory(p)) Files.createDirectories(t) else Files.copy(p, t)
    }
  }

  /** Bytes and file count under a local directory. */
  def du(dir: String): (Long, Long) = {
    val fs = files(dir)
    (fs.map(f => Files.size(Paths.get(f))).sum, fs.size.toLong)
  }
}

/** Minimal JSON object writer for the raw sample file. */
final class Json {
  private val fields = mutable.ArrayBuffer.empty[String]
  private def q(s: String) = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  private def n(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
  def num(k: String, v: Double): Unit = fields += s"${q(k)}:${n(v)}"
  def nums(k: String, vs: Seq[Double]): Unit = fields += s"${q(k)}:${vs.map(n).mkString("[", ",", "]")}"
  def str(k: String, v: String): Unit = fields += s"${q(k)}:${q(v)}"
  def raw(k: String, v: String): Unit = fields += s"${q(k)}:$v"
  def render: String = fields.mkString("{", ",", "}")
}

/** One traced interval around a call into a layer. `parent` is the span
  * that caused it (-1 at the top); counters are filled by the listeners. */
final class Span(val id: Int, val name: String, val parent: Int, val pass: Int,
                 val start: Long) {
  var end: Long = start
  val counts: mutable.Map[String, Double] = mutable.Map.empty.withDefaultValue(0.0)
}

/** Span recorder plus the Spark listeners that attribute jobs, stages and
  * tasks to the innermost open span (through a job-local property) and
  * capture the `QueryExecution` of each noop write. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val Prop = "perfbench.span"
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Int]
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val jobsOpen = mutable.Set.empty[Int]
  @volatile private var lastWrite: Option[QueryExecution] = None

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val sp = Option(e.properties).flatMap(p => Option(p.getProperty(Prop)))
        .map(_.toInt).getOrElse(-1)
      jobsOpen += e.jobId
      e.stageIds.foreach(stageSpan(_) = sp)
      add(sp, "jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized { jobsOpen -= e.jobId }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      add(stageSpan.getOrElse(e.stageInfo.stageId, -1), "stages", 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val sp = stageSpan.getOrElse(e.stageId, -1)
      val m = e.taskMetrics
      add(sp, "tasks", 1)
      if (m != null) {
        add(sp, "task_cpu_s", m.executorCpuTime / 1e9)
        add(sp, "gc_s", m.jvmGCTime / 1e3)
        add(sp, "shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add(sp, "shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add(sp, "spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
        if (sp >= 0) {
          val c = spans(sp).counts
          c("peak_mem_mb") = math.max(c("peak_mem_mb"), m.peakExecutionMemory / 1048576.0)
        }
        val info = e.taskInfo
        if (info != null && info.finished) {
          val busy = m.executorRunTime + m.executorDeserializeTime +
            m.resultSerializationTime + info.gettingResultTime
          add(sp, "sched_delay_s", math.max(0L, info.duration - busy) / 1e3)
        }
      }
    }
  }
  sc.addSparkListener(listener)
  spark.listenerManager.register(new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit =
      if (qe.logical.nodeName == "OverwriteByExpression") lastWrite = Some(qe)
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  })

  private def add(sp: Int, k: String, v: Double): Unit =
    if (sp >= 0) spans(sp).counts(k) += v

  /** Runs `f` inside a span named `name`; nested calls become children. */
  def span[T](name: String, pass: Int)(f: => T): T = {
    val s = synchronized {
      val s = new Span(spans.size, name, stack.headOption.getOrElse(-1), pass, System.nanoTime())
      spans += s; s
    }
    val cg0 = PerfBench.codegenTime(); val cc0 = PerfBench.codegenCount()
    stack.push(s.id)
    sc.setLocalProperty(Prop, s.id.toString)
    try f finally {
      s.end = System.nanoTime()
      synchronized {
        s.counts("codegen_compile_s") += (PerfBench.codegenTime() - cg0) / 1e9
        s.counts("codegen_compiles") += (PerfBench.codegenCount() - cc0).toDouble
      }
      stack.pop()
      sc.setLocalProperty(Prop, stack.headOption.map(_.toString).orNull)
    }
  }

  /** Runs a noop write inside span `name` and records its planning phases
    * and a census of the final adaptive plan. */
  def tracedWrite(name: String, pass: Int, df: DataFrame): Unit = {
    lastWrite = None
    span(name, pass) {
      PerfBench.noop(df)
      val t = System.nanoTime()
      while (lastWrite.isEmpty && System.nanoTime() - t < 5e9) Thread.sleep(2)
    }
    val s = spans.last
    lastWrite.foreach { qe => synchronized {
      val ph = qe.tracker.phases
      Seq("analysis", "optimization", "planning").foreach { p =>
        s.counts(s"plan_$p" + "_s") += ph.get(p).map(_.durationMs / 1e3).getOrElse(0.0) }
      census(qe.executedPlan, s.counts)
    } }
  }

  private def census(p: SparkPlan, c: mutable.Map[String, Double]): Unit = {
    p match {
      case _: AdaptiveSparkPlanExec | _: QueryStageExec =>
      case _: WholeStageCodegenExec => c("plan_codegen_stages") += 1
      case _: ReusedExchangeExec => c("plan_reused_exchanges") += 1; c("plan_nodes") += 1
      case _: Exchange => c("plan_exchanges") += 1; c("plan_nodes") += 1
      case _ if p.nodeName == "InputAdapter" =>
      case _ => c("plan_nodes") += 1
    }
    p match {
      case a: AdaptiveSparkPlanExec => census(a.executedPlan, c)
      case q: QueryStageExec => census(q.plan, c)
      case _: ReusedExchangeExec =>
      case _ => p.children.foreach(census(_, c))
    }
    p.subqueries.foreach(census(_, c))
  }

  /** Waits until every job has ended and the listener bus has gone quiet,
    * so late task-end events are attributed before the report. */
  def drain(): Unit = {
    val t = System.nanoTime()
    var quiet = 0
    while (quiet < 5 && System.nanoTime() - t < 10e9) {
      Thread.sleep(40)
      if (synchronized(jobsOpen.isEmpty)) quiet += 1 else quiet = 0
    }
  }

  def report(out: Json): Unit = {
    val js = spans.map { s =>
      val cs = s.counts.toSeq.sortBy(_._1).map { case (k, v) => s""""$k":$v""" }
      s"""{"id":${s.id},"name":"${s.name}","parent":${s.parent},"pass":${s.pass},""" +
        s""""start_ns":${s.start},"end_ns":${s.end},"counts":${cs.mkString("{", ",", "}")}}"""
    }
    out.raw("spans", js.mkString("[", ",", "]"))
  }
}

trait Runner {
  def coldPass(): Unit
  def timedPass(pass: Int, rng: scala.util.Random): Unit
  def report(out: Json): Unit
}

/** `queries`: each operation is one contract key, built by
  * `SparkEntry.queries` and materialized in full. The seed shuffles the
  * key order of every pass. */
final class QueryRunner(spark: SparkSession, data: String, work: String,
                        tracer: Option[Tracer], keys: Seq[(String, String)]) extends Runner {
  private val fns = SparkEntry.queries
  private val ops = mutable.ArrayBuffer.empty[String]

  def coldPass(): Unit = {
    val oracle = new Json
    keys.foreach { case (k, _) =>
      // a key that fails here has no output, which its check reports
      try fns(k)(spark, data).write.mode("overwrite").parquet(s"$work/check/$k")
      catch { case scala.util.control.NonFatal(e) =>
        System.err.println(s"[perfbench] $k failed: $e") }
      GraftSession.releaseCache(spark)
      SparkEntry.oracleSql.get(k).foreach(oracle.str(k, _))
    }
    Files.write(Paths.get(s"$work/check/oracle_sql.json"),
      oracle.render.getBytes(StandardCharsets.UTF_8))
  }

  def timedPass(pass: Int, rng: scala.util.Random): Unit =
    rng.shuffle(keys).foreach { case (k, module) =>
      val first = attempt(pass, k, module)
      // An untraced operation whose window lost more than MaxSteal runs
      // once more and the attempt that lost less is kept, so a neighbour's
      // burst does not read as a slower program; at most MaxRetries per run.
      // Traced runs keep every span and never repeat.
      val (ok, s, steal) =
        if (tracer.isEmpty && first._1 && first._3 > PerfBench.MaxSteal &&
            retries < PerfBench.MaxRetries) {
          retries += 1
          val second = attempt(pass, k, module)
          if (second._3 < first._3) second else first
        } else first
      ops += s"""{"pass":$pass,"key":"$k","module":"$module","ok":$ok,"s":$s,"steal":$steal}"""
    }

  private var retries = 0

  /** Runs one operation; returns (succeeded, seconds, share of the
    * machine's CPU time stolen by the hypervisor meanwhile). */
  private def attempt(pass: Int, k: String, module: String): (Boolean, Double, Double) = {
    val s0 = PerfBench.stealTicks()
    val t = System.nanoTime()
    val ok = try {
      tracer match {
        case None => PerfBench.noop(fns(k)(spark, data))
        case Some(tr) => tr.span(s"op:$k:$module", pass) {
          val df = tr.span("construct", pass)(fns(k)(spark, data))
          tr.tracedWrite("write", pass, df)
        }
      }
      true
    } catch { case scala.util.control.NonFatal(e) =>
      System.err.println(s"[perfbench] $k failed: $e"); false }
    val dt = PerfBench.secs(t)
    val steal = PerfBench.stealShare(s0, dt)
    PerfBench.settle(spark)
    (ok, dt, steal)
  }

  def report(out: Json): Unit = {
    out.raw("ops", ops.mkString("[", ",", "]"))
    out.num("retries", retries)
  }
}

/** `ingest`: the lake's write path beside its reads. Each batch commit
  * stages every symbol's new klines with `Collector.collect` from an
  * in-memory feed (some pages are replayed by rewinding the collector
  * checkpoint) and compacts the staging lake with canonical dedup; a
  * read-after-write query on the compacted lake follows it. One document
  * batch commits through `Ingest.nearDupBatch` in its own operation, and a
  * later batch re-sends it. Each pass writes a fresh set of directories.
  *
  * The cold pass is the reference: it commits the document batch once,
  * without compacting the near-dup state. Timed passes compact the state
  * and re-send the batch, and must reach the same decisions. */
final class IngestRunner(spark: SparkSession, data: String, work: String,
                         tracer: Option[Tracer]) extends Runner {
  import Collector.Kline
  private implicit val formats: org.json4s.Formats = org.json4s.DefaultFormats
  private val sched = org.json4s.jackson.JsonMethods.parse(
    new String(Files.readAllBytes(Paths.get(s"$data/schedule.json")), StandardCharsets.UTF_8))
  private def get[T: Manifest](k: String): T = (sched \ k).extract[T]
  private val symbols = get[List[String]]("symbols")
  private val batchEnd = get[List[Long]]("batch_end_ms").toArray
  private val rewind = get[List[List[Boolean]]]("rewind").map(_.toArray).toArray
  private val docAt = get[Int]("doc_at")
  private val resendAt = get[Int]("resend_at")
  private val pageLimit = get[Int]("page_limit")
  private val nBatches = batchEnd.length
  private val Threshold = 0.5
  private val DocBatchId = 0L
  private val DedupKeys = Seq("symbol", "open_time_ms")

  private val feed: Map[String, Array[Kline]] = spark.read.parquet(s"$data/klines.parquet")
    .collect().toSeq.groupBy(_.getAs[String]("symbol")).map { case (s, rows) =>
      s -> rows.map(r => Kline(r.getAs[Long]("open_time_ms"), r.getAs[Double]("open"),
        r.getAs[Double]("high"), r.getAs[Double]("low"), r.getAs[Double]("close"),
        r.getAs[Double]("volume_base"), r.getAs[Double]("volume_quote"),
        r.getAs[Long]("n_trades"), r.getAs[Double]("taker_buy_base"),
        r.getAs[Double]("taker_buy_quote"))).sortBy(_.openTimeMs).toArray
    }
  private val firstMs = feed.values.map(_.head.openTimeMs).min
  private val docs = spark.read.parquet(s"$data/documents.parquet").select("doc_id", "text")
  private val inputBytes = Seq("klines", "documents")
    .map(t => new File(s"$data/$t.parquet").length()).sum.toDouble

  /** The exchange as seen at the current batch: klines strictly before
    * `visibleEnd`, ascending, at most `limit` per page. */
  @volatile private var visibleEnd = 0L
  private val fetch: Collector.Fetch = (sym, start, limit) => {
    val ks = feed(sym)
    val from = start.getOrElse(Long.MinValue)
    var lo = 0; var hi = ks.length
    while (lo < hi) { val m = (lo + hi) >>> 1; if (ks(m).openTimeMs < from) lo = m + 1 else hi = m }
    ks.iterator.drop(lo).takeWhile(_.openTimeMs < visibleEnd).take(limit).toSeq
  }

  private val ops = mutable.ArrayBuffer.empty[String]
  private val passStats = mutable.ArrayBuffer.empty[String]
  private var retries = 0

  private def timed[T](name: String, pass: Int)(f: => T): (T, Double) = {
    val t = System.nanoTime()
    val r = tracer.map(_.span(name, pass)(f)).getOrElse(f)
    (r, PerfBench.secs(t))
  }

  /** One pass over the stream under `root`; a timed pass (`pass >= 0`)
    * records its operation samples and per-layer totals. */
  private def pass(root: String, pass: Int, reference: Boolean): Unit = {
    val staging = s"$root/staging"; val lake = s"$root/lake"; val state = s"$root/neardup"
    val w0 = PerfBench.localBytesWritten()
    val layer = mutable.Map.empty[String, Double].withDefaultValue(0.0)
    val seen = mutable.Set.empty[String]
    var discardedBytes = 0L
    // A commit changes state, so it can only be repeated from a copy:
    // while retries remain, the pass directory is copied aside before each
    // operation, and an operation whose window lost more than MaxSteal is
    // rolled back (directories and counters) and run again. Traced runs
    // never repeat.
    def op(kind: String)(f: => Unit): Unit = {
      val undo = new File(s"$root.undo")
      val canRetry = tracer.isEmpty && pass >= 0 && retries < PerfBench.MaxRetries
      if (canRetry) PerfBench.copyDir(new File(root), undo)
      val layer0 = layer.toMap
      val w = PerfBench.localBytesWritten()
      val s0 = PerfBench.stealTicks()
      var s = timed(s"op:$kind", pass)(f)._2
      if (canRetry && PerfBench.stealShare(s0, s) > PerfBench.MaxSteal) {
        retries += 1
        discardedBytes += PerfBench.localBytesWritten() - w
        layer.clear(); layer ++= layer0
        PerfBench.copyDir(undo, new File(root))
        PerfBench.settle(spark)
        s = timed(s"op:$kind", pass)(f)._2
      }
      PerfBench.deleteDir(undo)
      if (pass >= 0) ops += s"""{"pass":$pass,"kind":"$kind","s":$s}"""
      seen ++= PerfBench.files(root)
      PerfBench.settle(spark)
    }
    def nearDup(): Boolean = {
      val (applied, s) = timed("streaming.Ingest.nearDupBatch", pass) {
        Ingest.nearDupBatch(docs, DocBatchId, state, Threshold,
          compactEvery = if (reference) 0 else 1)
      }
      layer("neardup_s") += s
      applied
    }
    for (b <- 0 until nBatches) {
      op("batch") {
        visibleEnd = batchEnd(b)
        symbols.zipWithIndex.foreach { case (sym, i) =>
          if (rewind(b)(i)) {
            val ns = s"collector_m1_$sym"
            Checkpoint.read(staging, ns).get(sym).foreach(v =>
              Checkpoint.write(staging, ns, Map(sym -> math.max(firstMs, v - pageLimit * 60000L))))
          }
          val (rep, s) = timed("sources.Collector.collect", pass) {
            Collector.collect(spark, fetch, sym, staging, nowMs = batchEnd(b) + 120000L,
              startMs = Some(firstMs), limit = pageLimit)
          }
          layer("collect_s") += s; layer("pages") += rep.pages
        }
        val (_, cs) = timed("sources.Lake.compact", pass) {
          Lake.compact(spark, staging, lake, dedupKeys = DedupKeys)
        }
        layer("compact_s") += cs; layer("bytes_rewritten") += PerfBench.du(lake)._1
        if (b == resendAt && !reference) {
          require(!nearDup(), "a re-sent document batch was applied twice")
          layer("replays_skipped") += 1
        }
      }
      op("read") {
        val (_, s) = timed("sources.Lake.read", pass) {
          val bars = Lake.read(spark, lake).select(col("symbol"),
            col("open_time_ms").as("bar_ts_ms"), col("open"), col("high"), col("low"),
            col("close"), col("volume_base").as("volume"), col("n_trades"))
          val ns = "tf_m5"
          val next = Checkpoint.read(lake, ns).values.reduceOption(_ min _).getOrElse(0L)
          val tf = TfAggregate.incremental(bars, 60000L, 5, next)
          write(tf, pass)
          val (adv, ad) = timed("sources.Checkpoint.advance", pass)(Checkpoint.advance(tf, 300000L))
          layer("advance_s") += ad
          if (adv.nonEmpty) Checkpoint.write(lake, ns, adv)
          write(Gaps.gapsReport(bars, 60000L), pass)
        }
        layer("read_s") += s
      }
      if (b == docAt) op("doc")(require(nearDup(), "the document batch was not applied"))
    }
    val (liveBytes, liveFiles) = PerfBench.du(root)
    layer("write_amp") = (PerfBench.localBytesWritten() - w0 - discardedBytes) / inputBytes
    layer("space_amp") = liveBytes.toDouble / PerfBench.du(lake)._1
    layer("files_live") = liveFiles.toDouble
    layer("files_written") = seen.size.toDouble
    layer("state_files_live") = PerfBench.du(state)._2.toDouble
    if (pass >= 0) passStats += layer.toSeq.sortBy(_._1)
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
  }

  private def write(df: DataFrame, pass: Int): Unit =
    tracer.map(_.tracedWrite("write", pass, df)).getOrElse(PerfBench.noop(df))

  def coldPass(): Unit = pass(s"$work/check/ingest", -1, reference = true)

  def timedPass(p: Int, rng: scala.util.Random): Unit = {
    val root = new File(s"$work/pass")
    PerfBench.deleteDir(root)
    pass(root.getPath, p, reference = false)
  }

  def report(out: Json): Unit = {
    out.raw("ops", ops.mkString("[", ",", "]"))
    out.raw("ingest_passes", passStats.mkString("[", ",", "]"))
    out.num("retries", retries)
  }
}
