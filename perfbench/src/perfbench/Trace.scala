package perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's instrumentation, all of it outside the engine: spans
  * around the benchmark's own calls into each layer, plus Spark's public
  * listeners (scheduler, query execution, streaming progress). With
  * `on = false` nothing is registered and `span` only runs its body, so
  * untraced runs measure the bare program.
  *
  * Counters accumulate between [[startWindow]] and [[endWindow]]; the
  * workload brackets its measured phase with them.
  */
final class Trace(spark: SparkSession, val on: Boolean) {
  import Trace._

  private final case class Span(id: Long, name: String, start: Long, end: Long,
                                parent: Long, op: Long)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val spanCount = new AtomicLong
  private val nextId = new AtomicLong

  /** Time `body` as one span; `body` gets the span id for its children. */
  def span[T](name: String, op: Long = 0L, parent: Long = 0L)(body: Long => T): T =
    if (!on) body(0L)
    else {
      val id = nextId.incrementAndGet()
      val t0 = System.nanoTime()
      try body(id)
      finally if (spanCount.incrementAndGet() <= MaxSpans)
        spans.add(Span(id, name, t0, System.nanoTime(), parent, op))
    }

  // ---- Spark scheduler counters (deltas over the window) ----
  private val c = new ConcurrentHashMap[String, AtomicLong]()
  private def add(k: String, v: Long): Unit =
    c.computeIfAbsent(k, _ => new AtomicLong).addAndGet(v)
  private def get(k: String): Long = Option(c.get(k)).map(_.get).getOrElse(0L)
  @volatile private var counting = false
  private val jobStarts = new ConcurrentHashMap[Int, Long]()
  private val jobIntervals = new ConcurrentLinkedQueue[(Long, Long)]()

  /** Jobs started from a thread whose local property `perfbench.phase` is
    * `plan` are counted as launched while planning (InfluxQL plan time).
    */
  val PhaseKey = "perfbench.phase"

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = if (counting) {
      add("jobs", 1)
      jobStarts.put(e.jobId, e.time)
      val phase = Option(e.properties).flatMap(p => Option(p.getProperty(PhaseKey)))
      if (phase.contains("plan")) add("plan_jobs", 1)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStarts.remove(e.jobId)).foreach(s => jobIntervals.add((s, e.time)))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (counting) {
      add("tasks", 1)
      if (!e.taskInfo.successful) add("failed_tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        add("task_dur_ms", e.taskInfo.duration)
        add("run_ms", m.executorRunTime)
        add("cpu_ns", m.executorCpuTime)
        add("deser_ms", m.executorDeserializeTime)
        add("result_ser_ms", m.resultSerializationTime)
        add("input_bytes", m.inputMetrics.bytesRead)
        add("shuffle_read", m.shuffleReadMetrics.totalBytesRead)
        add("shuffle_write", m.shuffleWriteMetrics.bytesWritten)
        add("spill", m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(f: String, qe: QueryExecution, d: Long): Unit = if (counting) {
      val ph = qe.tracker.phases
      add("qe", 1)
      add("analysis_ms", ph.get("analysis").map(_.durationMs).getOrElse(0L))
      add("optimization_ms", ph.get("optimization").map(_.durationMs).getOrElse(0L))
      add("planning_ms", ph.get("planning").map(_.durationMs).getOrElse(0L))
    }
    override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  // ---- streaming progress: the data (points) query vs the rest ----
  @volatile var dataQueryId: Option[java.util.UUID] = None
  @volatile var published: () => Long = () => 0L
  private val dataProgress = new ConcurrentLinkedQueue[StreamingQueryListener.QueryProgressEvent]()
  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (counting) {
        val p = e.progress
        val trigger = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
        p.stateOperators.foreach(s => max("state_rows_max", s.numRowsTotal))
        if (dataQueryId.contains(p.id)) {
          dataProgress.add(e)
          p.sources.headOption.flatMap(s => Option(s.endOffset)).foreach { off =>
            scala.util.Try(off.trim.toLong).foreach(end => max("source_lag_rows_max", published() - end))
          }
        } else add("other_busy_ms", trigger)
      }
  }
  private def max(k: String, v: Long): Unit =
    c.computeIfAbsent(k, _ => new AtomicLong).accumulateAndGet(v, (a, b) => math.max(a, b))

  if (on) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  private var w0Ns = 0L
  private var w1Ns = 0L
  private var w0Ms = 0L
  private var w1Ms = 0L
  private var gc0 = 0L
  private var gc1 = 0L

  /** Operations completed in the window (queries, statements, polls). */
  @volatile var ops: Long = 0L

  def startWindow(): Unit = {
    settle()
    w0Ns = System.nanoTime(); w0Ms = System.currentTimeMillis(); gc0 = gcMillis()
    counting = true
  }
  def endWindow(): Unit = {
    w1Ns = System.nanoTime(); w1Ms = System.currentTimeMillis(); gc1 = gcMillis()
    settle()
    counting = false
  }
  def windowSeconds: Double = (w1Ns - w0Ns) / 1e9

  /** The listener bus is asynchronous: wait until event counts stop moving. */
  private def settle(): Unit = if (on) {
    var last = -1L
    var still = 0
    val deadline = System.nanoTime() + 3000000000L
    while (still < 3 && System.nanoTime() < deadline) {
      Thread.sleep(50)
      val now = get("tasks") + get("jobs") + get("qe")
      if (now == last) still += 1 else { still = 0; last = now }
    }
  }

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(b => math.max(0L, b.getCollectionTime)).sum

  /** Fill the scheduler/JVM/streaming rows, zero every declared row the
    * workload did not drive, and write the spans.
    */
  def finish(r: Report, spansPath: Path): Unit = {
    val opsN = math.max(1L, ops).toDouble
    val wall = math.max(1e-9, windowSeconds)
    r.layer("spark.jobs_per_op", get("jobs") / opsN, "count")
    r.layer("spark.tasks_per_op", get("tasks") / opsN, "count")
    r.layer("spark.task_overhead_s",
      (get("task_dur_ms") - get("run_ms") - get("deser_ms") - get("result_ser_ms")) / 1e3, "s")
    r.layer("spark.driver_gap_s", driverGapMs() / 1e3, "s")
    val qeN = math.max(1L, get("qe")).toDouble
    r.layer("spark.analysis_ms", get("analysis_ms") / qeN, "ms")
    r.layer("spark.optimization_ms", get("optimization_ms") / qeN, "ms")
    r.layer("spark.planning_ms", get("planning_ms") / qeN, "ms")
    r.layer("spark.task_run_s", get("run_ms") / 1e3, "s")
    r.layer("spark.task_cpu_s", get("cpu_ns") / 1e9, "s")
    r.layer("spark.core_busy_frac", get("run_ms") / 1e3 / (wall * Cores), "ratio")
    r.layer("spark.input_bytes", get("input_bytes").toDouble, "bytes")
    r.layer("spark.shuffle_read_bytes", get("shuffle_read").toDouble, "bytes")
    r.layer("spark.shuffle_write_bytes", get("shuffle_write").toDouble, "bytes")
    r.layer("spark.spill_bytes", get("spill").toDouble, "bytes")
    r.layer("spark.failed_tasks", get("failed_tasks").toDouble, "count")
    val infos = spark.sparkContext.getRDDStorageInfo
    r.layer("spark.cached_bytes_end", infos.map(i => i.memSize + i.diskSize).sum.toDouble, "bytes")
    r.layer("spark.cached_rdds_end", infos.length.toDouble, "count")
    r.layer("influxql.jobs_in_plan", get("plan_jobs") / opsN, "count")

    val dp = dataProgress.asScala.toSeq.map(_.progress).filter(_.numInputRows > 0)
    def phase(k: String) = dp.map(p => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0))
    r.layer("streaming.data_batches", dp.size.toDouble, "count")
    r.layer("streaming.data_batch_ms_p50", Stats.median(phase("triggerExecution")), "ms")
    r.layer("streaming.data_batch_ms_p95", Stats.quantile(phase("triggerExecution"), 0.95), "ms")
    r.layer("streaming.data_add_batch_ms_p50", Stats.median(phase("addBatch")), "ms")
    r.layer("streaming.data_planning_ms_p50", Stats.median(phase("queryPlanning")), "ms")
    r.layer("streaming.data_get_batch_ms_p50",
      Stats.median(dp.map(p => Seq("getBatch", "latestOffset").flatMap(k =>
        Option(p.durationMs.get(k)).map(_.doubleValue)).sum)), "ms")
    r.layer("streaming.data_wal_ms_p50", Stats.median(phase("walCommit")), "ms")
    r.layer("streaming.rows_per_batch_p50", Stats.median(dp.map(_.numInputRows.toDouble)), "rows")
    r.layer("streaming.other_busy_s", get("other_busy_ms") / 1e3, "s")
    r.layer("streaming.source_lag_rows_max", get("source_lag_rows_max").toDouble, "rows")
    r.layer("streaming.state_rows_max", get("state_rows_max").toDouble, "rows")
    r.layer("jvm.gc_s", (gc1 - gc0) / 1e3, "s")

    r.e2eMetrics.get("latency_ms").foreach { case (v, _) => r.layer("trace.latency_ms", v, "ms") }
    r.e2eMetrics.get("throughput_per_s").foreach { case (v, _) => r.layer("trace.throughput_per_s", v, "1/s") }
    r.layer("trace.spans", spanCount.get.toDouble, "count")

    LayerNames.foreach { case (n, u) => if (!r.layerMetrics.contains(n)) r.layer(n, 0.0, u) }
    writeSpans(spansPath)
  }

  private def driverGapMs(): Long = {
    val iv = jobIntervals.asScala.toSeq
      .map { case (s, e) => (math.max(s, w0Ms), math.min(e, w1Ms)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var covered = 0L
    var curS = -1L
    var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) covered += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    math.max(0L, (w1Ms - w0Ms) - covered)
  }

  private def writeSpans(path: Path): Unit = {
    val sb = new java.lang.StringBuilder
    spans.asScala.foreach { s =>
      sb.append(s"""{"id":${s.id},"name":${Json.str(s.name)},"start_ns":${s.start},""" +
        s""""end_ns":${s.end},"parent":${s.parent},"op":${s.op}}""").append('\n')
    }
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}

object Trace {
  val Cores = 4
  val MaxSpans = 200000

  /** The 14 heavy queries reported one by one under `operators.`. */
  val Operators: Seq[String] = Seq(
    "q_dedup_clusters", "q_dedup_clusters_incremental", "q_dedup_incremental",
    "q_dedup_minhash", "q_dedup_substring", "q_split_leakage_safe", "q_bpe_train",
    "q_quality_classifier", "q_ann_ivf", "q_edit_distance", "q_edit_distance_bounded",
    "q_influxql_ta", "q_influxql_fill", "q_ts_gapfill")

  val Families: Seq[String] = Seq("core", "relational", "extra", "influxql", "pipeline", "curation")


  /** Every per-layer row a traced run reports, with its unit. */
  val LayerNames: Seq[(String, String)] =
    Seq("spark.jobs_per_op" -> "count", "spark.tasks_per_op" -> "count",
      "spark.task_overhead_s" -> "s", "spark.driver_gap_s" -> "s",
      "spark.analysis_ms" -> "ms", "spark.optimization_ms" -> "ms", "spark.planning_ms" -> "ms",
      "spark.task_run_s" -> "s", "spark.task_cpu_s" -> "s", "spark.core_busy_frac" -> "ratio",
      "spark.input_bytes" -> "bytes", "spark.shuffle_read_bytes" -> "bytes",
      "spark.shuffle_write_bytes" -> "bytes", "spark.spill_bytes" -> "bytes",
      "spark.failed_tasks" -> "count", "spark.cached_bytes_end" -> "bytes",
      "spark.cached_rdds_end" -> "count") ++
    Families.map(f => s"queries.${f}_s" -> "s") ++
    Operators.map(q => s"operators.${q}_s" -> "s") ++
    Seq("influxql.plan_ms" -> "ms", "influxql.exec_ms" -> "ms", "influxql.jobs_in_plan" -> "count") ++
    Seq("influxql.count_poll_ms" -> "ms", "influxql.pre_commit_error_polls" -> "count",
      "http.query_overhead_ms" -> "ms", "http.query_errors" -> "count", "http.5xx" -> "count",
      "storage.version_ms" -> "ms", "storage.read_ms" -> "ms",
      "storage.log_entries_end" -> "count", "storage.data_dirs_end" -> "count",
      "storage.files_end" -> "count", "storage.bytes_per_point" -> "bytes",
      "storage.commits" -> "count", "storage.compactions" -> "count", "storage.compact_s" -> "s",
      "streaming.data_batches" -> "count", "streaming.data_batch_ms_p50" -> "ms",
      "streaming.data_batch_ms_p95" -> "ms", "streaming.data_add_batch_ms_p50" -> "ms",
      "streaming.data_planning_ms_p50" -> "ms", "streaming.data_get_batch_ms_p50" -> "ms",
      "streaming.data_wal_ms_p50" -> "ms", "streaming.rows_per_batch_p50" -> "rows",
      "streaming.other_busy_s" -> "s", "streaming.source_lag_rows_max" -> "rows",
      "streaming.state_rows_max" -> "rows", "jvm.gc_s" -> "s",
      "trace.latency_ms" -> "ms", "trace.throughput_per_s" -> "1/s", "trace.spans" -> "count")
}
