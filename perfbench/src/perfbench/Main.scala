package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Benchmark entry point: one workload, one JVM, one result file.
  *
  *   perfbench.Main <workload> <seed> <seconds> <trace 0|1> <work dir> <result file> <perfbench dir>
  *
  * `run.py` compiles this package together with the engine sources and
  * launches it; the result file is the whole record (end-to-end metrics,
  * the workload's own metric names, per-layer metrics when traced, and
  * every correctness failure), so nothing depends on parsing the JVM's
  * stdout.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
                        work: Path, result: Path, home: Path)

  /** Analytics-only maintenance mode: `expect <work dir> <expected file>`
    * writes the fixed tables and the fingerprint file the analytics
    * workload checks against.
    */
  def main(argv: Array[String]): Unit = {
    if (argv.headOption.contains("expect")) {
      val spark = session(Paths.get(argv(1)))
      try Analytics.writeExpected(spark, Paths.get(argv(1)), Paths.get(argv(2)))
      finally spark.stop()
      return
    }
    val a = Args(argv(0), argv(1).toLong, argv(2).toInt, argv(3) == "1",
      Paths.get(argv(4)), Paths.get(argv(5)), Paths.get(argv(6)))
    val report = new Report
    val spark = session(a.work)
    try {
      val trace = new Trace(spark, a.trace)
      a.workload match {
        case "analytics" => Analytics.run(spark, a, trace, report)
        case "live_ingest" => LiveIngest.run(spark, a, trace, report)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      report.e2e("heap_retained_mb", retainedHeapMb(), "MB")
      report.named("ops_failed_frac", report.failed.toDouble / math.max(1L, report.attempted), "ratio")
      if (a.trace) trace.finish(report, a.work.resolve(s"spans-${a.workload}-${a.seed}.jsonl"))
    } catch {
      case e: Throwable =>
        report.fail(s"workload aborted: $e")
        e.printStackTrace()
    } finally {
      Files.write(a.result, report.json.getBytes(StandardCharsets.UTF_8))
      spark.stop()
    }
    // a thread the engine left running must not keep the process alive
    System.exit(0)
  }

  /** The engine's session factory at the benchmark's sizing: local[4],
    * four shuffle partitions, every scratch directory inside `work`.
    */
  def session(work: Path): SparkSession = {
    Files.createDirectories(work)
    val spark = graft.GraftSession.builder("perfbench", cores = "4")
      .master("local[4]")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.checkpointLocation", work.resolve("checkpoints").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("hadoop-tmp").toString)
      .getOrCreate()
    graft.GraftSession.prepare(spark)
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Used heap after a forced full collection — what the run left reachable. */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(100) }
    (rt.totalMemory() - rt.freeMemory()) / (1024.0 * 1024.0)
  }
}

/** Everything one run reports. `e2e` are the workload-independent
  * end-to-end metrics BENCHMARK.json bounds; `named` are the workload's
  * own metric names (analytics_total_s, ingest_freshness_p99_ms, ...);
  * `layer` the traced per-layer metrics.
  */
final class Report {
  val e2eMetrics = mutable.LinkedHashMap[String, (Double, String)]()
  val namedMetrics = mutable.LinkedHashMap[String, (Double, String)]()
  val layerMetrics = mutable.LinkedHashMap[String, (Double, String)]()
  val failures = mutable.ArrayBuffer[String]()
  val notes = mutable.LinkedHashMap[String, String]()
  var attempted = 0L
  var failed = 0L

  def e2e(name: String, v: Double, unit: String): Unit = e2eMetrics(name) = (v, unit)
  def named(name: String, v: Double, unit: String): Unit = namedMetrics(name) = (v, unit)
  def layer(name: String, v: Double, unit: String): Unit = layerMetrics(name) = (v, unit)
  def note(k: String, v: Any): Unit = notes(k) = String.valueOf(v)
  def fail(msg: String): Unit = synchronized {
    if (failures.size < 50) failures += msg
    System.err.println(s"[perfbench] CHECK FAILED: $msg")
  }
  def check(ok: Boolean, msg: => String): Unit = if (!ok) fail(msg)

  def json: String = {
    def metrics(m: mutable.LinkedHashMap[String, (Double, String)]) =
      m.map { case (k, (v, u)) =>
        s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
      }.mkString("{", ",", "}")
    s"""{"correct":${failures.isEmpty},"attempted":$attempted,"failed":$failed,""" +
      s""""e2e":${metrics(e2eMetrics)},"named":${metrics(namedMetrics)},""" +
      s""""layer":${metrics(layerMetrics)},""" +
      s""""failures":${failures.map(Json.str).mkString("[", ",", "]")},""" +
      s""""notes":${notes.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")}}"""
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def parse(s: String): com.fasterxml.jackson.databind.JsonNode = mapper.readTree(s)
}

object Stats {
  /** Type-7 (linear interpolation) quantile of `xs`, 0 when empty. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val h = (s.size - 1) * q
    val lo = math.floor(h).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (h - lo) * (s(hi) - s(lo))
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)
  def ms(nanos: Long): Double = nanos / 1e6
}
