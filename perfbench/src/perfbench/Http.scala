package perfbench

import java.net.URI
import java.net.URLEncoder
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.time.Duration

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.storage.TxLogTable

/** A minimal InfluxDB 1.x HTTP client over the JDK's HttpClient. */
final class Http(port: Int) {
  private val client = HttpClient.newBuilder()
    .version(HttpClient.Version.HTTP_1_1)
    .connectTimeout(Duration.ofSeconds(10)).build()
  private def enc(s: String) = URLEncoder.encode(s, StandardCharsets.UTF_8)
  private val base = s"http://127.0.0.1:$port"

  /** GET /query; returns (status, body). */
  def query(db: String, q: String): (Int, String) = {
    val req = HttpRequest.newBuilder(URI.create(s"$base/query?db=${enc(db)}&epoch=u&q=${enc(q)}"))
      .timeout(Duration.ofSeconds(60)).GET().build()
    val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
    (resp.statusCode(), resp.body())
  }

}

object Http {
  /** One series of a /query answer: name, tags, column names, rows. */
  final case class Series(name: String, tags: Map[String, String], columns: Seq[String],
                          values: Seq[Seq[com.fasterxml.jackson.databind.JsonNode]]) {
    /** Column `c` of every row (null nodes where the row is short). */
    def column(c: String): Seq[com.fasterxml.jackson.databind.JsonNode] = {
      val i = columns.indexOf(c)
      values.map(row => if (i >= 0 && i < row.size) row(i) else null)
    }
  }

  /** The single value of column `c` of a one-row answer. */
  def scalar(body: String, c: String): Option[Long] =
    series(body).toOption.flatMap(_.headOption).flatMap(_.column(c).headOption)
      .flatMap(Option(_)).map(_.asLong)

  /** The first statement's series, or its error text. */
  def series(body: String): Either[String, Seq[Series]] = {
    val res = Json.parse(body).path("results").path(0)
    if (res.has("error")) Left(res.get("error").asText())
    else Right(res.path("series").elements().asScala.toSeq.map { s =>
      Series(s.path("name").asText(""),
        s.path("tags").fields().asScala.map(e => e.getKey -> e.getValue.asText()).toMap,
        s.path("columns").elements().asScala.map(_.asText()).toSeq,
        s.path("values").elements().asScala.map(_.elements().asScala.toSeq).toSeq)
    })
  }
}

/** Read-side probes of a TxLogTable, for the storage rows. */
object StorageProbe {

  /** Milliseconds of `TxLogTable.version` and of `read()` (plan only). */
  def probe(spark: SparkSession, path: String, trace: Trace): (Double, Double) = {
    val t = new TxLogTable(spark, path)
    val t0 = System.nanoTime()
    val v = trace.span("storage.version")(_ => t.version)
    val t1 = System.nanoTime()
    if (v.isDefined) trace.span("storage.read")(_ => t.read())
    val t2 = System.nanoTime()
    (Stats.ms(t1 - t0), Stats.ms(t2 - t1))
  }

  /** Polls [[probe]] every `periodMs` on a daemon thread until stopped. */
  final class Sampler(spark: SparkSession, path: String, trace: Trace, periodMs: Long) {
    @volatile private var running = true
    private val samples = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double)]()
    private val thread = new Thread(() => {
      while (running) {
        try samples.add(probe(spark, path, trace))
        catch { case _: Exception => () }
        Thread.sleep(periodMs)
      }
    }, "perfbench-storage-probe")
    thread.setDaemon(true)
    thread.start()
    def stop(): (Double, Double) = {
      running = false
      thread.join()
      val s = samples.asScala.toSeq
      (Stats.median(s.map(_._1)), Stats.median(s.map(_._2)))
    }
  }

  /** End-of-run storage rows of the points table: log entries, live data
    * dirs and files, bytes per committed point, commits and compactions,
    * and one timed compaction sweep over `dataRoot`.
    */
  def report(spark: SparkSession, dataRoot: String, path: String,
             points: Long, sampled: (Double, Double), r: Report): Unit = {
    val t = new TxLogTable(spark, path)
    val v1 = t.version.getOrElse(-1L)
    val logDir = Paths.get(path, "_txlog")
    val entries = Files.list(logDir).iterator().asScala.count(_.getFileName.toString.matches("\\d+\\.json"))
    val dirs = if (v1 >= 0) t.dirPaths(v1) else Nil
    val files = dirs.flatMap { d =>
      val s = Files.walk(Paths.get(d))
      try s.iterator().asScala.filter(p => Files.isRegularFile(p) && p.toString.endsWith(".parquet")).toList
      finally s.close()
    }
    val bytes = files.map(Files.size).sum
    r.layer("storage.version_ms", sampled._1, "ms")
    r.layer("storage.read_ms", sampled._2, "ms")
    r.layer("storage.log_entries_end", entries.toDouble, "count")
    r.layer("storage.data_dirs_end", dirs.size.toDouble, "count")
    r.layer("storage.files_end", files.size.toDouble, "count")
    r.layer("storage.bytes_per_point", if (points > 0) bytes.toDouble / points else 0.0, "bytes")
    r.layer("storage.commits", (v1 + 1).toDouble, "count")
    r.layer("storage.compactions", (0L to v1).count(v => t.opOf(v) == "compact").toDouble, "count")
    val c0 = System.nanoTime()
    graft.ServiceMain.compactionSweep(spark, dataRoot)
    r.layer("storage.compact_s", (System.nanoTime() - c0) / 1e9, "s")
  }
}
