package perfbench

import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}

import graft.ServiceMain
import graft.influxql.InfluxCatalog
import graft.streaming.{InProcessTransport, MqttBus, RegistryMaintenance}

/** `live_ingest`: the service path, from an MQTT publish to a point that
  * `/query` counts.
  *
  * `ServiceMain.start` runs with the in-process transport, trigger
  * ProcessingTime(0) and an ephemeral HTTP port. Set-up registers 20
  * devices through CDC events. One open-loop publisher then sends a seeded
  * mix to `MqttBus` at a fixed rate, and one poller runs
  * `SELECT count(num) FROM temp` in a closed loop; a point's freshness is
  * its scheduled publish time to the start of the first poll that counts
  * it. A warm-up phase (traffic and one burst) runs first and is not
  * measured. Once the steady phase is all counted, fixed bursts are timed
  * until the data query commits the batch that holds their last message,
  * read from that batch's progress event; the poller must then count all
  * of it. A poll takes about a second, too coarse a clock for a drain of
  * a few seconds.
  */
object LiveIngest {

  val Rate = 200 // messages per second in the steady phase
  val Burst = 30000
  val Bursts = 3
  val WarmupS = 3
  val Devices = 20
  val Db = "live"
  val ServiceId = "bench"

  /** What one published message is, for the end-of-run checks. */
  sealed trait Kind
  case object Tracked extends Kind      // registered device, numeric temp: the poll counts it
  case object OtherPoint extends Kind   // registered device, other transducer or type
  case object Unregistered extends Kind // numeric temp from a device never registered
  case object DeadLetter extends Kind   // a topic no query routes

  def message(r: scala.util.Random): (Kind, String, String) = {
    val dev = f"d${r.nextInt(Devices)}%02d"
    r.nextInt(100) match {
      case u if u < 50 => (Tracked, s"openchirp/device/$dev/temp", f"${r.nextInt(40000) / 1000.0}%.3f")
      case u if u < 65 => (OtherPoint, s"openchirp/device/$dev/hum", f"${r.nextInt(1000) / 10.0}%.1f")
      case u if u < 75 => (OtherPoint, s"openchirp/device/$dev/on", if (r.nextBoolean()) "true" else "false")
      case u if u < 85 => (OtherPoint, s"openchirp/device/$dev/mode", Seq("auto", "eco", "off")(r.nextInt(3)))
      case u if u < 95 => (Unregistered, f"openchirp/device/u${r.nextInt(10)}%02d/temp", "1.5")
      case _ => (DeadLetter, s"noise/${r.nextInt(5)}", "x")
    }
  }

  def run(spark: SparkSession, a: Main.Args, trace: Trace, r: Report): Unit = {
    // set-up: service start + 20 devices registered through CDC, three
    // times on fresh directories; the third service stays up
    var handles: Option[ServiceMain.Handles] = None
    var dir = ""
    val setups = (1 to 3).map { i =>
      handles.foreach(ServiceMain.stop)
      MqttBus.clear()
      dir = a.work.resolve(s"service-$i").toString
      val t0 = System.nanoTime()
      handles = Some(startService(spark, dir))
      (System.nanoTime() - t0) / 1e9
    }
    r.e2e("setup_s", Stats.median(setups), "s")
    val h = handles.get
    try measure(spark, a, trace, r, h, dir)
    finally ServiceMain.stop(h)
  }

  /** `probe` re-evaluated every 20 ms until it gives a value or `timeoutS` pass. */
  private def await[T](timeoutS: Int)(probe: => Option[T]): Option[T] = {
    val deadline = System.nanoTime() + timeoutS * 1000000000L
    var hit = probe
    while (hit.isEmpty && System.nanoTime() < deadline) {
      Thread.sleep(20)
      hit = probe
    }
    hit
  }

  private def startService(spark: SparkSession, dir: String): ServiceMain.Handles = {
    val conf = Map("service_id" -> ServiceId, "data_dir" -> dir, "influx_database" -> Db,
      "http_port" -> "0")
    val h = ServiceMain.start(spark, conf, new InProcessTransport, rest = None,
      publish = (_, _) => (), trigger = Trigger.ProcessingTime(0))
    // all registrations at once, under the bus's lock, so one control
    // batch applies them rather than a varying number
    val ev = ServiceMain.eventsTopic(ServiceId)
    MqttBus.synchronized((0 until Devices).foreach { d =>
      MqttBus.publish(ev, f"""{"action":"new","thing":{"id":"d$d%02d","transducers":""" +
        """[{"name":"temp"},{"name":"hum"},{"name":"on"},{"name":"mode"}]}}""")
    })
    val deadline = System.nanoTime() + 60000000000L
    while (RegistryMaintenance.activeDevices(spark, s"$dir/registry").count() < Devices) {
      require(System.nanoTime() < deadline, "devices not registered within 60 s")
      Thread.sleep(50)
    }
    h
  }

  private def measure(spark: SparkSession, a: Main.Args, trace: Trace, r: Report,
                      h: ServiceMain.Handles, dir: String): Unit = {
    val http = new Http(h.http.get.boundPort)
    val catalog = new InfluxCatalog(spark, dir, Db)
    val pointsPath = s"$dir/$Db/points"
    trace.dataQueryId = Some(h.queries(1).id)
    trace.published = () => MqttBus.size
    val rng = new scala.util.Random(a.seed)
    val counts = scala.collection.mutable.Map[Kind, Long]().withDefaultValue(0L)
    val trackedSched = new scala.collection.mutable.ArrayBuffer[Long]() // ns, by rank

    def publish(kind: Kind, topic: String, payload: String, schedNs: Long): Unit = {
      MqttBus.publish(topic, payload.getBytes(StandardCharsets.UTF_8), System.currentTimeMillis() * 1000L)
      counts(kind) += 1
      if (kind == Tracked) trackedSched += schedNs
      r.attempted += 1
    }

    // poller: closed loop; polls answered before the first commit are the
    // engine's "unknown field" error (InfluxDB 1.x answers an empty
    // result) and are counted on their own, neither hidden nor failed
    final case class Poll(startNs: Long, count: Long, ns: Long)
    val polls = new ConcurrentLinkedQueue[Poll]()
    val preCommitErrors = new AtomicLong
    val pollFailures = new AtomicLong
    val fiveXX = new AtomicLong
    val directNs = new ConcurrentLinkedQueue[(Long, Long)]()
    @volatile var polling = true
    val pollStmt = "SELECT count(num) FROM temp"
    val poller = new Thread(() => {
      var n = 0L
      var committed = false
      while (polling) try trace.span("live.poll", n) { pollSpan =>
        val t0 = System.nanoTime()
        val (st, b) = trace.span("http.query.count_poll", n, pollSpan) { _ =>
          try http.query(Db, pollStmt) catch { case e: Exception => (-1, e.toString) }
        }
        val dt = System.nanoTime() - t0
        if (st >= 500) fiveXX.incrementAndGet()
        val ans = if (st == 200) Http.series(b) else Left(s"HTTP $st")
        ans match {
          case Right(s) =>
            committed = true
            polls.add(Poll(t0, Http.scalar(b, "count").getOrElse(0L), dt))
          case Left(err) if !committed && err.contains("unknown field") => preCommitErrors.incrementAndGet()
          case Left(err) => pollFailures.incrementAndGet(); r.fail(s"poll failed: $err")
        }
        if (trace.on && committed) directNs.add(directCall(catalog, pollStmt, n, pollSpan, trace))
        n += 1
      } catch { case e: Exception => pollFailures.incrementAndGet(); r.fail(s"poller: $e") }
    }, "perfbench-poller")

    /** Start of the first poll that counted `n` tracked points. */
    def visibleAt(n: Long, timeoutS: Int): Option[Long] =
      await(timeoutS)(polls.asScala.find(_.count >= n).map(_.startNs))

    /** Open loop at Rate for `seconds`; returns the latest lateness (ns). */
    var published = 0L
    def openLoop(seconds: Int): Long = {
      val w0 = System.nanoTime()
      var lateMax = 0L
      (0L until seconds.toLong * Rate).foreach { i =>
        val sched = w0 + i * 1000000000L / Rate
        val now = System.nanoTime()
        if (now < sched) Thread.sleep((sched - now) / 1000000L, ((sched - now) % 1000000L).toInt)
        else lateMax = math.max(lateMax, now - sched)
        val (k, t, p) = message(rng)
        trace.span("mqtt.publish", published)(_ => publish(k, t, p, sched))
        published += 1
      }
      lateMax
    }

    // bursts: the drain rate's clock is the data query's progress event
    // for the batch holding a burst's last message, not the next poll
    val commits = new ConcurrentLinkedQueue[(Long, Long)]() // (end offset, batch end epoch ms)
    val dataId = h.queries(1).id
    val commitListener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        if (p.id == dataId) for {
          s <- p.sources.headOption
          end <- scala.util.Try(s.endOffset.trim.toLong).toOption
          ms <- Option(p.durationMs.get("triggerExecution"))
        } commits.add((end, java.time.Instant.parse(p.timestamp).toEpochMilli + ms.longValue))
      }
    }
    def committedAt(end: Long, timeoutS: Int): Option[Long] =
      await(timeoutS)(commits.asScala.find(_._1 >= end).map(_._2))

    /** One burst once every query has caught up, put on the bus at once
      * under the bus's lock so no micro-batch sees part of it; seconds from
      * the first send until the data query commits the batch holding the
      * last message. The poller must then count all of it.
      */
    def burst(label: String): Double = {
      h.queries.foreach(_.processAllAvailable())
      val msgs = Seq.fill(Burst)(message(rng))
      val b0Ms = System.currentTimeMillis()
      val b0 = System.nanoTime()
      val end = MqttBus.synchronized {
        msgs.foreach { case (k, t, p) => publish(k, t, p, b0) }
        MqttBus.size
      }
      r.check(visibleAt(trackedSched.size, 90).isDefined, s"$label burst: ${trackedSched.size} points not visible within 90 s")
      val committed = committedAt(end, 30)
      r.check(committed.isDefined, s"$label burst: no data-query progress reached offset $end")
      committed.map(c => (c - b0Ms) / 1e3).getOrElse(Double.NaN)
    }

    // warm-up: the poller starts before the first commit, so its early
    // polls meet the pre-commit answer; WarmupS seconds of traffic and one
    // burst, then wait until all of it is counted
    spark.streams.addListener(commitListener)
    poller.start()
    openLoop(WarmupS)
    r.check(visibleAt(trackedSched.size, 60).isDefined, "warm-up points not visible within 60 s")
    burst("warm-up")
    h.queries.foreach(_.processAllAvailable())
    val warmTracked = trackedSched.size

    trace.startWindow()
    val storageSampler = if (trace.on) Some(new StorageProbe.Sampler(spark, pointsPath, trace, 250)) else None
    // steady phase: open loop at Rate, times from the scheduled send
    val lateMax = openLoop(a.seconds)
    val steadyTracked = trackedSched.size

    // timed bursts once the steady phase is all counted; the drain rate is
    // their median
    r.check(visibleAt(steadyTracked, 60).isDefined, "steady-phase points not visible within 60 s")
    val drains = (1 to Bursts).map(i => burst(s"timed $i"))
    spark.streams.removeListener(commitListener)
    val drainS = Stats.median(drains)
    polling = false
    poller.join()
    trace.ops = polls.size
    trace.endWindow()
    val sampled = storageSampler.map(_.stop()).getOrElse((0.0, 0.0))

    // freshness of each steady-phase point: first poll start counting it
    val ps = polls.asScala.toIndexedSeq
    val fresh = new scala.collection.mutable.ArrayBuffer[Double]()
    var j = 0
    (warmTracked until steadyTracked).foreach { rank =>
      while (j < ps.size && ps(j).count < rank + 1) j += 1
      if (j < ps.size) fresh += (ps(j).startNs - trackedSched(rank)) / 1e6
    }
    r.e2e("latency_ms", Stats.median(fresh.toSeq), "ms")
    r.e2e("tail_latency_ms", Stats.quantile(fresh.toSeq, 0.99), "ms")
    r.e2e("throughput_per_s", Burst / drainS, "1/s")
    r.named("ingest_freshness_p50_ms", Stats.median(fresh.toSeq), "ms")
    r.named("ingest_freshness_p99_ms", Stats.quantile(fresh.toSeq, 0.99), "ms")
    r.named("ingest_drain_rows_per_s", Burst / drainS, "rows/s")
    r.named("pre_commit_error_polls", preCommitErrors.get.toDouble, "count")
    r.note("live.freshness_samples", fresh.size)
    r.note("live.polls", ps.size)
    r.note("live.poll_p50_ms", Stats.median(ps.map(p => Stats.ms(p.ns))))
    r.note("live.publisher_late_ms_max", lateMax / 1e6)
    r.note("live.burst_drain_s", drains.map(d => f"$d%.3f").mkString(","))
    r.attempted += ps.size + preCommitErrors.get + pollFailures.get
    r.failed += pollFailures.get

    // exactly once, registry-gated, dead letters all quarantined
    h.queries.foreach(q => if (q.isActive) q.processAllAvailable())
    val pts = catalog.points(Db)
    val registered = counts(Tracked) + counts(OtherPoint)
    val nPts = pts.count()
    r.check(nPts == registered, s"points table holds $nPts rows, $registered registered points were published")
    val unreg = pts.filter(col("device_id").startsWith("u")).count()
    r.check(unreg == 0, s"$unreg points of unregistered devices were committed")
    val (cst, cb) = http.query(Db, pollStmt)
    val temp = Http.scalar(cb, "count")
    r.check(cst == 200 && temp.contains(counts(Tracked)), s"count(num) FROM temp = $temp, published ${counts(Tracked)}")
    val dl = spark.read.parquet(s"$dir/dead_letter").count()
    r.check(dl == counts(DeadLetter), s"dead letters: $dl stored, ${counts(DeadLetter)} sent")

    if (trace.on) {
      val direct = directNs.asScala.toSeq
      val directMs = direct.map { case (p, e) => Stats.ms(p + e) }
      r.layer("influxql.plan_ms", Stats.median(direct.map(d => Stats.ms(d._1))), "ms")
      r.layer("influxql.exec_ms", Stats.median(direct.map(d => Stats.ms(d._2))), "ms")
      r.layer("influxql.count_poll_ms", Stats.median(directMs), "ms")
      r.layer("http.query_overhead_ms", Stats.median(ps.map(p => Stats.ms(p.ns))) - Stats.median(directMs), "ms")
      r.layer("http.query_errors", pollFailures.get.toDouble, "count")
      r.layer("http.5xx", fiveXX.get.toDouble, "count")
      r.layer("influxql.pre_commit_error_polls", preCommitErrors.get.toDouble, "count")
      StorageProbe.report(spark, dir, pointsPath, nPts, sampled, r)
    }
  }

  /** The poll straight on the catalog: (plan ns, consume ns). Jobs Spark
    * starts while the statement plans are counted as planning jobs.
    */
  private def directCall(catalog: InfluxCatalog, text: String, op: Long, parent: Long,
                         trace: Trace): (Long, Long) = {
    val sc = catalog.spark.sparkContext
    val t0 = System.nanoTime()
    sc.setLocalProperty(trace.PhaseKey, "plan")
    val df = try trace.span("influxql.plan", op, parent)(_ => catalog.run(text))
    finally sc.setLocalProperty(trace.PhaseKey, null)
    val t1 = System.nanoTime()
    trace.span("influxql.exec", op, parent)(_ => df.collect())
    (t1 - t0, System.nanoTime() - t1)
  }
}
