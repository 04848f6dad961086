package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.security.MessageDigest
import java.time.LocalDateTime

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** `analytics`: the batch path. A fixed list of declared queries
  * (`SparkEntry.queries`) runs in a closed loop with one client over
  * tables this file generates. Each query is forced through the noop sink
  * and the cache is cleared between queries (Bench's method).
  *
  * The tables come from a FIXED data seed, so every query's answer is
  * known in advance: the untimed warm-up pass collects each result and
  * compares its row count and order-insensitive fingerprint with
  * `expected/analytics.tsv`. The run seed permutes the query order of the
  * warm-up pass and of every timed pass.
  */
object Analytics {

  /** The 14 `Trace.Operators` heavies plus one cheap query of each family
    * they leave out (core, relational), so every family is timed. A pass
    * of all 162 declared queries does not fit the run budget.
    */
  val Selected: Seq[String] = Trace.Operators ++ Seq("q_bucket_10m", "q_asof_join")

  /** Fixture scale: 1.0 = the row counts of the sf0.01 test tables. */
  val Scale = 0.5
  val DataSeed = 42L

  def family(q: String): String =
    if (graft.queries.RelationalQueries.queries.contains(q)) "relational"
    else if (graft.queries.ExtraQueries.queries.contains(q)) "extra"
    else if (graft.queries.InfluxQLQueries.queries.contains(q)) "influxql"
    else if (graft.queries.PipelineQueries.queries.contains(q)) "pipeline"
    else if (graft.queries.CurationQueries.queries.contains(q)) "curation"
    else "core"

  def run(spark: SparkSession, a: Main.Args, trace: Trace, r: Report): Unit = {
    val all = graft.SparkEntry.queries
    val expected = readExpected(a.home.resolve("expected/analytics.tsv"))
    val rng = new scala.util.Random(a.seed)

    // set-up: write the tables three times, report the median
    val setups = (1 to 3).map { i =>
      val dir = a.work.resolve(s"tables-$i")
      val t0 = System.nanoTime()
      Gen.write(spark, dir)
      (System.nanoTime() - t0) / 1e9 -> dir
    }
    r.e2e("setup_s", Stats.median(setups.map(_._1)), "s")
    val dir = setups.last._2.toString

    // warm-up + correctness pass (untimed)
    rng.shuffle(Selected).foreach { q =>
      r.attempted += 1
      try {
        val (rows, fp) = trace.span(s"analytics.check.$q")(_ => fingerprint(all(q)(spark, dir)))
        expected.get(q) match {
          case Some((er, efp)) =>
            r.check(er == rows && efp == fp, s"$q: got $rows rows fp $fp, expected $er rows fp $efp")
          case None => r.fail(s"$q: no expected fingerprint")
        }
      } catch { case e: Throwable => r.failed += 1; r.fail(s"$q failed: ${firstLine(e)}") }
      finally spark.catalog.clearCache()
    }

    // timed window: closed loop, one client, whole passes in a seeded
    // order until `seconds` have passed; a failed query is counted and
    // never timed
    val samples = scala.collection.mutable.Map[String, Vector[Double]]()
    trace.startWindow()
    val w0 = System.nanoTime()
    var pass = 0
    while (pass == 0 || System.nanoTime() - w0 < a.seconds * 1000000000L) {
      rng.shuffle(Selected).foreach { q =>
        r.attempted += 1
        try {
          val dt = trace.span(s"analytics.query.$q", op = r.attempted) { _ =>
            val t0 = System.nanoTime()
            all(q)(spark, dir).write.format("noop").mode("overwrite").save()
            (System.nanoTime() - t0) / 1e9
          }
          samples(q) = samples.getOrElse(q, Vector.empty) :+ dt
          trace.ops += 1
        } catch { case e: Throwable => r.failed += 1; r.fail(s"$q failed: ${firstLine(e)}") }
        finally spark.catalog.clearCache()
      }
      pass += 1
    }
    val wall = (System.nanoTime() - w0) / 1e9
    trace.endWindow()

    val med = samples.map { case (q, xs) => q -> Stats.median(xs) }
    val perQueryMs = med.values.map(_ * 1000).toSeq
    val n = samples.values.map(_.size).sum
    r.e2e("latency_ms", Stats.geomean(perQueryMs), "ms")
    r.e2e("tail_latency_ms", Stats.quantile(perQueryMs, 0.9), "ms")
    r.e2e("throughput_per_s", n / wall, "1/s")
    r.named("analytics_total_s", med.values.sum, "s")
    r.named("analytics_geomean_ms", Stats.geomean(perQueryMs), "ms")
    r.note("analytics.timed_samples", n)
    r.note("analytics.passes", pass)
    med.toSeq.sortBy(-_._2).foreach { case (q, v) => r.note(s"analytics.s.$q", f"$v%.3f") }
    if (trace.on) {
      Trace.Families.foreach { f =>
        r.layer(s"queries.${f}_s", med.filter { case (q, _) => family(q) == f }.values.sum, "s")
      }
      Trace.Operators.foreach(q => med.get(q).foreach(v => r.layer(s"operators.${q}_s", v, "s")))
    }
  }

  def firstLine(e: Throwable): String =
    Option(e.getMessage).getOrElse(e.getClass.getName).linesIterator.nextOption().getOrElse("").take(200)

  // ---------------- fingerprints ----------------

  /** Row count and an order-insensitive fingerprint: the sum (mod 2^64) of
    * one md5-derived long per row, over columns taken in name order.
    * Doubles render with every digit, so a one-ulp change shows.
    */
  def fingerprint(df: DataFrame): (Long, String) = {
    val names = df.columns.zipWithIndex.sortBy(_._1).map(_._2)
    val rows = df.collect()
    val md = MessageDigest.getInstance("MD5")
    var acc = 0L
    rows.foreach { row =>
      val s = names.map(i => render(row.get(i))).mkString("\u0001")
      val d = md.digest(s.getBytes(StandardCharsets.UTF_8))
      acc += java.nio.ByteBuffer.wrap(d).getLong
    }
    (rows.length.toLong, f"$acc%016x")
  }

  private def render(v: Any): String = v match {
    case null => "\u0000"
    case d: Double => java.lang.Double.toString(d)
    case f: Float => java.lang.Float.toString(f)
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString
    case r: Row => (0 until r.length).map(i => render(r.get(i))).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] => m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case b: java.math.BigDecimal => b.toPlainString
    case other => other.toString
  }

  def readExpected(p: Path): Map[String, (Long, String)] =
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.filterNot(l => l.startsWith("#") || l.isBlank).map { l =>
      val Array(q, rows, fp) = l.split("\t")
      q -> (rows.toLong, fp)
    }.toMap

  /** Maintenance: regenerate the expected file from the current engine. Run
    * it only after the same tables passed the DuckDB oracle gate.
    */
  def writeExpected(spark: SparkSession, work: Path, out: Path): Unit = {
    val dir = work.resolve("tables-expected")
    Gen.write(spark, dir)
    val lines = Selected.sorted.map { q =>
      val (rows, fp) = fingerprint(graft.SparkEntry.queries(q)(spark, dir.toString))
      spark.catalog.clearCache()
      s"$q\t$rows\t$fp"
    }
    Files.write(out, (s"# query\trows\tfingerprint (perfbench.Analytics.fingerprint, tables of Gen at scale $Scale, data seed $DataSeed)" +:
      lines).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    println(s"[perfbench] wrote ${lines.size} fingerprints to $out; tables in $dir")
  }

  // ---------------- table generator ----------------

  /** Tables with the schemas and value distributions of the engine's test
    * fixtures (customer, orders, lineitem, events, documents, ...), drawn
    * from one fixed seed. Timestamps are written as TIMESTAMP_NTZ, the
    * layout of the fixture files.
    */
  object Gen {
    private val words = Seq("spark", "window", "merge", "table", "column", "vector", "stream",
      "value", "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
      "order", "slow", "line", "part", "fast", "row", "the", "agg", "key", "query", "a",
      "scan", "batch")
    private val segments = Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
    private val colors = Seq("blue", "cold", "hot", "large", "red", "small", "green", "steel")
    private val nouns = Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
    private val ptypes = Seq("ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO")
    private val priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
    private val eventTypes = Seq("click", "error", "purchase", "signup", "view")

    private def n(base: Int) = math.max(1, (base * Scale).round.toInt)
    private def r2(x: Double) = math.round(x * 100) / 100.0
    private def day(r: java.util.SplittableRandom, from: LocalDateTime, days: Int) =
      from.plusDays(r.nextInt(days).toLong)

    def write(spark: SparkSession, dir: Path): Unit = {
      val r = new java.util.SplittableRandom(DataSeed)
      val nCust = n(1500); val nSupp = n(100); val nPart = n(2000); val nOrd = n(15000)
      val nLine = n(60000); val nEv = n(10000); val nDoc = n(500); val nEmb = n(500)
      val nUsers = n(150)
      // one parquet FILE per table, like the fixtures (the engine keys its
      // persisted indexes on the file's identity)
      def save(name: String, schema: StructType, rows: Seq[Row]): Unit = {
        val tmp = dir.resolve(s"_$name")
        spark.createDataFrame(rows.asJava, schema).coalesce(1).write.mode("overwrite")
          .option("compression", "snappy").parquet(tmp.toString)
        val part = Files.list(tmp).iterator().asScala
          .find(p => p.getFileName.toString.startsWith("part-")).get
        Files.move(part, dir.resolve(s"$name.parquet"), java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        Files.list(tmp).iterator().asScala.foreach(Files.delete)
        Files.delete(tmp)
      }
      def f(name: String, t: DataType) = StructField(name, t)

      save("region", StructType(Seq(f("r_regionkey", IntegerType), f("r_name", StringType))),
        Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").zipWithIndex.map { case (s, i) => Row(i, s) })
      save("nation", StructType(Seq(f("n_nationkey", IntegerType), f("n_name", StringType),
        f("n_regionkey", IntegerType))), (0 until 25).map(i => Row(i, s"NATION_$i", i % 5)))
      save("customer", StructType(Seq(f("c_custkey", LongType), f("c_name", StringType),
        f("c_nationkey", IntegerType), f("c_acctbal", DoubleType), f("c_mktsegment", StringType))),
        (0 until nCust).map(k => Row(k.toLong, f"Customer#$k%09d", r.nextInt(25),
          r2(r.nextDouble(-999.99, 9999.99)), segments(r.nextInt(5)))))
      save("supplier", StructType(Seq(f("s_suppkey", LongType), f("s_name", StringType),
        f("s_nationkey", IntegerType), f("s_acctbal", DoubleType))),
        (0 until nSupp).map(k => Row(k.toLong, f"Supplier#$k%09d", r.nextInt(25),
          r2(r.nextDouble(-999.99, 9999.99)))))
      save("part", StructType(Seq(f("p_partkey", LongType), f("p_name", StringType),
        f("p_brand", StringType), f("p_type", StringType), f("p_size", IntegerType),
        f("p_retailprice", DoubleType))),
        (0 until nPart).map(k => Row(k.toLong, s"${colors(r.nextInt(colors.size))} ${nouns(r.nextInt(nouns.size))}",
          s"Brand#${1 + r.nextInt(25)}", ptypes(r.nextInt(6)), 1 + r.nextInt(50),
          math.round((900.0 + (k % 1000) * 0.1) * 10) / 10.0)))
      val d95 = LocalDateTime.of(1995, 1, 1, 0, 0)
      save("orders", StructType(Seq(f("o_orderkey", LongType), f("o_custkey", LongType),
        f("o_orderstatus", StringType), f("o_totalprice", DoubleType),
        f("o_orderdate", TimestampNTZType), f("o_orderpriority", StringType))),
        (0 until nOrd).map(k => Row(k.toLong, r.nextInt(nCust).toLong, Seq("F", "O", "P")(r.nextInt(3)),
          r2(r.nextDouble(1000.0, 500000.0)), day(r, d95, 2404), priorities(r.nextInt(5)))))
      save("lineitem", StructType(Seq(f("l_orderkey", LongType), f("l_partkey", LongType),
        f("l_suppkey", LongType), f("l_linenumber", IntegerType), f("l_quantity", DoubleType),
        f("l_extendedprice", DoubleType), f("l_discount", DoubleType), f("l_tax", DoubleType),
        f("l_returnflag", StringType), f("l_linestatus", StringType), f("l_shipdate", TimestampNTZType))),
        (0 until nLine).map(_ => Row(r.nextInt(nOrd).toLong, r.nextInt(nPart).toLong,
          r.nextInt(nSupp).toLong, 1 + r.nextInt(7), (1 + r.nextInt(50)).toDouble,
          r2(r.nextDouble(900.0, 105000.0)), r.nextInt(11) / 100.0, r.nextInt(9) / 100.0,
          Seq("A", "N", "R")(r.nextInt(3)), Seq("F", "O")(r.nextInt(2)), day(r, d95.plusDays(1), 2498))))
      val jan = LocalDateTime.of(2024, 1, 1, 0, 0)
      val spanUs = 30L * 86400L * 1000000L
      save("events", StructType(Seq(f("event_id", LongType), f("ts", TimestampNTZType),
        f("user_id", LongType), f("event_type", StringType), f("value", DoubleType),
        f("props", StringType))),
        (0 until nEv).map { i =>
          val us = (i.toLong * spanUs + r.nextLong(spanUs)) / nEv
          Row(i.toLong, jan.plusNanos(us * 1000L), r.nextInt(nUsers).toLong,
            eventTypes(r.nextInt(5)), r2(-50.0 * math.log(1.0 - r.nextDouble())),
            s"""{"k": ${r.nextInt(100)}}""")
        })
      val texts = new scala.collection.mutable.ArrayBuffer[String]()
      save("documents", StructType(Seq(f("doc_id", LongType), f("text", StringType),
        f("lang", StringType), f("source", StringType), f("n_chars", LongType))),
        (0 until nDoc).map { i =>
          val text =
            if (i > 0 && r.nextInt(20) == 0) texts(r.nextInt(texts.size)) + " dup"
            else (0 until 10 + r.nextInt(91)).map(_ => words(r.nextInt(words.size))).mkString(" ")
          texts += text
          val u = r.nextInt(100)
          val lang = if (u < 40) "en" else Seq("de", "es", "fr", "zh")((u - 40) / 15)
          Row(i.toLong, text, lang, s"src${i % 20}", text.length.toLong)
        })
      save("embeddings", StructType(Seq(f("vec_id", LongType),
        f("embedding", ArrayType(FloatType)), f("label", IntegerType))),
        (0 until nEmb).map { i =>
          val g = Array.fill(64)(gaussian(r))
          val norm = math.sqrt(g.map(x => x * x).sum)
          Row(i.toLong, g.map(x => (x / norm).toFloat).toSeq, r.nextInt(10))
        })
    }

    private def gaussian(r: java.util.SplittableRandom): Double =
      math.sqrt(-2.0 * math.log(1.0 - r.nextDouble())) * math.cos(2 * math.Pi * r.nextDouble())
  }
}
