package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._

import graft.SparkEntry
import graft.operators.{DailyFlow, Enrich, Flatten}
import graft.sources.IngestionEngine

/**
 * Benchmark harness: one JVM runs one workload for a time window and
 * writes `result.json` (metrics, outputs checked, failures) into the
 * work directory. `run.py` builds this, prepares inputs, launches it and
 * prints the final report.
 *
 * Arguments: --workload W --seed N --seconds S --trace 0|1 --work DIR
 * --cores N [--data DIR --prep-s X] (query workloads).
 */
object Main {

  /** Registry queries of the `registry_queries` workload: an iterative
    * graph loop whose time is spent building (one Barrier-cut job per
    * round) and a multi-way TPC-H join whose time is spent executing. */
  val RegistryQueries: Seq[String] = Seq("q241_bfs_hops", "q180_tpch21")

  final class Report {
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    val problems = mutable.ArrayBuffer.empty[String]
    /** Wall time of every timed unit, in order. */
    val samples = mutable.ArrayBuffer.empty[Double]
    var attempted = 0L
    var failed = 0L
    /** Per query: runs whose rows equal those written for the oracle
      * check, so one oracle failure fails all of them. */
    val sameAsChecked = mutable.LinkedHashMap.empty[String, Long]
  }

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val traced = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val cores = opts.getOrElse("cores", "4")

    val t0 = System.nanoTime()
    val spark = session(work, cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val report = new Report
    val tracer = if (traced) Some(new Tracer(spark)) else None
    workload match {
      case "daily_nested_bulk" =>
        daily(spark, Flights.NestedBulk, seed, seconds, work, tracer, report)
      case "registry_queries" =>
        queries(spark, RegistryQueries, seed, seconds, work, opts("data"), tracer, report)
    }
    report.metrics("setup.session_s") = sessionS
    opts.get("prep-s").foreach(p => report.metrics("setup.gen_s") = p.toDouble)
    report.metrics("setup_s") =
      Seq("session", "gen", "warm").flatMap(k => report.metrics.get(s"setup.${k}_s")).sum
    tracer.foreach { t =>
      t.close()
      t.write(work.resolve("spans.jsonl"))
      val escapes = t.escapes
      if (escapes.nonEmpty) report.problems +=
        s"${escapes.size} spans outside their parent, first: ${escapes.head._1.name}"
    }
    report.metrics("rss_peak_mb") = rssPeakMb()
    writeResult(work.resolve("result.json"), report)
    spark.stop()
  }

  def session(work: Path, cores: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.local.dir", work.resolve("tmp").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Median and the highest percentile with at least ten samples
    * beyond it (the maximum when there are fewer than eleven). */
  def p50AndTail(xs: Seq[Double]): (Double, Double, Double) = {
    val s = xs.sorted.toIndexedSeq
    val n = s.size
    if (n == 0) return (0.0, 0.0, 0.0)
    val p50 = if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    if (n >= 11) (p50, s(n - 11), 100.0 * (n - 10) / n) else (p50, s(n - 1), 100.0)
  }

  private def rssPeakMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024).getOrElse(0.0)

  private def dirBytes(p: Path): Long =
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator().asScala
      .filter(f => Files.isRegularFile(f) && !f.getFileName.toString.startsWith(".") &&
        !f.getFileName.toString.startsWith("_"))
      .map(Files.size).sum

  // ---------------------------------------------------------------- daily

  /** Untimed days that create the table and warm the JVM, then at least
    * `MinDays` timed days. */
  val WarmDays = 3
  val MinDays = 5

  def daily(spark: SparkSession, shape: Flights.Shape, seed: Long,
      seconds: Double, work: Path, tracer: Option[Tracer], report: Report): Unit = {
    val cfg = Flights.config(Flights.OutputTable)
    val flow = new DailyFlow(cfg)
    val engine = new IngestionEngine(cfg)
    val table = work.resolve("warehouse").resolve(Flights.OutputTable)

    // Every day the run may time is made here, so that generation and
    // its garbage stay out of the timed days.
    val inputs = new Flights.Inputs(work.resolve("input"), seed, shape)
    val (_, genS) = time((0 until shape.days).foreach(inputs(_)))
    report.metrics("setup.gen_s") = genS

    def processTraced(unit: String, f: String): Unit = {
      val t = tracer.get
      t.call(unit, "day") {
        val raw = t.call(unit, "sources.readJson")(engine.readJson(spark, f))
        val flat = t.call(unit, "operators.Flatten.flatten")(Flatten.flatten(raw))
        val coerced = t.call(unit, "sources.coerce")(engine.coerce(flat))
        t.call(unit, "operators.Enrich.loadTimezones")(Enrich.loadTimezones(spark))
        t.call(unit, "operators.DailyFlow.processIngested")(
          flow.processIngested(spark, coerced))
        val pi = t.spans.findLast(_.name == "operators.DailyFlow.processIngested").get
        var detected = false
        t.actionsIn(pi).foreach { a =>
          val name =
            if (a.targets.contains("/tabla_provisional")) Some("stitch_write")
            else if (a.targets.contains(s"/${Flights.OutputTable}")) Some("final_write")
            else if (a.work.jobs > 0 && !detected) { detected = true; Some("day_detect") }
            else if (a.work.jobs > 0) Some("other_action")
            else None // catalog / DDL: counted in processIngested's self time
          name.foreach(n => t.addAction(pi, s"operators.DailyFlow.$n", a))
        }
      }
    }

    val dayTimes = mutable.ArrayBuffer.empty[Double]
    var rows = 0L
    var n = 0
    try {
      // The first days are set-up: day 0 creates the table (a
      // once-per-table path), all of them warm JIT and codegen.
      val (_, warmS) = time {
        while (n < WarmDays) { flow.processDaily(spark, inputs(n).file.toString); n += 1 }
      }
      report.metrics("setup.warm_s") = warmS
      // At least `MinDays` timed days, so every run medians the same days
      // of the JIT warm-up curve when they already fill the window.
      while (n < shape.days && (dayTimes.sum < seconds || dayTimes.size < MinDays)) {
        val f = inputs(n).file.toString
        val (_, dt) = time {
          if (tracer.isDefined) processTraced(s"d$n", f) else flow.processDaily(spark, f)
        }
        dayTimes += dt
        rows += inputs(n).flights.size
        n += 1
      }
    } catch {
      case e: Exception =>
        e.printStackTrace()
        report.problems += s"day $n: ${e.toString.take(300)}"
        report.failed += 1
        report.attempted += 1
    }
    if (n > 0) {
      val bad = Flights.check((0 until n).map(inputs(_).flights), readBack(spark))
      bad.take(3).foreach { case (d, why) => report.problems += s"$d: $why" }
      report.attempted += n
      report.failed += bad.size
    }

    val (p50, tail, pct) = p50AndTail(dayTimes.toSeq)
    report.samples ++= dayTimes
    report.metrics ++= Seq(
      "unit_p50_s" -> p50, "unit_tail_s" -> tail, "unit_tail_pct" -> pct,
      "units" -> dayTimes.size.toDouble,
      "rows_per_s" -> rows / dayTimes.sum,
      "storage_amp" -> dirBytes(table).toDouble / (0 until n).map(inputs(_).bytes).sum)
    if (dayTimes.nonEmpty) tracer.foreach(t => dailyLayers(spark, t, engine,
      (WarmDays until (WarmDays + 3).min(n)).map(inputs(_)), dayTimes.size, report))
  }

  def readBack(spark: SparkSession): Seq[Flights.OutRow] =
    spark.read.table(Flights.OutputTable)
      .select("FlightDate", "Origin", "DepTime", "FlightTime", "Airline_next", "diff_next")
      .collect().toSeq.map { r =>
        Flights.OutRow(
          r.getDate(0).toLocalDate, r.getString(1),
          Option(r.get(2)).map(_.asInstanceOf[Int]),
          Option(r.getTimestamp(3)).map(_.getTime / 1000),
          Option(r.getString(4)),
          Option(r.get(5)).map(_.asInstanceOf[Long]))
      }

  /** Per-layer metrics of a traced daily run: span totals per timed day,
    * plus counts probed on up to three of the timed days' files after
    * the window (outside every span). */
  private def dailyLayers(spark: SparkSession, t: Tracer, engine: IngestionEngine,
      probe: Seq[Flights.Day], days: Int, report: Report): Unit = {
    def spans(name: String) = t.spans.filter(_.name == name)
    def perDay(name: String)(f: Span => Double): Double = spans(name).map(f).sum / days
    val m = report.metrics
    m("sources.readJson.s") = perDay("sources.readJson")(_.seconds)
    m("sources.readJson.jobs") = perDay("sources.readJson")(_.work.jobs.toDouble)
    m("operators.Flatten.flatten.s") = perDay("operators.Flatten.flatten")(_.seconds)
    m("operators.Enrich.loadTimezones.s") = perDay("operators.Enrich.loadTimezones")(_.seconds)
    val pi = "operators.DailyFlow.processIngested"
    m(s"$pi.s") = perDay(pi)(_.seconds)
    m(s"$pi.self_s") = perDay(pi)(t.selfSeconds)
    m(s"$pi.jobs") = perDay(pi)(_.work.jobs.toDouble)
    val dfl = "operators.DailyFlow"
    m(s"$dfl.day_detect.s") = perDay(s"$dfl.day_detect")(_.seconds)
    m(s"$dfl.stitch_write.s") = perDay(s"$dfl.stitch_write")(_.seconds)
    m(s"$dfl.stitch_write.bytes") = perDay(s"$dfl.stitch_write")(_.extra.getOrElse("bytes", 0.0))
    m(s"$dfl.final_write.s") = perDay(s"$dfl.final_write")(_.seconds)
    m(s"$dfl.final_write.shuffle_bytes") = perDay(s"$dfl.final_write")(_.work.shuffleBytes.toDouble)
    m(s"$dfl.final_write.files") = perDay(s"$dfl.final_write")(_.extra.getOrElse("files", 0.0))
    m(s"$dfl.final_write.partitions_rewritten") =
      perDay(s"$dfl.final_write")(_.extra.getOrElse("partitions", 0.0))
    m("trace.task_cpu_s") = perDay("day")(_.work.cpuS)
    m("trace.gc_s") = perDay("day")(_.work.gcS)
    m("trace.stages") = perDay("day")(_.work.stages.toDouble)

    // Probes: per-day counts on the first timed days' files.
    val tz = Enrich.loadTimezones(spark)
    val counts = probe.map { day =>
      val raw = engine.readJson(spark, day.file.toString)
      val flat = Flatten.flatten(raw)
      val coerced = engine.coerce(flat)
      val nullCells = coerced.select(coerced.columns.map(c =>
        sum(when(col(c).isNull, 1).otherwise(0))): _*).head().toSeq
        .map(v => Option(v).map(_.toString.toLong).getOrElse(0L)).sum
      val tzMiss = Enrich.addUtcTime(coerced, tz)
        .where(col("FlightTime").isNull && col("DepTime").isNotNull && col("DepTime") < 2400)
        .count()
      val wantMiss = day.flights.count(f =>
        f.depTime.exists(_ != 2400) && !Flights.timezones.contains(f.origin))
      if (tzMiss != wantMiss) {
        report.problems += s"${day.file.getFileName}: $tzMiss rows missed the timezone dim, want $wantMiss"
        report.failed += 1
      }
      def projects(df: DataFrame) =
        df.queryExecution.analyzed.collect { case p: Project => p }.size
      val passes = projects(flat) - projects(raw)
      val fanout = flat.count().toDouble / raw.count()
      (nullCells.toDouble, tzMiss.toDouble, passes.toDouble, fanout)
    }
    def mean(f: ((Double, Double, Double, Double)) => Double) = counts.map(f).sum / counts.size
    m("sources.coerce.null_cells") = mean(_._1)
    m("operators.Enrich.addUtcTime.tz_miss_rows") = mean(_._2)
    m("operators.Flatten.passes") = mean(_._3)
    m("operators.Flatten.fanout") = mean(_._4)
  }

  // -------------------------------------------------------------- queries

  /** Untimed passes that warm the JVM, then at least `MinPasses` timed. */
  val WarmPasses = 3
  val MinPasses = 5

  def queries(spark: SparkSession, names: Seq[String], seed: Long,
      seconds: Double, work: Path, data: String, tracer: Option[Tracer],
      report: Report): Unit = {
    val order = new Random(seed).shuffle(names)
    val fns = order.map(n => n -> SparkEntry.queries(n))

    def run(unit: String, fn: (SparkSession, String) => DataFrame)
        : (Array[Row], DataFrame) = tracer match {
      case None =>
        val df = fn(spark, data)
        (df.collect(), df)
      case Some(t) => t.call(unit, "query") {
        val df = t.call(unit, "queries.build")(fn(spark, data))
        t.call(unit, "queries.plan")(df.queryExecution.executedPlan)
        (t.call(unit, "queries.exec")(df.collect()), df)
      }
    }

    // Every pass, the warm-up included, runs each query once. The rows
    // of the latest successful run of a query are written out for the
    // oracle check in run.py; every other run of it must return the same
    // rows in the same order (row count and order-sensitive hash).
    type Digest = (Int, Int)
    val runs = mutable.ArrayBuffer.empty[(String, String, Option[Digest])]
    val checked = mutable.LinkedHashMap.empty[String, (Array[Row], DataFrame, Digest)]
    def pass(label: String): Unit = fns.foreach { case (n, fn) =>
      report.attempted += 1
      try {
        val (rows, df) = run(s"$label/$n", fn)
        val digest = (rows.length, MurmurHash3.orderedHash(rows.toSeq))
        checked(n) = (rows, df, digest)
        runs += ((label, n, Some(digest)))
      } catch {
        case e: Exception =>
          e.printStackTrace()
          report.problems += s"$label/$n: ${e.toString.take(300)}"
          runs += ((label, n, None))
      }
    }

    // Set-up: throwaway passes (JIT, codegen, file listings).
    val (_, warmS) = time((0 until WarmPasses).foreach(i => pass(s"warm$i")))
    tracer.foreach(_.spans.clear())
    report.metrics("setup.warm_s") = warmS

    // One unit is a pass over the set; at least MinPasses of them.
    val meter = new ShuffleMeter(spark)
    val shuffle0 = meter.written()
    val times = mutable.ArrayBuffer.empty[Double]
    while (times.sum < seconds || times.size < MinPasses) {
      val (_, dt) = time(pass(s"p${times.size}"))
      times += dt
    }
    val shuffleBytes = meter.written() - shuffle0
    meter.close()
    val passes = times.size

    runs.foreach {
      case (_, _, None) => report.failed += 1
      case (label, n, Some(d)) if d != checked(n)._3 =>
        report.failed += 1
        report.problems += s"$label/$n: ${d._1} rows (hash ${d._2}), " +
          s"the checked run returned ${checked(n)._3._1} rows (hash ${checked(n)._3._2})"
      case (_, n, _) => report.sameAsChecked(n) = report.sameAsChecked.getOrElse(n, 0L) + 1
    }
    val out = work.resolve("out")
    checked.foreach { case (n, (rows, df, _)) =>
      spark.createDataFrame(rows.toSeq.asJava, df.schema)
        .coalesce(1).write.mode("overwrite").parquet(out.resolve(n).toString)
    }
    val oracle = checked.keys.toSeq.filter(SparkEntry.oracleSql.contains).map { n =>
      "\"" + n + "\":" + jsonString(SparkEntry.oracleSql(n))
    }.mkString("{", ",", "}")
    Files.createDirectories(out)
    Files.write(out.resolve("oracle_sql.json"), oracle.getBytes(StandardCharsets.UTF_8))

    val inputBytes = dirBytes(Paths.get(data))
    val inputRows = Files.readAllLines(Paths.get(data, "ROWS")).get(0).trim.toDouble
    val (p50, tail, pct) = p50AndTail(times.toSeq)
    report.samples ++= times
    report.metrics ++= Seq(
      "unit_p50_s" -> p50, "unit_tail_s" -> tail, "unit_tail_pct" -> pct,
      "units" -> passes.toDouble,
      "rows_per_s" -> inputRows * passes / times.sum,
      "storage_amp" -> shuffleBytes.toDouble / passes / inputBytes)

    tracer.foreach { t =>
      def perPass(name: String)(f: Span => Double) =
        t.spans.filter(_.name == name).map(f).sum / passes
      val m = report.metrics
      m("queries.build.s") = perPass("queries.build")(_.seconds)
      m("queries.build.jobs") = perPass("queries.build")(_.work.jobs.toDouble)
      m("queries.plan.s") = perPass("queries.plan")(_.seconds)
      m("queries.exec.s") = perPass("queries.exec")(_.seconds)
      m("queries.exec.jobs") = perPass("queries.exec")(_.work.jobs.toDouble)
      m("queries.exec.shuffle_bytes") = perPass("queries.exec")(_.work.shuffleBytes.toDouble)
      m("queries.exec.spill_bytes") = perPass("queries.exec")(_.work.spillBytes.toDouble)
      m("trace.task_cpu_s") = perPass("query")(_.work.cpuS)
      m("trace.gc_s") = perPass("query")(_.work.gcS)
      m("trace.stages") = perPass("query")(_.work.stages.toDouble)
    }
  }

  def jsonString(s: String): String =
    "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c    => c.toString
    } + "\""

  private def writeResult(path: Path, r: Report): Unit = {
    val metrics = r.metrics.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val problems = r.problems.map(jsonString).mkString("[", ",", "]")
    val same = r.sameAsChecked.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    val json = s"""{"attempted":${r.attempted},"failed":${r.failed},""" +
      s""""problems":$problems,"samples":${r.samples.mkString("[", ",", "]")},""" +
      s""""same_as_checked":$same,""" +
      s""""metrics":$metrics}"""
    Files.write(path, json.getBytes(StandardCharsets.UTF_8))
  }
}
