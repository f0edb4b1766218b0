package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.config.{ColumnSpec, EngineConfig}
import graft.operators.DailyFlow
import graft.sources.IngestionEngine
import graft.TestSpark.tableState

/** Daily batch-incremental orchestration: two consecutive daily files,
  * cross-day boundary fix via union + re-window
  * (reference: flujo_diario.py:27-74; notebook cells 13-16). */
class DailyFlowSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val cfg = EngineConfig(
    data_columns = Seq(
      ColumnSpec("FlightDate", "date", Some("Flight date")),
      ColumnSpec("Reporting_Airline", "string", Some("Carrier")),
      ColumnSpec("Origin", "string", Some("Origin IATA")),
      ColumnSpec("DepTime", "int", Some("Local departure HHmm"))),
    output_table = Some("flights_test"),
    output_partitions = Some(2))

  private def writeDay(name: String, rows: Seq[String]): String = {
    val dir = Files.createTempDirectory("graft-daily")
    val f = dir.resolve(name)
    Files.writeString(f, rows.mkString("\n"))
    f.toString
  }

  test("two-day flow stitches boundary intervals across days") {
    val day1 = writeDay("d1.json", Seq(
      """{"FlightDate": "2024-03-01", "Reporting_Airline": "AA", "Origin": "JFK", "DepTime": 900}""",
      """{"FlightDate": "2024-03-01", "Reporting_Airline": "DL", "Origin": "JFK", "DepTime": 1100}"""))
    val day2 = writeDay("d2.json", Seq(
      """{"FlightDate": "2024-03-02", "Reporting_Airline": "UA", "Origin": "JFK", "DepTime": 800}"""))

    val flow = new DailyFlow(cfg)
    flow.processDaily(spark, day1)

    val afterDay1 = spark.read.table("flights_test")
    assert(afterDay1.count() === 2)
    // last flight of day 1 has no successor yet
    val d1last = afterDay1.orderBy(desc("FlightTime")).head()
    assert(d1last.isNullAt(d1last.fieldIndex("diff_next")))

    flow.processDaily(spark, day2)
    val afterDay2 = spark.read.table("flights_test")
    assert(afterDay2.count() === 3)

    // boundary fix: day-1 11:00 EST flight now points at day-2 08:00
    val fixed = afterDay2
      .where(col("FlightDate") === lit("2024-03-01").cast("date")
        && col("DepTime") === 1100)
      .head()
    assert(fixed.getAs[String]("Airline_next") === "UA") // reference naming (agregaciones.py:72)
    // 2024-03-01 11:00 EST -> 2024-03-02 08:00 EST = 21h = 75600 s
    assert(fixed.getAs[Long]("diff_next") === 75600L)

    spark.sql("DROP TABLE IF EXISTS flights_test")
  }

  test("three-day flow retains untouched partitions (dynamic overwrite, not truncate)") {
    // A session of its own, in a database of its own, so the catalog
    // listing below sees only what this flow created.
    val session = spark.newSession()
    session.sql("CREATE DATABASE IF NOT EXISTS daily_retention")
    session.catalog.setCurrentDatabase("daily_retention")
    val cfg3 = cfg.copy(output_table = Some("flights_test3"))
    val flow = new DailyFlow(cfg3)
    def day(n: Int, dep: Int) = writeDay(s"d$n.json", Seq(
      s"""{"FlightDate": "2024-03-0$n", "Reporting_Airline": "AA", "Origin": "JFK", "DepTime": $dep}"""))

    flow.processDaily(session, day(1, 900))
    flow.processDaily(session, day(2, 1000))
    flow.processDaily(session, day(3, 1100))

    // No scratch table is left behind: the output table is the only one.
    assert(session.catalog.listTables().collect().map(_.name).toSeq === Seq("flights_test3"))

    val table = session.read.table("flights_test3")
    // Day 3 stitches days 2+3 only; day 1's partition must SURVIVE —
    // saveAsTable(overwrite) would have truncated it (the reference's
    // latent flujo_diario.py:60-68 bug, deliberately fixed here).
    val dates = table.select("FlightDate").distinct()
      .collect().map(_.getDate(0).toString).sorted.toSeq
    assert(dates === Seq("2024-03-01", "2024-03-02", "2024-03-03"))
    assert(table.count() === 3)

    // And the day-1→day-2 boundary fix from the day-2 run is intact.
    val d1 = table.where(col("FlightDate") === lit("2024-03-01").cast("date")).head()
    assert(d1.getAs[String]("Airline_next") === "AA")
    assert(d1.getAs[Long]("diff_next") === 90000L) // 09:00 -> next day 10:00 EST = 25h

    session.sql("DROP DATABASE daily_retention CASCADE")
  }

  test("skipped day: table exists but previous partition empty still runs the union path") {
    // Reference wart preserved faithfully (SURVEY §3.1 step 4): a
    // present-but-empty previous partition is NOT treated as missing.
    val cfgS = cfg.copy(output_table = Some("flights_test_skip"))
    val flow = new DailyFlow(cfgS)
    flow.processDaily(spark, writeDay("d1.json", Seq(
      """{"FlightDate": "2024-03-01", "Reporting_Airline": "AA", "Origin": "JFK", "DepTime": 900}""")))
    // Day 3 arrives; day 2's partition is empty.
    flow.processDaily(spark, writeDay("d3.json", Seq(
      """{"FlightDate": "2024-03-03", "Reporting_Airline": "UA", "Origin": "JFK", "DepTime": 800}""")))
    val table = spark.read.table("flights_test_skip")
    assert(table.count() === 2) // both days retained
    // No cross-day stitch happened (prev partition was empty), so
    // day 1's last flight keeps its NULL interval.
    val d1 = table.where(col("FlightDate") === lit("2024-03-01").cast("date")).head()
    assert(d1.isNullAt(d1.fieldIndex("diff_next")))
    spark.sql("DROP TABLE IF EXISTS flights_test_skip")
  }

  test("a stitched day writes its two dates from two tasks, one file per date") {
    // 2023-01-09 and 2023-01-10 hash to the same one of 10 buckets, so
    // routing by the date's hash wrote both from one task.
    val name = "flights_test_route"
    val flow = new DailyFlow(cfg.copy(output_table = Some(name), output_partitions = Some(10)))
    def day(d: String, dep: Int) = writeDay("d.json", Seq(
      s"""{"FlightDate": "$d", "Reporting_Airline": "AA", "Origin": "JFK", "DepTime": $dep}""",
      s"""{"FlightDate": "$d", "Reporting_Airline": "DL", "Origin": "JFK", "DepTime": ${dep + 100}}"""))
    flow.processDaily(spark, day("2023-01-09", 900))
    flow.processDaily(spark, day("2023-01-10", 1000))
    spark.catalog.refreshTable(name)
    // part-<task>-<uuid>.c000.snappy.parquet under FlightDate=<date>/
    val files = spark.table(name).inputFiles.toSeq.map { f =>
      val p = new org.apache.hadoop.fs.Path(f)
      (p.getParent.getName, p.getName.split("-")(1))
    }
    assert(files.map(_._1).sorted ===
      Seq("FlightDate=2023-01-09", "FlightDate=2023-01-10"), files)
    assert(files.map(_._2).distinct.size === 2, s"one task wrote both dates: $files")
    assert(spark.table(name).count() === 4)
    spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  private val modeKey = "spark.sql.sources.partitionOverwriteMode"

  private val day1Rows = Seq(
    """{"FlightDate": "2024-03-01", "Reporting_Airline": "AA", "Origin": "JFK", "DepTime": 900}""",
    """{"FlightDate": "2024-03-01", "Reporting_Airline": "DL", "Origin": "JFK", "DepTime": 1100}""")

  test("empty input fails with a clear error before any write; the table is untouched") {
    val name = "flights_test_empty"
    val flow = new DailyFlow(cfg.copy(output_table = Some(name)))
    flow.processDaily(spark, writeDay("d1.json", day1Rows))
    val before = tableState(spark, name)

    // An empty file (the JSON scan infers no columns at all) ...
    val e1 = intercept[IllegalArgumentException](
      flow.processDaily(spark, writeDay("d2.json", Nil)))
    assert(e1.getMessage.contains("no dated rows"))
    // ... and an ingested frame with the right schema but no rows.
    val empty = new IngestionEngine(cfg)
      .ingestFile(spark, writeDay("d2.json", day1Rows)).limit(0)
    val e2 = intercept[IllegalArgumentException](flow.processIngested(spark, empty))
    assert(e2.getMessage.contains("no dated rows"))

    assert(tableState(spark, name) === before)
    spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("NULL first FlightDate: the day comes from the first dated row, or fails clearly") {
    val name = "flights_test_nulldate"
    val flow = new DailyFlow(cfg.copy(output_table = Some(name)))
    flow.processDaily(spark, writeDay("d1.json", day1Rows))
    val before = tableState(spark, name)

    // No row has a date (NULL, and a value coerce turns into NULL).
    val e = intercept[IllegalArgumentException](
      flow.processDaily(spark, writeDay("d2.json", Seq(
        """{"FlightDate": null, "Reporting_Airline": "B6", "Origin": "JFK", "DepTime": 700}""",
        """{"FlightDate": "not-a-date", "Reporting_Airline": "UA", "Origin": "JFK", "DepTime": 800}"""))))
    assert(e.getMessage.contains("no dated rows"))
    assert(tableState(spark, name) === before)

    // The first row is undated, a later one is dated: day 2 is detected
    // and stitched onto day 1.
    flow.processDaily(spark, writeDay("d2.json", Seq(
      """{"FlightDate": null, "Reporting_Airline": "B6", "Origin": "JFK", "DepTime": 700}""",
      """{"FlightDate": "2024-03-02", "Reporting_Airline": "UA", "Origin": "JFK", "DepTime": 800}""")))
    val table = spark.read.table(name)
    assert(table.where(col("FlightDate") === lit("2024-03-02").cast("date")).count() === 1)
    assert(table.where(col("FlightDate").isNull).count() === 1)
    val fixed = table
      .where(col("FlightDate") === lit("2024-03-01").cast("date") && col("DepTime") === 1100)
      .head()
    assert(fixed.getAs[String]("Airline_next") === "UA")
    assert(fixed.getAs[Long]("diff_next") === 75600L)
    spark.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("a final write that fails mid-job leaves every partition as it was; re-running converges") {
    val session = spark.newSession()
    val days = Seq(
      day1Rows,
      Seq("""{"FlightDate": "2024-03-02", "Reporting_Airline": "UA", "Origin": "JFK", "DepTime": 800}""",
        """{"FlightDate": "2024-03-02", "Reporting_Airline": "B6", "Origin": "JFK", "DepTime": 2330}"""),
      Seq("""{"FlightDate": "2024-03-03", "Reporting_Airline": "WN", "Origin": "JFK", "DepTime": 600}""",
        """{"FlightDate": "2024-03-03", "Reporting_Airline": "AA", "Origin": "JFK", "DepTime": 1100}"""))
      .zipWithIndex.map { case (rows, i) => writeDay(s"d${i + 1}.json", rows) }
    val engine = new IngestionEngine(cfg)

    // Reference: the three days, uninterrupted.
    val clean = new DailyFlow(cfg.copy(output_table = Some("flights_test_clean")))
    days.foreach(clean.processDaily(session, _))

    val name = "flights_test_atomic"
    val flow = new DailyFlow(cfg.copy(output_table = Some(name)))
    days.take(2).foreach(flow.processDaily(session, _))
    val before = tableState(session, name)
    val callerMode = session.conf.get(modeKey)

    // Day 3 with one row whose carrier raises: the date column is
    // fine, so day detection passes and the failure lands in the job
    // that rewrites days 2 and 3.
    val poisoned = engine.ingestFile(session, days(2)).withColumn("Reporting_Airline",
      when(col("DepTime") === 1100, raise_error(lit("poisoned row")))
        .otherwise(col("Reporting_Airline")))
    val e = intercept[Exception](flow.processIngested(session, poisoned))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("poisoned row")))

    assert(tableState(session, name) === before)
    assert(session.conf.get(modeKey) === callerMode)

    flow.processDaily(session, days(2))
    assert(tableState(session, name) === tableState(session, "flights_test_clean"))

    session.sql(s"DROP TABLE IF EXISTS $name")
    session.sql("DROP TABLE IF EXISTS flights_test_clean")
  }

  test("a caller in static overwrite mode: the self-reading write runs dynamic, static is restored") {
    // Static mode rejects an overwrite that reads its own target, so
    // this flow only passes if the write forces dynamic mode.
    val session = spark.newSession()
    session.conf.set(modeKey, "static")
    val name = "flights_test_static"
    val flow = new DailyFlow(cfg.copy(output_table = Some(name)))
    flow.processDaily(session, writeDay("d1.json", day1Rows))
    flow.processDaily(session, writeDay("d2.json", Seq(
      """{"FlightDate": "2024-03-02", "Reporting_Airline": "UA", "Origin": "JFK", "DepTime": 800}""")))

    assert(session.conf.get(modeKey).equalsIgnoreCase("static"))
    val table = session.read.table(name)
    assert(table.count() === 3)
    val fixed = table
      .where(col("FlightDate") === lit("2024-03-01").cast("date") && col("DepTime") === 1100)
      .head()
    assert(fixed.getAs[Long]("diff_next") === 75600L)
    session.sql(s"DROP TABLE IF EXISTS $name")
  }
}
