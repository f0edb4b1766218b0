package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

import graft.config.{ColumnSpec, EngineConfig}
import graft.streaming.StreamingDailyFlow

/** Structured-Streaming skin: landing files drain through
  * foreachBatch into the same daily-flow core, with the checkpoint
  * providing processed-file bookkeeping across restarts. */
class StreamingDailyFlowSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark

  private val cfg = EngineConfig(
    data_columns = Seq(
      ColumnSpec("FlightDate", "date", Some("Flight date")),
      ColumnSpec("Reporting_Airline", "string", Some("Carrier")),
      ColumnSpec("Origin", "string", Some("Origin IATA")),
      ColumnSpec("DepTime", "int", Some("Local departure HHmm"))),
    output_table = Some("flights_stream_test"),
    output_partitions = Some(1))

  private val inputSchema = StructType(Seq(
    StructField("FlightDate", StringType),
    StructField("Reporting_Airline", StringType),
    StructField("Origin", StringType),
    StructField("DepTime", LongType)))

  test("streamed daily files stitch across days with checkpointed file tracking") {
    val landing = Files.createTempDirectory("graft-landing")
    val checkpoint = Files.createTempDirectory("graft-ckpt").toString
    val skin = new StreamingDailyFlow(cfg)

    Files.writeString(landing.resolve("2024-03-01.json"),
      """{"FlightDate": "2024-03-01", "Reporting_Airline": "AA", "Origin": "JFK", "DepTime": 900}
        |{"FlightDate": "2024-03-01", "Reporting_Airline": "DL", "Origin": "JFK", "DepTime": 1100}""".stripMargin)

    // Drain pass 1: one file, one micro-batch.
    skin.start(spark, landing.toString, inputSchema, checkpoint)
      .awaitTermination()
    val after1 = spark.read.table("flights_stream_test")
    assert(after1.count() === 2)
    assert(after1.where(col("diff_next").isNull).count() === 1)

    // Day 2 arrives; a fresh AvailableNow drain with the SAME
    // checkpoint processes only the new file.
    Files.writeString(landing.resolve("2024-03-02.json"),
      """{"FlightDate": "2024-03-02", "Reporting_Airline": "UA", "Origin": "JFK", "DepTime": 800}""")
    skin.start(spark, landing.toString, inputSchema, checkpoint)
      .awaitTermination()

    // The stream ran in a cloned micro-batch session; this session's
    // cached file listing predates the partition rewrite.
    spark.catalog.refreshTable("flights_stream_test")
    val after2 = spark.read.table("flights_stream_test")
    assert(after2.count() === 3)
    val fixed = after2
      .where(col("FlightDate") === lit("2024-03-01").cast("date")
        && col("DepTime") === 1100)
      .head()
    assert(fixed.getAs[String]("Airline_next") === "UA")
    assert(fixed.getAs[Long]("diff_next") === 75600L) // 21h across the day boundary

    spark.sql("DROP TABLE IF EXISTS flights_stream_test")
  }

  test("3-day replay is row-identical to the batch DailyFlow; restart reprocesses nothing") {
    import graft.operators.DailyFlow
    val landing = Files.createTempDirectory("graft-landing3")
    val checkpoint = Files.createTempDirectory("graft-ckpt3").toString

    val days = Seq(
      "2024-04-01" ->
        """{"FlightDate": "2024-04-01", "Reporting_Airline": "AA", "Origin": "JFK", "DepTime": 900}
          |{"FlightDate": "2024-04-01", "Reporting_Airline": "DL", "Origin": "JFK", "DepTime": 2330}""".stripMargin,
      "2024-04-02" ->
        """{"FlightDate": "2024-04-02", "Reporting_Airline": "UA", "Origin": "JFK", "DepTime": 600}
          |{"FlightDate": "2024-04-02", "Reporting_Airline": "B6", "Origin": "JFK", "DepTime": 1815}""".stripMargin,
      "2024-04-03" ->
        """{"FlightDate": "2024-04-03", "Reporting_Airline": "WN", "Origin": "JFK", "DepTime": 45}""".stripMargin)
    // Distinct mtimes pin the file source's oldest-first processing
    // order to the calendar order the daily contract requires.
    days.zipWithIndex.foreach { case ((day, body), i) =>
      val f = landing.resolve(s"$day.json")
      Files.writeString(f, body)
      f.toFile.setLastModified(1700000000000L + i * 60000L)
    }

    def tableState(name: String) = TestSpark.tableState(spark, name)

    // Batch leg: the same three files through DailyFlow, in order.
    val batchCfg = cfg.copy(output_table = Some("flights_batch_parity"))
    val batchFlow = new DailyFlow(batchCfg)
    days.foreach { case (day, _) =>
      batchFlow.processDaily(spark, landing.resolve(s"$day.json").toString)
    }

    // Streaming leg, with a mid-replay restart: drain days 1-2, stop,
    // then day 3 via a fresh start on the SAME checkpoint. If the
    // restart re-ran an already-processed day, its partition rewrite
    // would wipe that day's cross-day Airline_next/diff_next fixes —
    // the parity assertion below would catch the corruption.
    val streamCfg = cfg.copy(output_table = Some("flights_stream_parity"))
    val skin = new StreamingDailyFlow(streamCfg)
    val day3 = landing.resolve("2024-04-03.json")
    val day3Body = days.last._2
    Files.delete(day3)
    skin.start(spark, landing.toString, inputSchema, checkpoint)
      .awaitTermination()
    Files.writeString(day3, day3Body)
    day3.toFile.setLastModified(1700000000000L + 2 * 60000L)
    skin.start(spark, landing.toString, inputSchema, checkpoint)
      .awaitTermination()

    val (batchSchema, batchRows) = tableState("flights_batch_parity")
    val (streamSchema, streamRows) = tableState("flights_stream_parity")
    assert(streamSchema === batchSchema)
    assert(streamRows === batchRows)
    assert(streamRows.size === 5)

    // Restart with nothing new: the checkpoint's file log must skip
    // every processed file and leave the table byte-identical.
    skin.start(spark, landing.toString, inputSchema, checkpoint)
      .awaitTermination()
    val (_, afterIdle) = tableState("flights_stream_parity")
    assert(afterIdle === streamRows)

    spark.sql("DROP TABLE IF EXISTS flights_batch_parity")
    spark.sql("DROP TABLE IF EXISTS flights_stream_parity")
  }
}
