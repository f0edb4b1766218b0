package graft.operators

import java.time.LocalDate

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.config.EngineConfig
import graft.sources.IngestionEngine

/**
 * Daily batch-incremental orchestration
 * (reference: motor_ingesta/flujo_diario.py:27-74).
 *
 * Per daily file: ingest (flatten + coerce) → detect the file's date
 * from its first dated row (single-date-file contract) → UTC enrich →
 * read the previous day's partition of the output table (table missing
 * ⇒ no previous data; table present but partition empty ⇒ the union
 * path still runs, faithfully preserving the reference's semantics) →
 * `unionByName(allowMissingColumns)` so yesterday's rows (which carry
 * `_next` columns) and today's (which don't) align → recompute
 * next-flight intervals over the stitched 2-day frame, fixing
 * yesterday's boundary NULLs → dynamic-partition-overwrite only the
 * affected `FlightDate` partitions.
 *
 * The final write reads the table it overwrites. That is legal only
 * under dynamic overwrite (static mode rejects it with
 * `UNSUPPORTED_OVERWRITE.TABLE`, hence the reference's provisional
 * table, flujo_diario.py:52-53): a dynamic overwrite stages its files
 * and replaces the partitions at job commit, after every task has read
 * yesterday's partition. So each day is one job commit; a failed write
 * leaves every partition as it was.
 *
 * Scale: the previous-day read is partition-pruned; the stitch frame is
 * ≤2 days regardless of table size; the final write routes each date to
 * its own task (one file per date) and — once the table exists —
 * goes through `insertInto` with dynamic partition overwrite, so only
 * the 1–2 affected `FlightDate` partitions are replaced and all older
 * partitions survive. (`saveAsTable(mode=overwrite)` would drop and
 * recreate the WHOLE table regardless of partitionOverwriteMode — a
 * latent data-loss bug in the reference's flujo_diario.py:60-68 that
 * this rebuild deliberately fixes; guarded by the 3-day retention
 * test in DailyFlowSpec.)
 */
class DailyFlow(val config: EngineConfig) {

  private val engine = new IngestionEngine(config)

  /** Process one daily JSON file end-to-end into the output table. */
  def processDaily(spark: SparkSession, dataFile: String): Unit = {
    val raw = engine.readJson(spark, dataFile)
    // An empty file infers an empty schema, which coerce cannot select.
    if (raw.schema.isEmpty) throw noDatedRows
    processIngested(spark, engine.coerce(Flatten.flatten(raw)))
  }

  /**
   * Core of the daily flow over an already-ingested (flattened +
   * coerced) frame — shared by the batch path above and the
   * Structured Streaming skin
   * ([[graft.streaming.StreamingDailyFlow]]), whose `foreachBatch`
   * hands each landing file's micro-batch here.
   */
  def processIngested(spark: SparkSession, ingested: DataFrame): Unit = {
    val today = detectDay(ingested)
    val withUtc = Enrich.addUtcTime(ingested, Enrich.loadTimezones(spark))

    val out = config.outputTable
    val tableExists = spark.catalog.tableExists(out)
    // Previous-day partition scan (reference: flujo_diario.py:43-47).
    val frame =
      if (!tableExists) withUtc
      else spark.read.table(out)
        .where(col("FlightDate") === lit(java.sql.Date.valueOf(today.minusDays(1))))
        .unionByName(withUtc, allowMissingColumns = true)

    // Reference schema parity: the lead-carrier column is named
    // `Airline_next` (agregaciones.py:72). One writing task per date:
    // routing by day number mod outputPartitions sends the stitch's
    // two consecutive dates to different tasks (a hash of the date
    // would put both in one task about one day in nine). NULL dates go
    // to task 0.
    val withIntervals = Enrich
      .addIntervals(frame, carrierNextCol = Some("Airline_next"))
      .repartitionById(config.outputPartitions, coalesce(
        pmod(unix_date(col("FlightDate")), lit(config.outputPartitions)),
        lit(0)))

    if (tableExists) {
      // Dynamic overwrite replaces ONLY the partitions present in the
      // frame and allows the self-read (class doc). insertInto ignores
      // writer options (V1 catalog path), so the session conf governs
      // — set it for this write, restoring the caller's value after.
      // insertInto is position-based, so align to the table's column
      // order (partition column last).
      val modeKey = "spark.sql.sources.partitionOverwriteMode"
      val callerMode = spark.conf.get(modeKey) // always set: conf has a default
      spark.conf.set(modeKey, "dynamic")
      try {
        val tableCols = spark.table(out).columns.toIndexedSeq
        withIntervals
          .select(tableCols.map(col): _*)
          .write.mode("overwrite")
          .insertInto(out)
      } finally spark.conf.set(modeKey, callerMode)
    } else {
      withIntervals
        .write.mode("overwrite")
        .partitionBy("FlightDate")
        .saveAsTable(out)
    }

    // Dynamic overwrite replaces partition files in place; invalidate
    // any cached file listings other readers of the table may hold.
    spark.catalog.refreshTable(out)
  }

  /** First non-NULL `FlightDate` (reference: flujo_diario.py:40-41);
    * a limit-1 probe that stops at the first dated row. */
  private def detectDay(ingested: DataFrame): LocalDate =
    ingested.select("FlightDate").where(col("FlightDate").isNotNull)
      .head(1).headOption.map(_.getDate(0).toLocalDate)
      .getOrElse(throw noDatedRows)

  private def noDatedRows = new IllegalArgumentException(
    "daily input has no dated rows (it is empty or every FlightDate is " +
      "NULL), so its day cannot be detected; nothing was written")
}
