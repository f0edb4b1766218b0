package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.config.EngineConfig
import graft.operators.{DailyFlow, Flatten}
import graft.sources.IngestionEngine

/**
 * Structured Streaming skin over the daily flow: the landing
 * directory becomes a file-source stream and each arriving daily
 * JSON file is one micro-batch routed through the exact batch core
 * (`DailyFlow.processIngested`) via `foreachBatch` — flatten →
 * coerce → UTC enrich → previous-day stitch → window re-compute →
 * dynamic partition overwrite.
 *
 * This is the idiomatic Spark shape for the reference's manually
 * orchestrated batch-incremental loop (flujo_diario.py:27-74): the
 * stream's checkpoint replaces the caller's "which files have I
 * processed" bookkeeping, while cross-batch state stays where the
 * batch design put it — in the output table's previous-day
 * partition. `maxFilesPerTrigger=1` preserves the single-date-file
 * contract (the day is the batch's first non-NULL `FlightDate`);
 * micro-batches execute serially, so day N's write lands before day
 * N+1 reads it.
 *
 * Scale: identical plans to the batch path (the stream adds only
 * file discovery); state growth is bounded by the checkpoint's file
 * log, not data volume.
 */
class StreamingDailyFlow(val config: EngineConfig) {

  private val flow = new DailyFlow(config)
  private val engine = new IngestionEngine(config)

  /**
   * Start the stream over `landingDir`. `inputSchema` is the RAW
   * (possibly nested) landing-file schema — streaming sources
   * require an explicit schema; inference only happens in the batch
   * path. Pass `Trigger.AvailableNow()` (the default) to drain all
   * pending files then stop — the streaming analogue of a scheduled
   * daily run — or a ProcessingTime trigger for continuous tailing.
   */
  def start(
      spark: SparkSession,
      landingDir: String,
      inputSchema: StructType,
      checkpointDir: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    val raw = spark.readStream
      .schema(inputSchema)
      .option("maxFilesPerTrigger", "1")
      .json(landingDir)
    raw.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) {
          val ingested = engine.coerce(Flatten.flatten(batch))
          flow.processIngested(batch.sparkSession, ingested)
        }
      }
      .start()
  }
}
