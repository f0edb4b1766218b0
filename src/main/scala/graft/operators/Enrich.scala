package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

/**
 * Enrichment operators (reference: motor_ingesta/agregaciones.py).
 *
 * Column names are parameterized with the reference's flight-schema
 * defaults so the same operators run unchanged over any table with a
 * (key, local-date, local-hhmm-int) or (key, timestamp) shape.
 */
object Enrich {

  /** IATA→IANA timezone dimension row. */
  private val TzResource = "/timezones.csv"

  /**
   * Load the packaged IATA→IANA timezone dimension (8 875 rows,
   * reference: motor_ingesta/resources/timezones.csv, read at
   * agregaciones.py:23-30) as a LocalRelation over [[timezoneRows]]:
   * at this cardinality the dim is far below
   * `autoBroadcastJoinThreshold`, so every join against it is a
   * broadcast-hash join with zero shuffle — the right plan at any fact
   * scale. Only (iata_code, iana_tz) are projected, as in the
   * reference; `windows_tz` is dropped.
   */
  def loadTimezones(spark: SparkSession): DataFrame =
    spark.createDataFrame(timezoneRows, TzSchema)

  private val TzSchema = StructType(Seq(
    StructField("iata_code", StringType), StructField("iana_tz", StringType)))

  /** The dimension's (iata_code, iana_tz) rows, parsed driver-side
    * from the classpath resource once per JVM. Building a frame from
    * ready rows costs about a third of encoding tuples per call. */
  private lazy val timezoneRows: java.util.List[Row] = {
    val in = getClass.getResourceAsStream(TzResource)
    require(in != null, s"classpath resource $TzResource missing")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    try {
      src.getLines().drop(1).zipWithIndex.flatMap {
        case (line, _) if line.trim.isEmpty => None
        case (line, i) =>
          val parts = parseCsvLine(line)
          require(
            parts.length >= 2,
            s"timezones.csv line ${i + 2}: expected >=2 fields, got: $line")
          Some(Row(parts(0), parts(1)))
      }.toVector.asJava
    } finally src.close()
  }

  /** Minimal RFC-4180 field split: quoted fields may contain commas
    * and doubled quotes. (Driver-side on an 8.8k-row packaged dim —
    * a LocalRelation beats shipping a temp file to executors.) */
  private[operators] def parseCsvLine(line: String): Vector[String] = {
    val fields = Vector.newBuilder[String]
    val cur = new StringBuilder
    var inQuotes = false
    var i = 0
    while (i < line.length) {
      val c = line.charAt(i)
      if (inQuotes) {
        if (c == '"') {
          if (i + 1 < line.length && line.charAt(i + 1) == '"') {
            cur.append('"'); i += 1
          } else inQuotes = false
        } else cur.append(c)
      } else c match {
        case '"' => inQuotes = true
        case ',' => fields += cur.result(); cur.clear()
        case other => cur.append(other)
      }
      i += 1
    }
    fields += cur.result()
    fields.result()
  }

  /**
   * Add a UTC departure timestamp (reference: agregaciones.py:7-51).
   *
   * Steps: left-join the timezone dim on `keyCol` (unmatched keys keep
   * a NULL zone → NULL `FlightTime`, the documented contract), lpad the
   * 3-or-4-digit local time int to HHmm, build a local wall-clock
   * string, parse it (malformed, e.g. 2400 → NULL via try_to_timestamp
   * — the reference's non-ANSI NULL-on-malformed behavior), and convert
   * local → UTC with the per-row IANA zone. Join keys are dropped
   * afterwards.
   *
   * Scale: dim join is broadcast (forced), no shuffle; all expressions
   * are codegen'd built-ins.
   */
  def addUtcTime(
      df: DataFrame,
      timezones: DataFrame,
      keyCol: String = "Origin",
      dateCol: String = "FlightDate",
      depTimeCol: String = "DepTime",
      outCol: String = "FlightTime"): DataFrame = {
    val joined = df.join(
      broadcast(timezones), df(keyCol) === timezones("iata_code"), "left")
    val hhmm = lpad(col(depTimeCol).cast("string"), 4, "0")
    val localStr = concat(
      col(dateCol).cast("string"), lit(" "),
      hhmm.substr(1, 2), lit(":"), hhmm.substr(3, 2))
    val localTs = try_to_timestamp(localStr, lit("yyyy-MM-dd HH:mm"))
    joined
      .withColumn(outCol, to_utc_timestamp(localTs, col("iana_tz")))
      .drop("iata_code", "iana_tz")
  }

  /**
   * Per-key next-event interval via window lead
   * (reference: agregaciones.py:54-78).
   *
   * Appends `<time>_next`, `<carrier>_next`-style columns and
   * `diff_next` = whole seconds to the next event in the same
   * partition (NULL on each partition's last row), computed as
   * cast-to-long epoch-seconds subtraction exactly like the reference.
   *
   * `tieBreak` columns (appended to the ORDER BY) make ordering
   * deterministic when timestamps collide; pass Nil for the
   * reference's nondeterministic-tie behavior.
   *
   * `carrierNextCol` names the lead-carrier output column; default is
   * the derived `<carrier>_next`. The reference hardcodes
   * `Airline_next` even though its input column is
   * `Reporting_Airline` (agregaciones.py:72) — DailyFlow passes that
   * explicitly for schema parity.
   *
   * Scale: one hash exchange on `partitionCol` + in-partition sort —
   * the minimal physical plan for this semantics. Skewed keys (a
   * mega-airport) are bounded by per-key cardinality, not table size,
   * and AQE handles residual skew.
   */
  def addIntervals(
      df: DataFrame,
      partitionCol: String = "Origin",
      timeCol: String = "FlightTime",
      carrierCol: String = "Reporting_Airline",
      tieBreak: Seq[String] = Nil,
      carrierNextCol: Option[String] = None): DataFrame = {
    val order: Seq[Column] = col(timeCol).asc +: tieBreak.map(col(_).asc)
    val w = Window.partitionBy(partitionCol).orderBy(order: _*)
    val nextTime = s"${timeCol}_next"
    df.withColumn(nextTime, lead(col(timeCol), 1).over(w))
      .withColumn(
        carrierNextCol.getOrElse(s"${carrierCol}_next"),
        lead(col(carrierCol), 1).over(w))
      .withColumn(
        "diff_next",
        (col(nextTime).cast("long") - col(timeCol).cast("long")).cast("bigint"))
  }
}
