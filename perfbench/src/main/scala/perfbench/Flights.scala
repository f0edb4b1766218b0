package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.time.{LocalDate, LocalTime, ZoneId}

import scala.collection.mutable
import scala.util.Random

import graft.config.{ColumnSpec, EngineConfig}

/**
 * Seeded generator of BTS-style daily flight files, the expected final
 * table computed without Spark, and the checker that compares the two.
 *
 * Every file holds one date and at least one flight (the reference's
 * daily contract). Within one origin and day each departing flight has
 * its own minute, so `FlightTime` never ties inside a window partition
 * and `Airline_next` / `diff_next` are deterministic for every row with
 * a non-NULL `FlightTime`. Airports are drawn only from zones with no
 * offset transition in the generated date range, so local→UTC is a
 * plain offset and never hits a DST gap or overlap.
 */
object Flights {

  /** Input shape of a daily workload: `days` consecutive days of about
    * `flightsPerDay` flights from `airports` origins. Each record is an
    * `airport` struct carrying a `flights` array of up to `Chunk` flight
    * structs. */
  final case class Shape(days: Int, flightsPerDay: Int, airports: Int)

  val Chunk = 40

  val NestedBulk = Shape(days = 12, flightsPerDay = 64000, airports = 1200)

  val Start: LocalDate = LocalDate.of(2023, 1, 2)
  val OutputTable = "flights"

  /** One generated flight; `utc` is the expected `FlightTime` in epoch
    * seconds, None when the reference yields NULL (cancelled, DepTime
    * 2400, or an origin missing from the timezone dimension). */
  final case class Flight(
      date: LocalDate, airline: String, origin: String,
      depTime: Option[Int], utc: Option[Long])

  /** One row of the final table, as read back for checking. */
  final case class OutRow(
      date: LocalDate, origin: String, depTime: Option[Int],
      flightTime: Option[Long], airlineNext: Option[String],
      diffNext: Option[Long])

  /** One generated daily file and the flights it holds. */
  final case class Day(file: Path, flights: Vector[Flight], bytes: Long)

  /** The 18-column coercion schema of the reference's config. */
  def config(outputTable: String): EngineConfig = EngineConfig(
    data_columns = Seq(
      "FlightDate" -> "date", "Reporting_Airline" -> "string",
      "DOT_ID_Reporting_Airline" -> "int",
      "Flight_Number_Reporting_Airline" -> "int",
      "Tail_Number" -> "string", "OriginAirportID" -> "int",
      "Origin" -> "string", "OriginCityName" -> "string",
      "DestAirportID" -> "int", "Dest" -> "string",
      "DestCityName" -> "string", "CRSDepTime" -> "int",
      "DepTime" -> "int", "DepDelay" -> "int", "Cancelled" -> "boolean",
      "Diverted" -> "boolean", "AirTime" -> "int", "Distance" -> "int"
    ).map { case (n, t) => ColumnSpec(n, t, Some(n)) },
    output_table = Some(outputTable),
    output_partitions = Some(10))

  private val Airlines = Vector(
    "AA" -> 19805, "DL" -> 19790, "UA" -> 19977, "WN" -> 19393,
    "B6" -> 20409, "AS" -> 19930, "NK" -> 20416, "F9" -> 20436,
    "G4" -> 20368, "HA" -> 19690, "9E" -> 20363, "MQ" -> 20398,
    "OH" -> 20397, "OO" -> 20304, "YX" -> 20452)

  /** IATA → IANA zone from the program's packaged dimension. */
  lazy val timezones: Map[String, String] = {
    val in = getClass.getResourceAsStream("/timezones.csv")
    require(in != null, "timezones.csv missing from the classpath")
    val src = scala.io.Source.fromInputStream(in, "UTF-8")
    val field = "\"([^\"]*)\"".r
    try src.getLines().drop(1).flatMap { line =>
      field.findAllMatchIn(line).map(_.group(1)).toList match {
        case code :: tz :: _ => Some(code -> tz)
        case _               => None
      }
    }.toMap
    finally src.close()
  }

  private def steadyZone(tz: String, from: LocalDate, to: LocalDate): Boolean =
    tz.startsWith("America/") && scala.util.Try {
      val rules = ZoneId.of(tz).getRules
      val t = rules.nextTransition(from.minusDays(2).atStartOfDay(ZoneId.of("UTC")).toInstant)
      t == null || t.getInstant.isAfter(to.plusDays(3).atStartOfDay(ZoneId.of("UTC")).toInstant)
    }.getOrElse(false)

  private def hhmm(minute: Int): Int = (minute / 60) * 100 + minute % 60

  /** The daily files of one workload, written under `dir` on first
    * access, in date order. Same seed ⇒ byte-identical files. */
  final class Inputs(dir: Path, seed: Long, shape: Shape) {
    Files.createDirectories(dir)
    private val rnd = new Random(seed)
    private val end = Start.plusDays(shape.days.toLong)
    private val eligible = timezones.toVector.filter { case (_, tz) =>
      steadyZone(tz, Start, end)
    }.sortBy(_._1)
    require(eligible.size >= shape.airports,
      s"only ${eligible.size} steady airports for ${shape.airports}")
    private val airports = rnd.shuffle(eligible).take(shape.airports)
    private val unknown = rnd.shuffle(
      (for (a <- 'Q' to 'Z'; b <- 'A' to 'Z') yield s"X$a$b")
        .filterNot(timezones.keySet).toVector).take(8)
    private val airportId = (airports.map(_._1) ++ unknown).zipWithIndex
      .map { case (c, i) => c -> (10000 + i * 7) }.toMap
    // Zipf-like traffic: a few hubs, a long tail; capped so every
    // origin's day fits in distinct minutes.
    private val weights = airports.indices.map(i => 1.0 / math.pow(i + 8.0, 0.9))
    private val wSum = weights.sum
    private val cap = 1200
    private val made = mutable.ArrayBuffer.empty[Day]

    /** Day `d` (0-based), generating every earlier day first. */
    def apply(d: Int): Day = {
      require(d < shape.days, s"day $d of ${shape.days}")
      while (made.size <= d) made += make(made.size)
      made(d)
    }

    private def make(d: Int): Day = {
      val date = Start.plusDays(d.toLong)
      val total = (shape.flightsPerDay * (0.98 + 0.04 * rnd.nextDouble())).toInt
      val unknownN = (total * 0.005).toInt
      val counts = weights.map(w => math.min(cap, ((total - unknownN) * w / wSum).toInt))
      val perOrigin = airports.map(_._1).zip(counts) ++
        unknown.map(_ -> math.max(1, unknownN / unknown.size))
      val flights = Vector.newBuilder[Flight]
      // (origin, JSON object of one flight) in generation order
      val rows = mutable.ArrayBuffer.empty[(String, String)]
      val minutes = Array.tabulate(1440)(identity)
      for ((origin, n) <- perOrigin) {
        val zone = timezones.get(origin).map(ZoneId.of)
        // partial Fisher-Yates: the first n slots are n distinct minutes
        for (i <- 0 until n) {
          val j = i + rnd.nextInt(1440 - i)
          val t = minutes(i); minutes(i) = minutes(j); minutes(j) = t
        }
        for (i <- 0 until n) {
          val (airline, dotId) = Airlines(rnd.nextInt(Airlines.size))
          val minute = minutes(i)
          val u = rnd.nextDouble()
          val cancelled = u < 0.010
          val midnight = !cancelled && u < 0.012
          val depTime =
            if (cancelled) None else if (midnight) Some(2400) else Some(hhmm(minute))
          val utc = for {
            z <- zone if !cancelled && !midnight
          } yield date.atTime(LocalTime.of(minute / 60, minute % 60))
            .atZone(z).toEpochSecond
          flights += Flight(date, airline, origin, depTime, utc)
          val delay = rnd.nextInt(60) - 10
          val dest = airports(rnd.nextInt(airports.size))._1
          val dist = 100 + rnd.nextInt(2400)
          val m = rnd.nextDouble()
          val depDelay =
            if (cancelled) "null" else if (m < 0.0005) "\"NA\"" else delay.toString
          val airTime =
            if (cancelled) "null" else if (m > 0.9995) "\"\"" else (dist / 8 + rnd.nextInt(20)).toString
          val sb = new StringBuilder(360)
          sb.append("{\"FlightDate\":\"").append(date)
            .append("\",\"Reporting_Airline\":\"").append(airline)
            .append("\",\"DOT_ID_Reporting_Airline\":").append(dotId)
            .append(",\"Flight_Number_Reporting_Airline\":").append(1 + rnd.nextInt(6999))
            .append(",\"Tail_Number\":\"N").append(100 + rnd.nextInt(900)).append(airline)
            .append("\",\"DestAirportID\":").append(airportId(dest))
            .append(",\"Dest\":\"").append(dest)
            .append("\",\"DestCityName\":\"City ").append(dest).append(", ST")
            .append("\",\"CRSDepTime\":").append(hhmm(Math.floorMod(minute - delay, 1440)))
            .append(",\"DepTime\":").append(depTime.fold("null")(_.toString))
            .append(",\"DepDelay\":").append(depDelay)
            .append(",\"Cancelled\":").append(if (cancelled) 1 else 0)
            .append(",\"Diverted\":").append(if (!cancelled && m > 0.998) 1 else 0)
            .append(",\"AirTime\":").append(airTime)
            .append(",\"Distance\":").append(dist)
          rows += origin -> sb.toString
        }
      }
      val originFields = (o: String) =>
        s""""OriginAirportID":${airportId(o)},"Origin":"$o","OriginCityName":"City $o, ST""""
      val lines = rnd.shuffle(rows.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (o, fs) =>
        fs.grouped(Chunk).map { chunk =>
          s"""{"airport":{${originFields(o)},"flights":[""" +
            chunk.map(_._2 + "}").mkString(",") + "]}}"
        }
      })
      val f = dir.resolve(f"day-$d%02d-$date.json")
      val data = lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
      Files.write(f, data)
      Day(f, flights.result(), data.length.toLong)
    }
  }

  /** Expected final rows keyed by (date, origin, DepTime) for flights
    * with a FlightTime, after `days` (consecutive, non-empty) went
    * through the daily flow in order: each day's rows look ahead into
    * the next day only (the flow stitches exactly two days). Value:
    * (FlightTime, Airline_next, diff_next). */
  def expected(days: Seq[Vector[Flight]])
      : Map[(LocalDate, String, Int), (Long, Option[String], Option[Long])] = {
    val last = days.last.head.date
    val timed = days.flatten.filter(_.utc.isDefined)
    timed.groupBy(_.origin).values.flatMap { fs =>
      val sorted = fs.sortBy(_.utc.get).toIndexedSeq
      sorted.indices.map { i =>
        val f = sorted(i)
        val horizon = if (f.date.isBefore(last)) f.date.plusDays(1) else f.date
        val next = if (i + 1 < sorted.size && !sorted(i + 1).date.isAfter(horizon))
          Some(sorted(i + 1)) else None
        (f.date, f.origin, f.depTime.get) ->
          ((f.utc.get, next.map(_.airline), next.map(_.utc.get - f.utc.get)))
      }
    }.toMap
  }

  /** Dates whose partition differs from the expectation after `days`:
    * wrong row count, wrong NULL-FlightTime count, a wrong FlightTime /
    * Airline_next / diff_next, a non-NULL diff_next on a NULL-FlightTime
    * row, or a missing partition. Partitions outside the processed
    * range are reported too. Empty ⇒ correct. */
  def check(days: Seq[Vector[Flight]], rows: Seq[OutRow]): Seq[(LocalDate, String)] = {
    val want = expected(days)
    val bad = mutable.LinkedHashMap.empty[LocalDate, String]
    def flag(d: LocalDate, why: => String): Unit = if (!bad.contains(d)) bad(d) = why
    val byDate = rows.groupBy(_.date)
    for (day <- days) {
      val d = day.head.date
      val got = byDate.getOrElse(d, Nil)
      val nulls = day.count(_.utc.isEmpty)
      if (got.isEmpty) flag(d, "partition missing")
      else if (got.size != day.size) flag(d, s"${got.size} rows, want ${day.size}")
      else if (got.count(_.flightTime.isEmpty) != nulls)
        flag(d, s"${got.count(_.flightTime.isEmpty)} NULL FlightTime, want $nulls")
      got.foreach { r =>
        r.flightTime match {
          case None =>
            if (r.diffNext.isDefined) flag(d, s"diff_next on a NULL FlightTime at ${r.origin}")
          case Some(ft) =>
            val key = (r.date, r.origin, r.depTime.getOrElse(-1))
            want.get(key) match {
              case None => flag(d, s"unexpected row $key")
              case Some(w) if w != ((ft, r.airlineNext, r.diffNext)) =>
                flag(d, s"$key: got ${(ft, r.airlineNext, r.diffNext)}, want $w")
              case _ =>
            }
        }
      }
    }
    val processed = days.map(_.head.date).toSet
    byDate.keys.filterNot(processed).foreach(d => flag(d, "unexpected partition"))
    bad.toSeq
  }
}
