package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import graft.operators.DailyFlow

/**
 * Self-tests of the benchmark: generator determinism, the daily checker
 * rejecting corrupted tables, and trace spans nesting inside the calls
 * that caused them. Also writes one registry query's output for the
 * oracle-check test in run.py. Prints PASS/FAIL lines; exits 1 on any
 * failure.
 *
 * Arguments: WORK_DIR TABLES_DIR
 */
object SelfTest {
  private var failures = 0

  private def expect(name: String)(ok: => Boolean): Unit = {
    val pass = try ok catch { case e: Exception => e.printStackTrace(); false }
    if (!pass) failures += 1
    println(s"${if (pass) "PASS" else "FAIL"} $name")
  }

  private def bytes(dir: Path): Seq[(String, Seq[Byte])] =
    Files.list(dir).iterator().asScala.toSeq.sortBy(_.toString)
      .map(p => p.getFileName.toString -> Files.readAllBytes(p).toSeq)

  def main(args: Array[String]): Unit = {
    val work = Paths.get(args(0)).toAbsolutePath
    val small = Flights.Shape(days = 3, flightsPerDay = 3000, airports = 60)

    def gen(dir: String, seed: Long) = {
      val in = new Flights.Inputs(work.resolve(dir), seed, small)
      (0 until small.days).foreach(in(_))
      bytes(work.resolve(dir))
    }
    val a = gen("gen-a", 5)
    expect("daily generator: same seed, identical files")(a == gen("gen-b", 5))
    expect("daily generator: other seed, other files")(a != gen("gen-c", 6))

    val spark = Main.session(work, "2")
    val inputs = new Flights.Inputs(work.resolve("flow"), 9, small)
    val days = (0 until small.days).map(inputs(_))
    val flow = new DailyFlow(Flights.config(Flights.OutputTable))
    val tracer = new Tracer(spark)
    days.zipWithIndex.foreach { case (d, i) =>
      tracer.call(s"d$i", "operators.DailyFlow.processDaily")(
        flow.processDaily(spark, d.file.toString))
      val call = tracer.spans.last
      tracer.actionsIn(call).foreach(a => tracer.addAction(call, "action", a))
    }
    tracer.close()
    val rows = Main.readBack(spark)
    val flights = days.map(_.flights)

    expect("checker accepts the flow's table")(Flights.check(flights, rows).isEmpty)
    val i = rows.indexWhere(_.diffNext.isDefined)
    val altered = rows.updated(i, rows(i).copy(diffNext = rows(i).diffNext.map(_ + 60)))
    expect("checker rejects one altered diff_next")(
      Flights.check(flights, altered).map(_._1) == Seq(rows(i).date))
    val gone = days(1).flights.head.date
    expect("checker rejects a missing partition")(
      Flights.check(flights, rows.filterNot(_.date == gone)) == Seq(gone -> "partition missing"))

    val actions = tracer.spans.filter(_.name == "action")
    expect("trace: every processDaily call has actions")(
      actions.map(_.unit).distinct.size == days.size)
    expect("trace: action spans never exceed their enclosing call")(tracer.escapes.isEmpty)
    expect("trace: self time plus children covers each call")(
      tracer.spans.filter(_.parent == -1).forall { s =>
        val kids = actions.filter(_.parent == s.id).map(_.seconds).sum
        math.abs(tracer.selfSeconds(s) + kids - s.seconds) < 1e-9
      })

    // One registry query's output, for run.py's oracle-check test.
    if (args.length > 1) {
      val q = "q180_tpch21"
      val df = graft.SparkEntry.queries(q)(spark, args(1))
      df.write.mode("overwrite").parquet(work.resolve("out").resolve(q).toString)
      Files.write(work.resolve("out").resolve("oracle_sql.json"),
        ("{\"" + q + "\":" + Main.jsonString(graft.SparkEntry.oracleSql(q)) + "}").getBytes("UTF-8"))
    }
    spark.stop()
    sys.exit(if (failures == 0) 0 else 1)
  }
}
