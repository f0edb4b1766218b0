package graft

import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** One shared local session for all suites (SURVEY.md §5). */
object TestSpark {
  lazy val spark: SparkSession = {
    val wh = java.nio.file.Files.createTempDirectory("graft-wh").toString
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-tests")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", wh)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Schema and rows of a catalog table, independent of column and row
    * order, read after refreshing its file listing. */
  def tableState(session: SparkSession, name: String)
      : (Seq[(String, String)], Seq[Seq[Any]]) = {
    session.catalog.refreshTable(name)
    val df = session.read.table(name)
    val fields = df.schema.fields.toSeq
      .map(f => (f.name, f.dataType.simpleString)).sortBy(_._1)
    val rows = df.select(df.columns.sorted.map(col).toIndexedSeq: _*)
      .collect().map(_.toSeq).toSeq
      .sortBy(_.map(String.valueOf).mkString("|"))
    (fields, rows)
  }

  /** Result of `f` and the call sites of the Spark jobs it started
    * (`parquet at Tables.scala:40`, ...), in start order. A marker job
    * drains the listener bus: its events arrive in order, so once the
    * marker's start is seen, every earlier job has been recorded. */
  def jobsDuring[T](session: SparkSession)(f: => T): (T, Seq[String]) = {
    val sc = session.sparkContext
    val names = new ConcurrentLinkedQueue[String]
    val markerSeen = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        if (js.properties != null && "graft-drain-marker" ==
            js.properties.getProperty("spark.jobGroup.id"))
          markerSeen.countDown()
        else names.add(js.stageInfos.maxBy(_.stageId).name)
    }
    sc.addSparkListener(l)
    try {
      val r = f
      sc.setJobGroup("graft-drain-marker", "drain")
      try sc.parallelize(0 until 1, 1).count()
      finally sc.clearJobGroup()
      assert(markerSeen.await(30, TimeUnit.SECONDS),
        "listener bus failed to deliver marker job start within 30s")
      (r, names.asScala.toSeq)
    } finally sc.removeSparkListener(l)
  }
}
