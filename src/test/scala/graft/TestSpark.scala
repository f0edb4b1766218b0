package graft

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
}
