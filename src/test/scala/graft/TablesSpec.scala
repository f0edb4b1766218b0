package graft

import java.lang.ref.WeakReference
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
import org.scalatest.funsuite.AnyFunSuite

import graft.sources.Tables

/** The per-session resolution memo of `Tables.load`. */
class TablesSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import TestSpark.jobsDuring

  /** A fresh `<dir>/t.parquet` holding `ks` as column `k`. */
  private def fixture(ks: Seq[Int]): String = {
    val dir = Files.createTempDirectory("tables-spec").toString
    write(dir, ks)
    dir
  }

  private def write(dir: String, ks: Seq[Int]): Unit = {
    val s = spark
    import s.implicits._
    ks.toDF("k").withColumn("v", col("k") * 10)
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
  }

  private def keys(df: DataFrame): Seq[Int] =
    df.select("k").collect().map(_.getInt(0)).toSeq.sorted

  private def relation(df: DataFrame): HadoopFsRelation =
    df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation.asInstanceOf[HadoopFsRelation]
    }.get

  private def inferJobs(jobs: Seq[String]): Seq[String] =
    jobs.filter(_.startsWith("parquet at Tables.scala"))

  test("a second load of a table launches no Spark job and returns the same rows") {
    val dir = fixture(1 to 5)
    val (first, firstJobs) = jobsDuring(spark)(Tables.load(spark, dir, "t"))
    assert(inferJobs(firstJobs).size === 1, firstJobs)
    val (second, secondJobs) = jobsDuring(spark)(Tables.load(spark, dir, "t"))
    assert(secondJobs.isEmpty)
    assert(second.schema === first.schema)
    assert(second.collect().toSeq.sortBy(_.getInt(0)) ===
      first.collect().toSeq.sortBy(_.getInt(0)))
    assert(keys(second) === (1 to 5))
  }

  test("two loads of one table self-join without ambiguity") {
    val dir = fixture(1 to 4)
    val a = Tables.load(spark, dir, "t")
    val b = Tables.load(spark, dir, "t")
    assert(a.queryExecution.analyzed.output.map(_.exprId)
      .intersect(b.queryExecution.analyzed.output.map(_.exprId)).isEmpty)
    val j = a.join(b, a("k") === b("k") + 1).select(a("k"), b("v"))
    assert(j.collect().map(r => (r.getInt(0), r.getInt(1))).sorted.toSeq ===
      Seq((2, 10), (3, 20), (4, 30)))
  }

  test("rewriting a table between loads returns the new rows and schema") {
    val dir = fixture(1 to 3)
    assert(keys(Tables.load(spark, dir, "t")) === (1 to 3))
    assert(keys(Tables.load(spark, dir, "t")) === (1 to 3))
    write(dir, Seq(7, 8))
    assert(keys(Tables.load(spark, dir, "t")) === Seq(7, 8))
    // A rewrite that adds a column is read with the new schema.
    val s = spark
    import s.implicits._
    Seq(9).toDF("k").withColumn("w", lit("x"))
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val wide = Tables.load(spark, dir, "t")
    assert(wide.columns.toSeq === Seq("k", "w"))
    assert(wide.collect().map(r => (r.getInt(0), r.getString(1))).toSeq === Seq((9, "x")))
  }

  test("a missing table fails as spark.read.parquet does") {
    val dir = Files.createTempDirectory("tables-spec").toString
    val ex = intercept[org.apache.spark.sql.AnalysisException] {
      Tables.load(spark, dir, "absent")
    }
    assert(ex.getMessage.contains("absent.parquet"))
  }

  test("two sessions never share a relation") {
    val dir = fixture(1 to 3)
    val other = spark.newSession()
    val mine = Tables.load(spark, dir, "t")
    val theirs = Tables.load(other, dir, "t")
    val again = Tables.load(other, dir, "t")
    assert(relation(mine).sparkSession eq spark)
    assert(relation(theirs).sparkSession eq other)
    assert(relation(again).sparkSession eq other)
    assert(keys(theirs) === (1 to 3) && keys(again) === (1 to 3))
  }

  test("a session's memo entries do not keep the session alive") {
    val dir = fixture(1 to 3)
    def loadInNewSession(): WeakReference[SparkSession] = {
      val other = spark.newSession()
      assert(keys(Tables.load(other, dir, "t")) === (1 to 3))
      new WeakReference(other)
    }
    val ref = loadInNewSession()
    var tries = 0
    while (ref.get != null && tries < 50) {
      System.gc()
      Thread.sleep(20)
      tries += 1
    }
    assert(ref.get == null, "a session with memo entries was never collected")
  }

  test("the events table still reads its µs timestamps") {
    val dir = "/root/testdata/sf0.001"
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    // The file's ts as epoch µs, whichever encoding it was written in.
    val rawMicros = raw.schema("ts").dataType match {
      case LongType => expr("ts div 1000")
      case TimestampNTZType => unix_micros(col("ts").cast(TimestampType))
      case t => fail(s"unexpected raw ts type $t")
    }
    val want = raw.select(rawMicros).collect().map(_.getLong(0)).sorted.toSeq
    for (_ <- 1 to 2) {
      val ev = Tables.load(spark, dir, "events")
      assert(ev.schema("ts").dataType === TimestampType)
      assert(ev.select(unix_micros(col("ts"))).collect().map(_.getLong(0))
        .sorted.toSeq === want)
    }
  }
}
