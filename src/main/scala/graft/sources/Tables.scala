package graft.sources

import java.util.WeakHashMap

import scala.collection.mutable

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.execution.datasources.{FileStatusCache, HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType, TimestampNTZType, TimestampType}

/**
 * Parquet table loader for the driver's testdata layout
 * (`<sfDir>/<name>.parquet`).
 *
 * Timestamp normalization — the driver has shipped two physical
 * encodings across rounds, and this loader accepts both:
 *
 *  - TIMESTAMP(NANOS) (rounds ≤6): Spark's vectorized reader rejects
 *    it outright (PARQUET_TYPE_ILLEGAL), so we read nanos as
 *    epoch-nano longs (`spark.sql.legacy.parquet.nanosAsLong`) and
 *    rebuild a microsecond timestamp with integer division — the data
 *    is µs-aligned, so this is lossless, and integer `div` avoids the
 *    double-precision loss a `/ 1000` cast would hit at epoch-nano
 *    magnitudes (~1.7e18 > 2^53).
 *  - TIMESTAMP(MICROS, isAdjustedToUTC=false) (round 7+): Spark
 *    infers TIMESTAMP_NTZ, which breaks every epoch-arithmetic cast
 *    downstream (NTZ→BIGINT is not a legal cast). All graft sessions
 *    pin `spark.sql.session.timeZone=UTC`, so NTZ wall-clock values
 *    ARE the UTC instants — the cast to TIMESTAMP (LTZ) below is a
 *    pure re-tag, matching both the old rebuild path and DuckDB's
 *    naive-TIMESTAMP view of the same files.
 *
 * Both re-tags are one projection over the scan.
 *
 * Resolution memo — resolving a table from scratch runs a Spark job
 * to infer the schema from the parquet footers, lists the files and
 * analyses the plan, about 100 ms per call, and the registry loads
 * the same few tables hundreds of times. So each table is resolved
 * once per session and path; every later load assembles a new
 * `HadoopFsRelation` from the memo over the current listing and
 * returns it through `spark.baseRelationToDataFrame`. Each load thus
 * gets fresh attribute ids (a self-join of two loads stays
 * unambiguous) and runs no Spark job. The contract:
 *
 *  - Every load lists the table's files through the Hadoop FS API.
 *    If the names, sizes or modification times differ from the
 *    listing the memo was resolved on, the table is resolved again.
 *    That listing is also the one the new relation's file index
 *    reads, so a hit lists the files once.
 *  - The memo keeps only what resolution found that refers to no
 *    session (schemas, reader options, the stamp). Relations and
 *    file indexes hold their SparkSession, so they are built per
 *    load with the caller's session and never reach another one.
 *  - Entries are keyed weakly by session: since they refer to no
 *    session, they die with it.
 *  - A table that does not exist or cannot be inferred is not
 *    memoized; the load fails as `spark.read.parquet` does.
 */
object Tables {

  /** Columns per table that are parquet TIMESTAMP(NANOS) on disk. */
  private val nanoCols: Map[String, Seq[String]] = Map("events" -> Seq("ts"))

  /** What resolving a path found, as of the listing `stamp`. */
  private final case class Resolved(
      stamp: Set[(String, Long, Long)],
      dataSchema: StructType,
      partitionSchema: StructType,
      options: Map[String, String])

  private val memo = new WeakHashMap[SparkSession, mutable.Map[String, Resolved]]

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Runtime-settable legacy conf; harmless when already set.
    // Deliberately NOT save/restored: the returned plan is lazy and
    // re-consults the conf at execution, so restoring it here would
    // break every DataFrame this function has ever returned.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    val fs = new Path(path).getFileSystem(spark.sessionState.newHadoopConf())
    val root = fs.makeQualified(new Path(path))
    val files = leafFiles(fs, root)
    val stamp = files.map(f => (f.getPath.toString, f.getLen, f.getModificationTime)).toSet
    def entries = memo.computeIfAbsent(spark, _ => mutable.Map.empty[String, Resolved])
    val resolved = memo.synchronized(entries.get(path)).filter(_.stamp == stamp).getOrElse {
      val found = resolve(spark, path)
      val r = Resolved(stamp, found.dataSchema, found.partitionSchema, found.options)
      memo.synchronized(entries(path) = r)
      r
    }
    val index = new InMemoryFileIndex(spark, Seq(root), resolved.options,
      Some(StructType(resolved.dataSchema ++ resolved.partitionSchema)),
      new Listed(files.toArray))
    val rel = HadoopFsRelation(index, resolved.partitionSchema,
      resolved.dataSchema, None, new ParquetFileFormat, resolved.options)(spark)
    retag(spark.baseRelationToDataFrame(rel), nanoCols.getOrElse(name, Nil))
  }

  /** Infer the table's schema the way `spark.read.parquet` does (the
    * one Spark job a table costs per session). */
  private def resolve(spark: SparkSession, path: String): HadoopFsRelation =
    spark.read.parquet(path).queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation
    } match {
      case Some(r: HadoopFsRelation) => r
      case other => throw new IllegalStateException(
        s"$path resolved to $other, not a parquet file relation")
    }

  /** The data files under `p` in listing order, skipping the hidden
    * and metadata names Spark's own listing skips; none if `p` does
    * not exist. */
  private def leafFiles(fs: FileSystem, p: Path): Seq[FileStatus] =
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq
      .filterNot(s => GraftBridge.isHiddenPath(s.getPath.getName))
      .flatMap(s => if (s.isDirectory) leafFiles(fs, s.getPath) else Seq(s))

  /** Hands a file index the listing the stamp was taken from, so
    * building the index lists nothing. A refresh of the index drops
    * it, and the index lists the files again. */
  private final class Listed(files: Array[FileStatus]) extends FileStatusCache {
    @volatile private var leaf: Option[Array[FileStatus]] = Some(files)
    override def getLeafFiles(path: Path): Option[Array[FileStatus]] = leaf
    override def putLeafFiles(path: Path, files: Array[FileStatus]): Unit = ()
    override def invalidateAll(): Unit = leaf = None
  }

  /** Nano-long columns in `nanos` become µs timestamps and NTZ columns
    * UTC instants (see Scaladoc), in one projection. */
  private def retag(df: DataFrame, nanos: Seq[String]): DataFrame = {
    def retagged(f: StructField): Option[Column] = f.dataType match {
      case LongType if nanos.contains(f.name) =>
        Some(timestamp_micros(expr(s"`${f.name}` div 1000")))
      case TimestampNTZType => Some(col(s"`${f.name}`").cast(TimestampType))
      case _ => None
    }
    val fields = df.schema.fields.toSeq
    if (fields.forall(retagged(_).isEmpty)) df
    else df.select(fields.map(f =>
      retagged(f).map(_.as(f.name)).getOrElse(col(s"`${f.name}`"))): _*)
  }
}
