package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.PerfbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchSql, SparkSession}
import org.apache.spark.sql.execution.{CommandResultExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

/** Work the cluster did: jobs, stages, task CPU and GC seconds, shuffle
  * bytes written, bytes spilled to disk. */
final case class Work(
    jobs: Long = 0, stages: Long = 0, cpuS: Double = 0, gcS: Double = 0,
    shuffleBytes: Long = 0, spillBytes: Long = 0) {
  def +(o: Work): Work = Work(jobs + o.jobs, stages + o.stages, cpuS + o.cpuS,
    gcS + o.gcS, shuffleBytes + o.shuffleBytes, spillBytes + o.spillBytes)
  def -(o: Work): Work = Work(jobs - o.jobs, stages - o.stages, cpuS - o.cpuS,
    gcS - o.gcS, shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes)
}

/** Shuffle bytes written by all tasks, summed. Cheap enough to stay on
  * in untraced runs. */
final class ShuffleMeter(spark: SparkSession) {
  private val bytes = new java.util.concurrent.atomic.AtomicLong
  private val listener = new SparkListener {
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(e.taskMetrics).foreach(m => bytes.addAndGet(m.shuffleWriteMetrics.bytesWritten))
  }
  spark.sparkContext.addSparkListener(listener)

  /** Bytes written by every task that ended before this call. */
  def written(): Long = { PerfbenchBus.drain(spark.sparkContext); bytes.get }

  def close(): Unit = spark.sparkContext.removeSparkListener(listener)
}

/** A traced interval. Times are epoch milliseconds from the same clock
  * Spark stamps SQL execution events with, so an action span and the
  * call that caused it compare exactly. `unit` groups the spans of one
  * day or one query. */
final class Span(
    val id: Int, val unit: String, val name: String, val parent: Int,
    val start: Long, var end: Long, var work: Work = Work(),
    val extra: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty) {
  def seconds: Double = (end - start) / 1000.0
}

/** One root SQL execution (an action) as seen by the listeners. */
final class Action(val id: Long, val start: Long) {
  var end: Long = -1
  var work: Work = Work()
  /** One-line descriptions of the write commands it ran. */
  var targets: String = ""
  var files: Long = 0
  var bytes: Long = 0
  var parts: Long = 0
  def isWrite: Boolean = targets.nonEmpty
}

/**
 * Spans around calls into the program's public functions, plus one
 * span per SQL execution (action) attributed through a SparkListener
 * and a QueryExecutionListener. Everything is kept in memory and
 * written out once at the end.
 */
final class Tracer(spark: SparkSession) {
  private val lock = new Object
  private var total = Work()
  private val actions = mutable.LinkedHashMap.empty[Long, Action]
  private val rootOf = mutable.Map.empty[Long, Long]
  private val stageRoot = mutable.Map.empty[Int, Long]
  // Write commands as the QueryExecutionListener saw them, and the SQL
  // execution each QueryExecution ran as; joined once the bus drains.
  private val writesOf = new java.util.IdentityHashMap[QueryExecution, Seq[(String, Long, Long, Long)]]
  private val execOf = new java.util.IdentityHashMap[QueryExecution, Long]
  val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]

  private def charge(root: Option[Long], w: Work): Unit = lock.synchronized {
    total = total + w
    root.flatMap(actions.get).foreach(a => a.work = a.work + w)
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val root = Option(e.properties)
        .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
        .map(_.toLong).map(id => lock.synchronized(rootOf.getOrElse(id, id)))
      lock.synchronized(root.foreach(r => e.stageIds.foreach(stageRoot(_) = r)))
      charge(root, Work(jobs = 1))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      charge(lock.synchronized(stageRoot.get(e.stageInfo.stageId)), Work(stages = 1))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      charge(lock.synchronized(stageRoot.get(e.stageId)), Work(
        cpuS = m.executorCpuTime / 1e9, gcS = m.jvmGCTime / 1e3,
        shuffleBytes = m.shuffleWriteMetrics.bytesWritten,
        spillBytes = m.diskBytesSpilled))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => lock.synchronized {
        val root = s.rootExecutionId.getOrElse(s.executionId)
        rootOf(s.executionId) = root
        if (root == s.executionId) actions(root) = new Action(root, s.time)
      }
      case x: SparkListenerSQLExecutionEnd => lock.synchronized {
        actions.get(x.executionId).foreach(_.end = x.time)
        PerfbenchSql.queryExecution(x).foreach(execOf.put(_, x.executionId))
      }
      case _ =>
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def writes(p: SparkPlan): Seq[DataWritingCommandExec] = p match {
      case d: DataWritingCommandExec => Seq(d)
      case c: CommandResultExec => writes(c.commandPhysicalPlan)
      case a: AdaptiveSparkPlanExec => writes(a.executedPlan)
      case q: QueryStageExec => writes(q.plan)
      case other => other.children.flatMap(writes)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ws = writes(qe.executedPlan).map { d =>
        def m(k: String) = d.cmd.metrics.get(k).map(_.value).getOrElse(0L)
        (d.cmd.simpleString(8).take(400), m("numFiles"), m("numOutputBytes"), m("numParts"))
      }
      if (ws.nonEmpty) lock.synchronized(writesOf.put(qe, ws))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(listener)
  spark.listenerManager.register(qeListener)

  def close(): Unit = {
    spark.listenerManager.unregister(qeListener)
    spark.sparkContext.removeSparkListener(listener)
  }

  /** Wait for every posted event, fold write commands into their root
    * action, then read `f`. Once the bus is empty no pending write can
    * still be joined, so both maps start over. */
  private def drained[T](f: => T): T = {
    PerfbenchBus.drain(spark.sparkContext)
    lock.synchronized {
      writesOf.asScala.foreach { case (qe, ws) =>
        Option(execOf.get(qe)).flatMap(id => actions.get(rootOf.getOrElse(id, id))).foreach { a =>
          ws.foreach { case (target, files, bytes, parts) =>
            a.targets += target + "\n"; a.files += files; a.bytes += bytes; a.parts += parts
          }
        }
      }
      writesOf.clear()
      execOf.clear()
      f
    }
  }

  /** Run `body` inside a span named `name`, child of the innermost open
    * span; its work is what the cluster did between start and end. */
  def call[T](unit: String, name: String)(body: => T): T = {
    val w0 = drained(total)
    val s = new Span(spans.size, unit, name,
      stack.headOption.map(_.id).getOrElse(-1), System.currentTimeMillis(), -1)
    spans += s
    stack.push(s)
    try body
    finally {
      stack.pop()
      s.end = System.currentTimeMillis()
      s.work = drained(total) - w0
    }
  }

  /** Root SQL executions that started inside `s`, oldest first. */
  def actionsIn(s: Span): Seq[Action] = drained(
    actions.values.filter(a => a.start >= s.start && a.start <= s.end).toVector)

  /** Record `a` as a child span of `parent` named `name`. */
  def addAction(parent: Span, name: String, a: Action): Span = {
    val s = new Span(spans.size, parent.unit, name, parent.id, a.start, a.end, a.work)
    if (a.isWrite) {
      s.extra("files") = a.files.toDouble
      s.extra("bytes") = a.bytes.toDouble
      s.extra("partitions") = a.parts.toDouble
    }
    spans += s
    s
  }

  /** Duration of `s` not covered by any of its children. */
  def selfSeconds(s: Span): Double = {
    val kids = spans.filter(_.parent == s.id)
      .map(k => (math.max(k.start, s.start), math.min(k.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var upTo = s.start
    kids.foreach { case (a, b) =>
      val from = math.max(a, upTo)
      if (b > from) { covered += b - from; upTo = b }
    }
    (s.end - s.start - covered) / 1000.0
  }

  /** Child spans that start before or end after their parent. */
  def escapes: Seq[(Span, Span)] = {
    val byId = spans.map(s => s.id -> s).toMap
    spans.toSeq.flatMap { s =>
      byId.get(s.parent).filter(p => s.start < p.start || s.end > p.end).map(p => (s, p))
    }
  }

  def write(path: Path): Unit = {
    val lines = spans.map { s =>
      val w = s.work
      val extra = s.extra.map { case (k, v) => s""","$k":$v""" }.mkString
      s"""{"id":${s.id},"unit":"${s.unit}","name":"${s.name}","parent":${s.parent},""" +
        s""""start_ms":${s.start},"end_ms":${s.end},"self_s":${selfSeconds(s)},""" +
        s""""jobs":${w.jobs},"stages":${w.stages},"task_cpu_s":${w.cpuS},"gc_s":${w.gcS},""" +
        s""""shuffle_bytes":${w.shuffleBytes},"spill_bytes":${w.spillBytes}$extra}"""
    }
    Files.write(path, lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
  }
}
