package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/**
 * Bridge into Spark's `private[sql]` Column↔Expression conversions
 * (`org.apache.spark.sql.classic.ExpressionUtils`), the supported
 * wiring point for libraries that ship custom Catalyst expressions
 * on Spark 4's classic engine. This is the only file in the project
 * compiled into Spark's namespace; everything else lives under
 * `graft`.
 */
object GraftBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Wrap a one-row DataFrame's plan as a scalar subquery expression —
    * the constant-or-subquery shape `BloomFilterMightContain` /
    * `graft_cms_estimate` demand for their sketch operand (the same
    * plan shape Spark's InjectRuntimeFilter builds internally). Kept
    * here so the internal constructor's arity — which has already
    * changed across Spark versions — is patched in ONE place. */
  def scalarSubquery(df: Dataset[_]): Expression =
    catalyst.expressions.ScalarSubquery(
      df.queryExecution.analyzed,
      Seq.empty[Expression],
      catalyst.expressions.NamedExpression.newExprId,
      Seq.empty[Expression],
      Option.empty[catalyst.plans.logical.HintInfo],
      Option.empty[Boolean],
      Option.empty[Boolean])

  /** Deterministically free the blocks behind a `localCheckpoint`'d
    * DataFrame. `Dataset.unpersist()` only consults the CacheManager,
    * which knows nothing about checkpoint persistence (it lives at
    * the RDD level inside the plan's `LogicalRDD`), so without this a
    * superseded checkpoint lingers until driver GC + ContextCleaner
    * get around to it — executor memory held hostage to driver GC
    * timing. Iterative algorithms call this on round N's frame once
    * round N+1 has materialized.
    *
    * Contract: `df` must ITSELF be the checkpoint — only a root
    * `LogicalRDD` is unpersisted. Matching anywhere deeper would free
    * the only data copy of any OTHER live checkpointed frame embedded
    * in a derived plan (lineage is truncated, so its blocks are
    * unrecoverable), a footgun this root-only match rules out. */
  def freeLocalCheckpoint(df: Dataset[_]): Unit =
    df.queryExecution.analyzed match {
      case lr: execution.LogicalRDD => lr.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Whether Spark's file listing skips a file or directory of this
    * name (hidden, metadata and in-progress names) — so a listing made
    * outside Spark sees the same data files a file index would. */
  def isHiddenPath(name: String): Boolean =
    org.apache.spark.util.HadoopFSUtils.shouldFilterOutPathName(name)

  /** Test-harness hooks for `SparkContext.checkpointDir` (a
    * `private[spark]` var with a setter but no public un-setter).
    * A suite exercising the reliable-barrier path (`graft.operators
    * .Barrier`) must hand the shared JVM back with the dir RESTORED,
    * or every later iterative test silently switches to FS
    * checkpoints. Read the current value, set a temp dir, restore. */
  def getCheckpointDir(sc: org.apache.spark.SparkContext): Option[String] =
    sc.checkpointDir
  def restoreCheckpointDir(
      sc: org.apache.spark.SparkContext, dir: Option[String]): Unit =
    sc.checkpointDir = dir
}
