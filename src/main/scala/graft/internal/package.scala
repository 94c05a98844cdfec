package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Shared helpers for pandas-compatible null/NaN key semantics.
  *
  * The reference library (pd-utils) inherits pandas groupby behavior:
  * NaN group keys are silently dropped from aggregation, so rows with a
  * missing key receive a NULL aggregate after merge-back — EXCEPT in
  * `transform` mode, where NaN keys are sentinel-filled and form their
  * own group (reference: pd_utils/merge.py:57-89). Spark `groupBy`
  * keeps null keys, so the agg path must mask them explicitly.
  */
package object internal {

  /** True iff the column value is "missing" in the pandas sense:
    * NULL, or NaN for floating-point columns.
    */
  def isMissing(df: DataFrame, c: String): Column = {
    df.schema(c).dataType match {
      case DoubleType | FloatType => col(c).isNull || isnan(col(c))
      case _                      => col(c).isNull
    }
  }

  /** True iff any of the given key columns is missing. */
  def anyMissing(df: DataFrame, keys: Seq[String]): Column =
    keys.map(k => isMissing(df, k)).reduce(_ || _)

  /** Drop rows whose group keys contain a missing value (pandas
    * groupby-agg semantics).
    */
  def dropMissingKeys(df: DataFrame, keys: Seq[String]): DataFrame =
    df.where(!anyMissing(df, keys))

  def toCols(names: Seq[String]): Seq[Column] = names.map(col)

  /** Wrap a native Catalyst Expression as a Column (and back) — via
    * the one-file sql-package bridge, since Spark 4 made the
    * conversion private[sql]. Used by the Dedup hot paths to plug
    * [[graft.plans.MinhashSignatureExpr]]-style expressions into
    * ordinary DataFrame code on ANY session (no extension needed).
    */
  def exprColumn(e: org.apache.spark.sql.catalyst.expressions.Expression): Column =
    org.apache.spark.sql.GraftSqlBridge.column(e)

  def columnExpr(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.GraftSqlBridge.expression(c)

  /** The rows of `df` if it has at most `cap` of them, else `None`
    * (the input is over the cap). One Spark job: `coalesce(1)` makes
    * the limited collect one task that stops reading after `cap + 1`
    * rows, not a scale-up series of partition scans. The driver loops
    * ([[graft.pipeline.Graph.pageRankWithCleanup]],
    * [[graft.pipeline.Similarity.kmeansCentroids]]) pick their route
    * from the rows this returns, never from a plan estimate, so an
    * inflated estimate cannot flip a route.
    */
  def collectAtMost(df: DataFrame, cap: Int): Option[Array[org.apache.spark.sql.Row]] = {
    val rows = df.coalesce(1).limit(cap + 1).collect()
    if (rows.length > cap) None else Some(rows)
  }

  /** `df.localCheckpoint(eager)` plus a release handle for the
    * checkpoint's cached blocks. Spark has no public API to unpersist
    * a localCheckpoint (the Dataset's own `unpersist` targets the
    * plan cache, not the checkpoint RDD), so the handle releases the
    * RDD the returned frame's `LogicalRDD` scans — the one
    * `RDD.localCheckpoint` persisted inside the call, for both the
    * eager and the lazy form. It names that one RDD, so a concurrent
    * persist on another driver thread (a [[graft.Cleanup.concurrently]]
    * task) is never released by this caller's handle.
    *
    * Without release, every localCheckpoint strands MEMORY_AND_DISK
    * blocks until context shutdown — measured in round 4 as a ~2x
    * slowdown on every subsequent query in the same session.
    */
  def localCheckpointTracked(df: DataFrame, eager: Boolean): (DataFrame, () => Unit) = {
    val cp = df.localCheckpoint(eager)
    val rdd = cp.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd
      case other => throw new IllegalStateException(
        s"localCheckpoint returned a ${other.nodeName} plan, not a LogicalRDD scan")
    }
    if (!df.sparkSession.sparkContext.getPersistentRDDs.get(rdd.id).exists(_ eq rdd))
      throw new IllegalStateException(s"localCheckpoint's scanned RDD ${rdd.id} is not persisted")
    (cp, () => { rdd.unpersist(blocking = false); () })
  }
}
