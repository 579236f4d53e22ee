package org.apache.spark.sql.graftshim

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge to Spark's `private[sql]` Column <-> Expression converters
  * (org.apache.spark.sql.classic.ExpressionUtils). Custom Catalyst
  * expressions need a Column wrapper to participate in the DataFrame
  * API; Spark 4 hid the direct constructor, and the sanctioned
  * workaround for extension libraries is a shim inside the sql
  * package tree. This is the only file outside the graft namespace.
  */
object ColumnBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Fully convert a Column's ColumnNode tree into a CATALYST
    * expression tree (ExpressionUtils.expression wraps the node in a
    * lazy ColumnNodeExpression leaf whose children are ColumnNodes,
    * not expressions — useless for tree walks). Static lineage
    * extraction needs the real tree to collect UnresolvedAttributes
    * from. */
  def catalystExpression(c: Column): Expression =
    org.apache.spark.sql.classic.ColumnNodeToExpressionConverter(c.node)

  /** Rebuild a frame over an InternalRow RDD computed FROM `origin`,
    * preserving the origin plan's output partitioning and ordering —
    * exactly what `Dataset.localCheckpoint` does minus the
    * checkpoint (`LogicalRDD.fromDataset` / `Dataset.ofRows` are
    * private[sql]). For iterative operators that persist each pass:
    * staying in the UnsafeRow representation skips the
    * InternalRow↔Row codec round-trip of `df.rdd` +
    * `createDataFrame`, and the carried partitioning lets the next
    * pass's same-key joins reuse the layout instead of re-shuffling
    * every iteration.
    *
    * `originStats` is deliberately DROPPED (unlike localCheckpoint,
    * which carries the origin plan's Statistics): in an iterative
    * algorithm each pass's size-only estimate is a PRODUCT over the
    * previous pass's leaf estimates, so the carried sizeInBytes
    * BigInt doubles its bit length every pass — by pass ~14 the
    * driver spends whole seconds per stats visit inside
    * BigInteger.multiply (measured: 66 of an 86 s sf0.1
    * connected-components run). With no origin stats the leaf falls
    * back to `spark.sql.defaultSizeInBytes` (= Long.MaxValue), which
    * plans identically — the compounded estimates were over every
    * broadcast threshold from pass 1 anyway — at O(1) driver cost
    * per pass. */
  def dataFrameFromInternalRows(
      origin: org.apache.spark.sql.DataFrame,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow])
      : org.apache.spark.sql.DataFrame = {
    val cds = origin.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val lr = org.apache.spark.sql.execution.LogicalRDD
      .fromDataset(rdd, cds, isStreaming = false)
      .copy()(cds.sparkSession, originStats = None, originConstraints = None)
    org.apache.spark.sql.classic.Dataset.ofRows(cds.sparkSession, lr)
  }

  /** Release `rdd`'s cached blocks. A local checkpoint goes straight
    * to `SparkContext.unpersistRDD`: `RDD.unpersist` would first WARN,
    * once per RDD, that its truncated lineage cannot be recomputed,
    * and a freed cut is never read again. Any other RDD takes
    * `RDD.unpersist`, which also resets its storage level so a later
    * read recomputes it uncached. */
  def unpersist(rdd: org.apache.spark.rdd.RDD[_]): Unit = rdd.checkpointData match {
    case Some(_: org.apache.spark.rdd.LocalRDDCheckpointData[_]) =>
      rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)
    case _ => rdd.unpersist(blocking = false)
  }

  /** Register a function builder into an existing session's registry
    * (sessionState is private[sql]; the extensions hook only applies
    * at session build time). */
  def registerFunction(
      spark: org.apache.spark.sql.SparkSession,
      ident: org.apache.spark.sql.catalyst.FunctionIdentifier,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sessionState.functionRegistry.registerFunction(ident, info, builder)

  /** Block until every listener has been handed every event posted so
    * far (`SparkContext.listenerBus` is private[spark]): a job's end
    * is posted before the action that ran it returns, so after this a
    * listener has seen every job the caller ran. */
  def waitForListeners(sc: org.apache.spark.SparkContext, timeoutMs: Long): Unit =
    sc.listenerBus.waitUntilEmpty(timeoutMs)
}
