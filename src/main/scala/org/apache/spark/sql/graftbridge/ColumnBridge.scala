package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge to Spark's `private[sql]` Column⇄Expression converters — the
  * supported way for a library to expose custom Catalyst expressions as
  * user-facing Columns in Spark 4 (the pre-4.0 `new Column(expr)`
  * constructor is gone with the Connect refactor). Lives under the
  * `org.apache.spark.sql` package namespace solely for access. */
object ColumnBridge {
  def column(e: Expression): Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)
}

/** Bridge to `Dataset.ofRows` — re-binds an analyzed plan to a DIFFERENT
  * session for planning/execution. Used by `GraphOps.pinKeepingLayout` to
  * plan an eager checkpoint on a cloned session whose conf disables
  * auto-bucketed scans, so the flip is structurally invisible to every
  * planner on the caller's session (the pre-r15 implementation flipped
  * the shared session conf under a lock, which a concurrent planner could
  * observe). The resulting checkpointed RDD lives in the shared
  * SparkContext, so frames from the clone compose with main-session
  * frames as usual. */
object DatasetBridge {
  def ofRows(session: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
      : org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      session.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)

  /** A frame over already-planned rows (`Dataset.queryExecution.toRdd`
    * output, copied), with no `Row` conversion: its scan reads `rows`'
    * partitions as they are, so a persisted `rows` is read from Spark's
    * block cache with no columnar encode/decode. */
  def fromInternalRows(session: org.apache.spark.sql.SparkSession,
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    session.asInstanceOf[org.apache.spark.sql.classic.SparkSession].internalCreateDataFrame(rows, schema)

  /** Eager local checkpoint that records the physical plan's output
    * partitioning/ordering against QUALIFIER-NORMALIZED output
    * attributes — the layout-safe replacement for `Dataset
    * .localCheckpoint` under multi-reference plans.
    *
    * Why `Dataset.localCheckpoint` is not enough (r15 discovery): it
    * builds `LogicalRDD(logicalPlan.output, …, physicalPlan
    * .outputPartitioning)`. A passthrough table column's LOGICAL
    * attribute carries the catalog qualifier (`spark_catalog.default.t`)
    * while the attribute inside the recorded physical partitioning does
    * not — `AttributeReference.equals` compares qualifiers, so
    * `LogicalRDD.newInstance()`'s `output.zip(newIds).toMap` rewrite
    * MISSES the partitioning attr whenever `DeduplicateRelations`
    * re-instances the checkpoint for a second reference in one plan.
    * Every reference but one then reports stale partitioning and
    * downstream joins/aggs on the layout key silently re-exchange
    * (alias-produced columns have empty qualifiers on both sides, which
    * is why rename-style pins worked and identity projections did not).
    *
    * Here the LogicalRDD's output attrs are stripped to empty
    * qualifiers and the partitioning/ordering expressions are remapped
    * BY exprId onto those exact instances, so the newInstance rewrite
    * always hits. Stats are carried as (sizeInBytes, rowCount) only —
    * attribute-keyed histograms would need the same remap and no pin
    * consumer reads them. */
  def localCheckpointKeepingLayout(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    localCheckpointKeepingLayout(df, eager = true)

  /** [[localCheckpointKeepingLayout]] with the materialization moment as a
    * parameter. `eager = false` marks the RDD for local checkpointing but
    * runs NO job — the first downstream action (a convergence aggregate, a
    * broadcast build) materializes the blocks as a side effect, fusing the
    * checkpoint job into work the loop was going to do anyway (r16: the
    * per-round job-count cut in the fixed-point operators). Lazy callers
    * must consume the frame on an AQE-OFF session: executing an
    * AdaptiveSparkPlanExec materializes its query stages eagerly, which
    * would run the jobs at construction anyway. */
  def localCheckpointKeepingLayout(df: org.apache.spark.sql.DataFrame,
      eager: Boolean): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, SortOrder}
    import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection}
    val cdf = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[org.apache.spark.sql.Row]]
    val session = cdf.sparkSession
    val qe = cdf.queryExecution
    val physical = qe.executedPlan
    val internalRdd = physical.execute().map(_.copy())
    internalRdd.localCheckpoint()
    if (eager)
      internalRdd.count(): Unit // eager: materialize before recording layout
    val out = qe.analyzed.output.map(_.withQualifier(Seq.empty))
    val byId = out.map(a => a.exprId -> a).toMap
    def remap[E <: Expression](e: E): E = e.transform {
      case a: AttributeReference => byId.getOrElse(a.exprId, a)
    }.asInstanceOf[E]
    def firstLeaf(p: Partitioning): Partitioning = p match {
      case c: PartitioningCollection => firstLeaf(c.partitionings.head)
      case o => o
    }
    val partitioning = firstLeaf(physical.outputPartitioning) match {
      case e: Expression with Partitioning => remap(e).asInstanceOf[Partitioning]
      case other => other
    }
    val ordering = physical.outputOrdering.map(so => remap(so: SortOrder))
    val stats = qe.optimizedPlan.stats
    org.apache.spark.sql.classic.Dataset.ofRows(session,
      org.apache.spark.sql.execution.LogicalRDD(
        out, internalRdd, partitioning, ordering, isStreaming = false)(
        session,
        Some(org.apache.spark.sql.catalyst.plans.logical.Statistics(
          stats.sizeInBytes, stats.rowCount)),
        None))
  }
}
