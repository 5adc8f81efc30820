package org.apache.spark.sql

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge between graft's custom Catalyst expressions and the public
  * Column API. Spark 4's Column-node refactor removed the
  * `new Column(Expression)` constructor; the supported conversion lives
  * in `org.apache.spark.sql.classic.ExpressionUtils`, which is
  * package-private to org.apache.spark.sql — hence this one-file shim.
  */
object graftsql {
  def columnOf(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expressionOf(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Build a DataFrame from a custom logical plan (Dataset.ofRows is
    * package-private) — the construction half of the custom-operator
    * tier: logical node → strategy → physical exec.
    */
  def ofRows(spark: SparkSession,
             plan: catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** `template`, a plan as the planner built it (`sparkPlan`, before
    * any preparation rule), with its one existing-RDD scan reading
    * `rows` instead, prepared for execution by the non-adaptive rule set
    * (`QueryExecution.prepareExecutedPlan`): the plan runs as planned,
    * with no AQE stage split. Each call copies every node above the
    * scan, so each prepared plan owns fresh shuffles.
    */
  def prepareOver(spark: SparkSession, template: execution.SparkPlan,
                  rows: RDD[InternalRow]): execution.SparkPlan =
    execution.QueryExecution.prepareExecutedPlan(spark.asInstanceOf[classic.SparkSession],
      template.transform { case s: execution.RDDScanExec => s.copy(rdd = rows) })

  /** A DataFrame over `rows`, each of `schema`. Given `stats`, (row
    * count, size in bytes), its `LogicalRDD` leaf reports them as its
    * statistics, so the planner sizes joins over it by them (a leaf
    * without statistics plans as `spark.sql.defaultSizeInBytes`, never
    * as small).
    */
  def ofInternalRows(spark: SparkSession, schema: types.StructType, rows: RDD[InternalRow],
                     stats: Option[(Long, Long)] = None): DataFrame =
    ofRows(spark, execution.LogicalRDD(catalyst.types.DataTypeUtils.toAttributes(schema), rows)(
      spark.asInstanceOf[classic.SparkSession],
      stats.map { case (n, bytes) => catalyst.plans.logical.Statistics(bytes, Some(n)) }))

  /** Drops `rdd`'s cached blocks, as `RDD.unpersist(blocking = false)`
    * does but without its warning for a locally checkpointed RDD (whose
    * blocks are its only copy): for a caller that frees such an RDD
    * once nothing reads it again.
    */
  def unpersistQuietly(rdd: RDD[_]): Unit = rdd.sparkContext.unpersistRDD(rdd.id, blocking = false)

  /** Decode a `.asc`/`.desc` sort Column into (child column,
    * descending?, nullsLast?); None for a plain non-sort Column. The
    * internal SortOrder ColumnNode is private[sql], hence here.
    */
  def sortSpec(c: Column): Option[(Column, Boolean, Boolean)] = c.node match {
    case so: internal.SortOrder =>
      Some((new Column(so.child),
        so.sortDirection == internal.SortOrder.Descending,
        so.nullOrdering == internal.SortOrder.NullsLast))
    case _ => None
  }

  /** Normalize floating-point bit patterns (-0.0 → 0.0, all NaNs →
    * the canonical NaN, recursively through struct/array/map types) in
    * an expression used as a GROUPING or SHUFFLE key. The optimizer
    * applies this rule to Aggregate/Window/Join keys only — a CUSTOM
    * key-clustered plan bypasses it and must normalize its own keys or
    * -0.0/0.0 and distinct NaN payloads split groups. The rule object's
    * `normalize` is private[sql], hence surfaced here; it is a no-op
    * (returns `e` untouched) for types that need none.
    */
  def normalizeFloats(e: Expression): Expression =
    catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)

  /** Idempotently register a planner strategy on a live session (the
    * runtime-registration equivalent of
    * `SparkSessionExtensions.injectPlannerStrategy`).
    */
  def addStrategy(spark: SparkSession, s: execution.SparkStrategy): Unit = {
    val exp = spark.asInstanceOf[classic.SparkSession].experimental
    // The check-then-append below is a read-modify-write on a plain var;
    // serialize it so concurrent callers can't double-register.
    exp.synchronized {
      if (!exp.extraStrategies.contains(s))
        exp.extraStrategies = exp.extraStrategies :+ s
    }
  }
}
