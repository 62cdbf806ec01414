package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** Bridge into `private[sql]` surfaces that custom whole-operator
  * extensions need (Spark 4 hides `Column → Expression` and
  * `Dataset.ofRows` from user packages; a `LogicalPlan`-level operator
  * cannot be built without both). Standard extension-library pattern:
  * the object lives in the `org.apache.spark.sql` package solely to
  * satisfy the access qualifier — it adds no behavior.
  */
object GraftSqlBridge {

  def ofRows(spark: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Fully-converted Catalyst expression (ColumnNode → Expression via the
    * session converter — `ExpressionUtils.expression` would only wrap the
    * node lazily, which never resolves inside a custom plan node).
    */
  def expression(spark: SparkSession, c: Column): Expression =
    spark.asInstanceOf[classic.SparkSession].expression(c)

  /** A full state clone of the session (conf, temp views, listeners —
    * `SparkSession.cloneSession` is `private[sql]`): lets a reader
    * build set session-conf keys on a THROWAWAY copy instead of
    * mutating shared session state under concurrent planners (the
    * set/build/restore race ADVICE r14 flagged in the feed source).
    */
  def cloneSession(spark: SparkSession): SparkSession =
    spark.asInstanceOf[classic.SparkSession].cloneSession()

  /** Re-root a DataFrame's executed InternalRow RDD as a flat
    * `LogicalRDD` plan — the lineage cut behind
    * `graft.operators.Checkpoints.pin` and the streaming sink's
    * micro-batch re-root.
    */
  def fromInternalRdd(spark: SparkSession,
                      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
                      schema: org.apache.spark.sql.types.StructType): DataFrame =
    spark.asInstanceOf[classic.SparkSession].internalCreateDataFrame(rdd, schema)
}
