package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge between Catalyst `Expression`s and the public `Column` API.
  * Spark 4 moved Column construction behind `private[sql]`
  * (`classic.ExpressionUtils`); extension libraries conventionally
  * bridge from inside the package — this object is the only file that
  * lives outside the `graft` namespace.
  */
object GraftShims {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Wrap a custom logical plan as a DataFrame (Dataset.ofRows is
    * private[sql]). */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)

  /** The analyzed logical plan of a DataFrame. */
  def logicalPlan(df: Dataset[_]): org.apache.spark.sql.catalyst.plans.logical.LogicalPlan =
    df.asInstanceOf[classic.Dataset[_]].logicalPlan

  /** `types.AbstractDataType` is `private[sql]` in Spark 4; expression
    * classes outside the package need the alias to override
    * `ExpectsInputTypes.inputTypes`. */
  type AbstractType = org.apache.spark.sql.types.AbstractDataType

  private def conf(spark: SparkSession) =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf

  /** Fold file schemas as `mergeSchema` inference does
    * (`SchemaMergeUtils`): `StructType.merge` (private[sql]) in order,
    * under the session's case sensitivity, a conflict raised as Spark's
    * own merge error. */
  def mergeSchemas(spark: SparkSession,
      schemas: Seq[types.StructType]): types.StructType = {
    val caseSensitive = conf(spark).caseSensitiveAnalysis
    schemas.reduce { (merged, next) =>
      try merged.merge(next, caseSensitive)
      catch { case e: org.apache.spark.SparkException =>
        throw errors.QueryExecutionErrors
          .failedMergingSchemaError(merged, next, e)
      }
    }
  }

  /** `spark.sql.adaptive.advisoryPartitionSizeInBytes` as the session
    * resolves it (the key falls back to another one when unset, so its
    * string form is not a number). */
  def advisoryPartitionBytes(spark: SparkSession): Long =
    conf(spark).getConf(internal.SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
}
