package org.apache.spark.sql.graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.StructType

/**
 * Column <-> Expression bridge for graft's native Catalyst expressions
 * (`graft/functions/VectorExpressions.scala`).
 *
 * Spark 4 made `classic.ExpressionUtils` `private[sql]`, so a library
 * that ships its own `Expression`s needs one object inside the
 * `org.apache.spark.sql` namespace to lift them into public `Column`s —
 * the standard extension-library technique (Delta, Sedona, etc. each
 * carry the same shim). This is the ONLY file outside the `graft`
 * package, and it contains no logic.
 */
object GraftSqlShim {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Catalyst-plan barrier WITHOUT the external-Row round trip (r6,
   *  guide §1.2 step 2): `spark.createDataFrame(df.rdd, schema)` — the
   *  previous barrier everywhere — deserializes every InternalRow into a
   *  boxed external Row and then re-encodes it through a RowEncoder,
   *  paying two full conversions per barrier per round in the iterative
   *  loops (CC, prefix doubling). This shim re-wraps the query's
   *  InternalRow RDD in a fresh LogicalRDD directly: same lazy data,
   *  same O(1) plan truncation, zero per-row conversion. Lives here
   *  because `internalCreateDataFrame` is `private[sql]` (the same
   *  reason this shim exists at all). */
  def planBarrier(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val cds = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]]
    val spark = cds.sparkSession
    spark.internalCreateDataFrame(cds.queryExecution.toRdd, cds.schema)
  }

  /** A DataFrame over InternalRows already on the driver (a
   *  LocalRelation: no job to build it, nothing cached). Lives here
   *  because `Dataset.ofRows` is `private[sql]`. */
  def localFrame(spark: SparkSession, schema: StructType,
                 rows: Seq[InternalRow]): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession],
      LocalRelation(DataTypeUtils.toAttributes(schema), rows))
}
