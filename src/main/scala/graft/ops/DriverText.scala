package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.functions._
import graft.link.Linker

/**
 * The driver gate of the size-adaptive text operators (SuffixOps'
 * suffix array, NearDup's near-duplicate clustering). One aggregate,
 * labeled `name: setup`, counts the code points of the text column; at
 * most [[Linker.MaxDriverAliasPairs]] of them (specs set it to 0 to force
 * the distributed plans) are collected by one job, labeled `name:
 * result`, and handed to the operator's in-memory form. Above the gate
 * the operator's Spark plan runs, given the longest text and the total.
 */
object DriverText {

  /** `small` over the collected `rows` below the gate, else `large` over
   *  (longest text, total) in code points; `rows` is planned only below
   *  the gate. */
  def gated[T](spark: SparkSession, docs: DataFrame, textCol: String,
               name: String, rows: => DataFrame)
              (small: Array[InternalRow] => T)
              (large: (Int, Long) => T): T = {
    val text = col(textCol)
    val lens = Fixpoint.labeled(spark.sparkContext, s"$name: setup")(
      docs.agg(max(length(text)), sum(length(text))).head())
    // empty or all-null-text input aggregates to NULLs, read as 0
    val maxLen = if (lens.isNullAt(0)) 0 else lens.getInt(0)
    val n = if (lens.isNullAt(1)) 0L else lens.getLong(1)
    if (n <= Linker.MaxDriverAliasPairs)
      Fixpoint.labeled(spark.sparkContext, s"$name: result")(small(
        rows.asInstanceOf[classic.Dataset[_]].queryExecution.executedPlan
          .executeCollect()))
    else large(maxLen, n)
  }
}
