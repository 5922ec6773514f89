package org.apache.spark.sql.graft

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.nio.ByteBuffer
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Column, DataFrame, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.physical.UnknownPartitioning
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.Platform

/**
 * Column <-> Expression bridge for graft's native Catalyst expressions
 * (`graft/functions/VectorExpressions.scala`).
 *
 * Spark 4 made `classic.ExpressionUtils` `private[sql]`, so a library
 * that ships its own `Expression`s needs one object inside the
 * `org.apache.spark.sql` namespace to lift them into public `Column`s —
 * the standard extension-library technique (Delta, Sedona, etc. each
 * carry the same shim). This is the ONLY file outside the `graft`
 * package, and it holds only what needs that `private[sql]` API: plan
 * wrappers, no graft algorithm.
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

  /** Bytes of UnsafeRows per partition of a [[driverFrame]]. */
  private val ChunkBytes = 2 << 20

  /** A DataFrame over rows built on the driver, planned as an RDD scan
   *  (`LogicalRDD`) whose statistics carry the row count and byte size.
   *  Not a LocalRelation: the planner copies and re-plans all of a local
   *  relation's rows in every query over it (~5.5 s per query at 1M
   *  rows). Here the rows are written once as UnsafeRow bytes in ~2 MB
   *  chunks, one broadcast holds the chunks, and each partition decodes
   *  one of them in place; the statistics still let a small frame be
   *  broadcast into a join. Nothing is cached: `unpersist()` is a no-op,
   *  and the broadcast goes when the frame is garbage. Lives here because
   *  `Dataset.ofRows` and the LogicalRDD constructor are `private[sql]`. */
  def driverFrame(spark: SparkSession, schema: StructType,
                  rows: Iterator[InternalRow]): DataFrame = {
    val session = spark.asInstanceOf[classic.SparkSession]
    val proj = UnsafeProjection.create(schema)
    val chunks = ArrayBuffer.empty[Array[Byte]]
    val buf = new ByteArrayOutputStream()
    val out = new DataOutputStream(buf)
    val scratch = new Array[Byte](1 << 12)
    var (nRows, nBytes) = (0L, 0L)
    rows.foreach { row =>
      val u = proj(row)
      out.writeInt(u.getSizeInBytes)
      u.writeToStream(out, scratch)
      nRows += 1; nBytes += u.getSizeInBytes
      if (buf.size >= ChunkBytes) { chunks += buf.toByteArray; buf.reset() }
    }
    if (buf.size > 0) chunks += buf.toByteArray
    val bc = session.sparkContext.broadcast(chunks.toArray)
    val nFields = schema.length
    val rdd = session.sparkContext
      .parallelize(chunks.indices, math.max(1, chunks.length))
      .mapPartitions(_.flatMap { c =>
        val bytes = bc.value(c)
        val in = ByteBuffer.wrap(bytes)
        new Iterator[InternalRow] {
          def hasNext: Boolean = in.hasRemaining
          def next(): InternalRow = {
            val size = in.getInt()
            val r = new UnsafeRow(nFields)
            r.pointTo(bytes, Platform.BYTE_ARRAY_OFFSET + in.position(), size)
            in.position(in.position() + size)
            r
          }
        }
      })
    val stats = Statistics(sizeInBytes = BigInt(math.max(1L, nBytes)),
      rowCount = Some(BigInt(nRows)))
    classic.Dataset.ofRows(session, LogicalRDD(DataTypeUtils.toAttributes(schema),
      rdd, UnknownPartitioning(0), Nil, isStreaming = false)(session, Some(stats)))
  }

  /** Row count of `df` read off its table cache's own batches, filling
   *  the cache, when `df` is persisted; None when it is not. Counting
   *  through the Dataset plans the cache as an adaptive query stage of
   *  its own: one more one-task job per count. */
  def cachedCount(df: DataFrame): Option[Long] = {
    val cds = df.asInstanceOf[classic.Dataset[_]]
    cds.sparkSession.sharedState.cacheManager.lookupCachedData(cds).map { c =>
      c.cachedRepresentation.cacheBuilder.cachedColumnBuffers
        .map(_.numRows.toLong).fold(0L)(_ + _)
    }
  }
}
