package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.graft.GraftSqlShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native kernel for the capped suffix-LCP hot path (q81,
 * `text/SuffixOps.longestRepeats`).
 *
 * The former plan computed the LCP of two capped suffix strings with a
 * higher-order filter —
 * `size(filter(sequence(1, L), i -> substring(a,1,i) = substring(b,1,i)))`
 * — which is O(cap^2): for EVERY i up to the cap it allocates two fresh
 * prefix copies and compares them from scratch, measured at 281 task-CPU
 * seconds for ~1.5M adjacent pairs at sf0.1 (the single most expensive
 * stage of any declared query). This expression computes the same value
 * in one forward pass over the UTF-8 bytes: walk both texts from their
 * suffix offsets, counting matching CODE POINTS (the same "character"
 * unit `substring` uses — `UTF8String.numBytesForFirstByte` per lead
 * byte), and stop at the first mismatching byte, either text's end, or
 * the cap. Zero allocation, zero copies (reads bytes in place via
 * Platform), and it takes (text, char_offset) directly so the 200-char
 * suffix strings never need to be materialized or shuffled at all.
 *
 * Equivalence to the HOF form: UTF8String equality is byte equality and
 * prefix equality is monotone in the length, so the count of
 * prefix-equal lengths IS the length of the common code-point prefix;
 * a byte mismatch inside a multi-byte code point implies the code
 * points differ (UTF-8 lead bytes encode the length), so stopping at
 * the first mismatching byte never over- or under-counts characters.
 * Null if any input is null (the HOF form propagates nulls the same
 * way); offsets past the end of the text yield 0 (empty suffix).
 */
case class SuffixLcp(textA: Expression, offA: Expression,
                     textB: Expression, offB: Expression,
                     cap: Int) extends Expression {

  override def children: Seq[Expression] = Seq(textA, offA, textB, offB)

  override def checkInputDataTypes(): TypeCheckResult =
    (textA.dataType, offA.dataType, textB.dataType, offB.dataType) match {
      case (StringType, LongType, StringType, LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case bad => TypeCheckResult.TypeCheckFailure(
        s"suffix_lcp requires (STRING, BIGINT, STRING, BIGINT), got $bad")
    }
  override def dataType: DataType = IntegerType
  override def nullable: Boolean = children.exists(_.nullable)

  override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any = {
    val a = textA.eval(input)
    val oa = offA.eval(input)
    val b = textB.eval(input)
    val ob = offB.eval(input)
    if (a == null || oa == null || b == null || ob == null) null
    else LcpKernel.lcpAt(a.asInstanceOf[UTF8String], oa.asInstanceOf[Long],
      b.asInstanceOf[UTF8String], ob.asInstanceOf[Long], cap)
  }

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val aCode = textA.genCode(ctx)
    val oaCode = offA.genCode(ctx)
    val bCode = textB.genCode(ctx)
    val obCode = offB.genCode(ctx)
    ev.copy(code = code"""
      |${aCode.code}
      |${oaCode.code}
      |${bCode.code}
      |${obCode.code}
      |boolean ${ev.isNull} = ${aCode.isNull} || ${oaCode.isNull} ||
      |  ${bCode.isNull} || ${obCode.isNull};
      |int ${ev.value} = 0;
      |if (!${ev.isNull}) {
      |  ${ev.value} = graft.functions.LcpKernel.lcpAt(
      |    ${aCode.value}, ${oaCode.value}, ${bCode.value}, ${obCode.value},
      |    $cap);
      |}
    """.stripMargin)
  }

  override def prettyName: String = "suffix_lcp"
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): SuffixLcp =
    copy(textA = newChildren(0), offA = newChildren(1),
      textB = newChildren(2), offB = newChildren(3))
}

/** Shared eval/codegen kernel (static mirror the generated Java calls). */
object LcpKernel {
  import org.apache.spark.unsafe.Platform

  /** Byte index of code-point index `chars` within `s` (clamped to end). */
  private def byteOffsetOf(base: Object, off: Long, nBytes: Int,
                           chars: Long): Int = {
    var i = 0
    var c = 0L
    while (c < chars && i < nBytes) {
      i += UTF8String.numBytesForFirstByte(Platform.getByte(base, off + i))
      c += 1
    }
    i
  }

  /** LCP in code points of a[oa:] vs b[ob:], capped at `cap`. */
  def lcpAt(a: UTF8String, oa: Long, b: UTF8String, ob: Long, cap: Int): Int =
    lcpAtBytes(a, byteOffsetOf(a.getBaseObject, a.getBaseOffset, a.numBytes(), oa),
      b, byteOffsetOf(b.getBaseObject, b.getBaseOffset, b.numBytes(), ob), cap)

  /** [[lcpAt]] from BYTE offsets of the two suffixes, for a caller that
   *  already knows them (the driver-side suffix array). */
  def lcpAtBytes(a: UTF8String, byteA: Int, b: UTF8String, byteB: Int,
                 cap: Int): Int = {
    val abase = a.getBaseObject; val aoff = a.getBaseOffset; val an = a.numBytes()
    val bbase = b.getBaseObject; val boff = b.getBaseOffset; val bn = b.numBytes()
    var ia = byteA
    var ib = byteB
    var n = 0
    while (n < cap && ia < an && ib < bn) {
      val la = UTF8String.numBytesForFirstByte(Platform.getByte(abase, aoff + ia))
      if (ib + la > bn) return n
      var j = 0
      while (j < la) {
        if (Platform.getByte(abase, aoff + ia + j) !=
            Platform.getByte(bbase, boff + ib + j)) return n
        j += 1
      }
      ia += la
      ib += la
      n += 1
    }
    n
  }
}

/** Scala-side Column helper (the [[vec]]/[[text]] pattern). */
object lcp {
  def suffixLcp(textA: Column, offA: Column, textB: Column, offB: Column,
                cap: Int): Column =
    GraftSqlShim.column(SuffixLcp(
      GraftSqlShim.expression(textA), GraftSqlShim.expression(offA),
      GraftSqlShim.expression(textB), GraftSqlShim.expression(offB), cap))
}
