package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graft.GraftSqlShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/**
 * Native kernel for the MinHash signature hot path (q19/q38/q56/q59/q78,
 * `dedup/NearDup.minhashStarEdges`).
 *
 * The former plan computed the 8 per-document minhash halves by exploding
 * the in-row distinct word array, projecting 4 md5 hex strings + 8
 * 16-char substrings PER WORD, and hash-aggregating 8 `min()`s back to
 * one row per document — materializing a (words × 8 × 16-char) stream
 * whose only purpose was to be folded straight back down (guide §2.3:
 * don't ship what you immediately collapse). This expression computes
 * the same 8 minima in ONE pass over the word array inside the scan
 * projection: per distinct word it runs the same 4 MD5 digests
 * (prefixes "0".."3" — the md5 family is pinned by the DuckDB oracle)
 * and tracks the minima of the hex halves as unsigned 64-bit integers;
 * fixed-width lowercase hex compares lexicographically exactly as the
 * unsigned value, so the minima equal the SQL `min(substring(md5(...)))`
 * bit-for-bit, and only the final 8×16 hex chars are ever materialized.
 *
 * Null semantics mirror the explode/groupBy form: a null word
 * contributes nothing (md5(concat(k, null)) is null and min() skips
 * nulls); a null, empty, or all-null array yields NULL (the explode
 * emitted no rows, so the document had no signature row).
 */
case class MinhashHalves(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case bad => TypeCheckResult.TypeCheckFailure(
      s"minhash_halves requires ARRAY<STRING>, got ${bad.sql}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def nullable: Boolean = true // empty/all-null arrays yield null

  override def nullSafeEval(v: Any): Any =
    MinhashKernel.halves(v.asInstanceOf[ArrayData])

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a => {
      s"""
         |${ev.value} = graft.functions.MinhashKernel.halves($a);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })

  override def prettyName: String = "minhash_halves"
  override protected def withNewChildInternal(newChild: Expression): MinhashHalves =
    copy(child = newChild)
}

/** Shared eval/codegen kernel (static mirror methods are what the
 *  generated Java calls). */
object MinhashKernel {

  private val md5TL = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }
  private val hexByte = "0123456789abcdef".getBytes("US-ASCII")

  private def beLong(d: Array[Byte], off: Int): Long = {
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(off + i) & 0xFFL); i += 1 }
    v
  }

  private def hexUtf8(v: Long): UTF8String = {
    val out = new Array[Byte](16)
    var i = 0
    while (i < 16) {
      out(i) = hexByte(((v >>> ((15 - i) * 4)) & 0xF).toInt)
      i += 1
    }
    UTF8String.fromBytes(out)
  }

  /** 8 minhash halves (hex) of a word array; null if no non-null words. */
  def halves(arr: ArrayData): ArrayData = {
    val n = arr.numElements()
    val mins = new Array[Long](8)
    var found = false
    val md = md5TL.get()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val wb = arr.getUTF8String(i).getBytes
        var k = 0
        while (k < 4) {
          md.reset()
          md.update(('0' + k).toByte)
          md.update(wb)
          val d = md.digest()
          val hi = beLong(d, 0)
          val lo = beLong(d, 8)
          if (!found) {
            mins(2 * k) = hi
            mins(2 * k + 1) = lo
          } else {
            if (java.lang.Long.compareUnsigned(hi, mins(2 * k)) < 0)
              mins(2 * k) = hi
            if (java.lang.Long.compareUnsigned(lo, mins(2 * k + 1)) < 0)
              mins(2 * k + 1) = lo
          }
          k += 1
        }
        found = true
      }
      i += 1
    }
    if (!found) null
    else {
      val out = new Array[Any](8)
      var j = 0
      while (j < 8) { out(j) = hexUtf8(mins(j)); j += 1 }
      new GenericArrayData(out)
    }
  }
}

/**
 * Word n-grams of a word array: for i in 0 .. max(size - n, 0), the words
 * i+1 .. i+n joined by ' ' — the `transform(sequence(...), i ->
 * array_join(slice(words, i + 1, n), ' '))` form, element for element,
 * so an array shorter than n words is one shingle. Evaluated over the
 * child once per row: the HOF form re-evaluated `split(text, ' ')` inside
 * its lambda, once per shingle, which made a document quadratic in its
 * word count. A NULL array gives [NULL], as `array_join(slice(NULL, ..))`
 * did.
 */
case class Shingles(child: Expression, n: Int) extends UnaryExpression {
  require(n >= 1, s"shingle length must be at least 1, got $n")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case bad => TypeCheckResult.TypeCheckFailure(
      s"shingles requires ARRAY<STRING>, got ${bad.sql}")
  }
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    ShingleKernel.shingles(child.eval(input).asInstanceOf[ArrayData], n)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |ArrayData ${ev.value} = graft.functions.ShingleKernel.shingles(
      |  ${c.isNull} ? null : ${c.value}, $n);""".stripMargin, isNull = FalseLiteral)
  }

  override def prettyName: String = "shingles"
  override protected def withNewChildInternal(newChild: Expression): Shingles =
    copy(child = newChild)
}

object ShingleKernel {
  private val Space = UTF8String.fromString(" ")

  /** The n-grams of `words` (see [[Shingles]]); null elements are
   *  skipped when joining, as `array_join` skips them. */
  def shingles(words: ArrayData, n: Int): ArrayData =
    if (words == null) new GenericArrayData(Array[Any](null))
    else {
      val len = words.numElements()
      val out = new Array[Any](math.max(len - n, 0) + 1)
      val gram = new java.util.ArrayList[UTF8String](n)
      var i = 0
      while (i < out.length) {
        gram.clear()
        var j = i
        while (j < math.min(i + n, len)) {
          if (!words.isNullAt(j)) gram.add(words.getUTF8String(j))
          j += 1
        }
        out(i) = UTF8String.concatWs(Space, gram.toArray(new Array[UTF8String](0)): _*)
        i += 1
      }
      new GenericArrayData(out)
    }
}

/**
 * Rabin-Karp minimum over the sliding k-character windows of a text:
 * per window, the sum of each character's code point times 31^(k-1-i),
 * as BIGINT; NULL when the text is NULL or shorter than k characters.
 * `TextStats.rollingMin` passes the normalized text, computed once per
 * row: the column form took a `substr` of the normalizing expression per
 * character of every window, re-running the regex each time.
 */
case class RollingMinHash(child: Expression, k: Int) extends UnaryExpression {
  require(k >= 1, s"window length must be at least 1, got $k")

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case bad => TypeCheckResult.TypeCheckFailure(
      s"rolling_min_hash requires STRING, got ${bad.sql}")
  }
  override def dataType: DataType = LongType
  override def nullable: Boolean = true // NULL text or fewer than k characters

  override def nullSafeEval(v: Any): Any =
    RollingMinKernel.rollingMin(v.asInstanceOf[UTF8String], k)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, t => {
      s"""
         |Long ${ev.value}Boxed = graft.functions.RollingMinKernel.rollingMin($t, $k);
         |${ev.isNull} = (${ev.value}Boxed == null);
         |if (!${ev.isNull}) ${ev.value} = ${ev.value}Boxed;
       """.stripMargin
    })

  override def prettyName: String = "rolling_min_hash"
  override protected def withNewChildInternal(newChild: Expression): RollingMinHash =
    copy(child = newChild)
}

object RollingMinKernel {
  /** The window minimum (see [[RollingMinHash]]), or null. */
  def rollingMin(t: UTF8String, k: Int): java.lang.Long = {
    val cps = t.toString.codePoints().toArray
    if (cps.length < k) null
    else {
      val pow = Array.tabulate(k)(i => BigInt(31).pow(k - 1 - i).toLong)
      var best = Long.MaxValue
      var j = 0
      while (j + k <= cps.length) {
        var h = 0L
        var i = 0
        while (i < k) { h += cps(j + i) * pow(i); i += 1 }
        if (h < best) best = h
        j += 1
      }
      best
    }
  }
}

/** Scala-side Column helper (the [[vec]] pattern). */
object text {
  def minhashHalves(a: Column): Column =
    GraftSqlShim.column(MinhashHalves(GraftSqlShim.expression(a)))
  def shingles(words: Column, n: Int): Column =
    GraftSqlShim.column(Shingles(GraftSqlShim.expression(words), n))
  def rollingMinHash(text: Column, k: Int): Column =
    GraftSqlShim.column(RollingMinHash(GraftSqlShim.expression(text), k))
}
