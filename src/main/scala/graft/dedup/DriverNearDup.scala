package graft.dedup

import scala.collection.mutable
import org.apache.commons.codec.digest.DigestUtils
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, TypeUtils}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.{MinhashKernel, ShingleKernel}
import graft.link.GraphOps

/** MinHash-LSH near-duplicate clustering of documents held on the driver:
 *  NearDup's Spark plans restated over in-memory rows, by the code those
 *  plans call. Words are `UTF8String.split(" ", -1)` (Spark's `split`),
 *  n-grams come from [[ShingleKernel]] (`NearDup.shingleCol`), signature
 *  halves from [[MinhashKernel]] and a band value is the hex md5 of its
 *  four halves, as Spark's `md5` returns it. Per (band, value) the
 *  smallest doc_id is the representative and every other member gives
 *  one star edge; [[GraphOps.unionFindMin]] closes them. Doc ids compare
 *  under Spark's ordering of their type; a null doc_id joins nothing and,
 *  as in the Spark plan, gets no verdict. doc_id is a key. */
private[dedup] final class DriverNearDup(rows: Array[InternalRow], idType: DataType) {
  private val ord = TypeUtils.getInterpretedOrdering(idType)
  private val ids = rows.map(r => if (r.isNullAt(0)) null else r.get(0, idType))
  private val texts = rows.map(r => if (r.isNullAt(1)) null else r.getUTF8String(1))

  private def words(t: UTF8String): ArrayData = new GenericArrayData(
    t.split(DriverNearDup.Space, -1).asInstanceOf[Array[Any]])

  /** Distinct (rep, member) star edges of the band buckets, rep < member. */
  private def starEdges(shingle: Int): Seq[(Any, Any)] = {
    val banded = ids.indices.flatMap { d =>
      val t = texts(d)
      val halves =
        if (ids(d) == null || t == null) null
        else if (shingle <= 1) MinhashKernel.halves(words(t))
        else MinhashKernel.halves(ShingleKernel.shingles(words(t), shingle))
      if (halves == null) Nil
      else Seq(0, 4).map { b =>
        val band = UTF8String.concat((b until b + 4).map(halves.getUTF8String): _*)
        ((b, DigestUtils.md5Hex(band.getBytes)), ids(d))
      }
    }
    val reps = mutable.HashMap.empty[(Int, String), Any]
    banded.foreach { case (k, id) =>
      reps.get(k) match {
        case Some(r) if !ord.lt(id, r) =>
        case _ => reps(k) = id
      }
    }
    banded.iterator.collect { case (k, id) if ord.gt(id, reps(k)) => (reps(k), id) }
      .distinct.toSeq
  }

  /** (doc_id, cluster, n_tokens, keep) per document with a doc_id: the
   *  component's smallest doc_id, the `\S+` count (null for null text),
   *  and whether the document wins its component's election — most
   *  tokens (null lowest), then the smallest doc_id. */
  def verdicts(shingle: Int): Iterator[InternalRow] = {
    val labels = GraphOps.unionFindMin(starEdges(shingle).iterator, ord)
    val perDoc = ids.indices.filter(ids(_) != null).map { d =>
      val t = texts(d)
      val n: Integer = if (t == null) null else {
        val m = DriverNearDup.Token.matcher(t.toString)
        var c = 0
        while (m.find()) c += 1
        c
      }
      (ids(d), labels.getOrElse(ids(d), ids(d)), n)
    }
    def beats(a: (Any, Integer), b: (Any, Integer)): Boolean =
      if (a._2 != b._2) b._2 == null || a._2 != null && a._2 > b._2
      else ord.lt(a._1, b._1)
    val canon = mutable.HashMap.empty[Any, (Any, Integer)]
    perDoc.foreach { case (id, c, n) =>
      if (canon.get(c).forall(w => beats((id, n), w))) canon(c) = (id, n)
    }
    perDoc.iterator.map { case (id, c, n) =>
      InternalRow(id, c, n, id == canon(c)._1)
    }
  }

  /** (d1, d2, jaccard) per star edge of the word bands whose distinct
   *  n-gram sets have a Jaccard of at least `threshold`. */
  def jaccard(n: Int, threshold: Double): Iterator[InternalRow] = {
    val byId = ids.indices.iterator.filter(d => ids(d) != null && texts(d) != null)
      .map(d => ids(d) -> texts(d)).toMap
    val sets = mutable.HashMap.empty[Any, Set[UTF8String]]
    def grams(id: Any) = sets.getOrElseUpdate(id, {
      val g = ShingleKernel.shingles(words(byId(id)), n)
      (0 until g.numElements()).map(g.getUTF8String).toSet
    })
    starEdges(1).iterator.flatMap { case (d1, d2) =>
      val (a, b) = (grams(d1), grams(d2))
      val i = a.count(b).toLong
      val j = i.toDouble / (a.size + b.size - i)
      if (j >= threshold) Some(InternalRow(d1, d2, j)) else None
    }
  }
}

private[dedup] object DriverNearDup {
  private val Token = java.util.regex.Pattern.compile("\\S+")
  private val Space = UTF8String.fromString(" ")

  /** The rows the driver path collects: (doc_id, text). */
  def input(docs: DataFrame): DataFrame = docs.select(col("doc_id"), col("text"))

  def idType(docs: DataFrame): DataType = docs.schema("doc_id").dataType

  /** dedupVerdicts' schema on both paths. */
  def verdictSchema(docs: DataFrame): StructType = {
    val id = docs.schema("doc_id")
    StructType(Seq(StructField("doc_id", id.dataType, id.nullable),
      StructField("cluster", id.dataType, id.nullable),
      StructField("n_tokens", IntegerType), StructField("keep", BooleanType)))
  }

  /** ngramJaccardStar's schema on both paths. */
  def jaccardSchema(docs: DataFrame): StructType = {
    val id = docs.schema("doc_id")
    StructType(Seq(StructField("d1", id.dataType), StructField("d2", id.dataType, id.nullable),
      StructField("jaccard", DoubleType)))
  }
}
