package graft.text

import org.apache.spark.TaskContext
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSqlShim
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.LcpKernel
import graft.link.Linker
import graft.ops.{DriverText, Fixpoint, Par}

/**
 * Distributed suffix-array construction by PREFIX DOUBLING (Manber &
 * Myers 1990's rank-doubling, realized as O(log maxDocLen) keyed Spark
 * shuffles), and the exact duplicated-span mining it powers.
 *
 * This is the EXACT-substring complement to `NearDup.dupSpans` (which
 * approximates Lee et al. 2021's suffix-array dedup at one fixed span
 * length): the suffix array surfaces duplicated spans of ANY length —
 * suffixes adjacent in rank order with a long common prefix ARE the
 * duplicated spans, and every repeat of a span is a contiguous rank
 * interval.
 *
 * Suffix universe: every (doc_id, off), the suffix being text[off:] of
 * ITS OWN document — no corpus concatenation and no cross-document
 * sentinel artifacts (a suffix never "continues" into another doc,
 * which is the semantics substring dedup wants). Equal suffix strings
 * share a rank; a proper prefix sorts before its extensions (the
 * missing-half rank −1 rule). Both properties make the final ranks
 * EXACTLY `dense_rank() OVER (ORDER BY suffix-string)` — which is how
 * the DuckDB oracle restates them independently.
 *
 * Scale shape: the seed ranks every position by its first 16 code
 * points (one range sort under Spark's UTF-8 byte order), so doubling
 * starts at prefix length 16. A round is TWO shuffles: `lead(rank, k)`
 * over each document's positions (hash on doc_id) fetches the partner
 * rank, and one range shuffle on (r1, r2), sorted within partitions,
 * hands out the new ranks. Between rounds the ranks are PACKED:
 * (range partition << 40) | in-partition dense index, computed by the
 * task that sorted the rows. Partitions ascend with the key ranges and
 * a key never straddles two, so packed ranks keep the order with no
 * offsets passed between rounds, and they are a function of the key,
 * not of where a recomputed row lands. The round's one action scans
 * the cached ranks for the distinct count per partition; the result
 * densifies once, from the last round's counts. No global
 * single-partition window anywhere. Rounds = ceil(log2(maxDocLen / 16))
 * — a function of DOCUMENT length, not corpus size — or fewer: the loop
 * stops once every suffix has its own rank. The position table is one
 * row per character: a global suffix array over 100 TB of text is
 * 10^14 rows, so at that scale this runs per curation shard (same code
 * over a keyed subset — how suffix-array dedup is deployed in
 * practice); the per-round plan is shard-size-independent.
 *
 * SIZE-ADAPTIVE, like connectedComponentsStar: one aggregate counts the
 * code-point positions, and at most [[Linker.MaxDriverAliasPairs]] of
 * them (specs set it to 0 to force the rounds) are ranked on the driver
 * (the gate NearDup's clustering shares, `graft.ops.DriverText`).
 * One job collects the (doc_id, text) rows and [[DriverSuffixes]] runs
 * the same prefix doubling in memory, each round two counting sorts, in
 * milliseconds where the rounds spend a few Spark jobs each; the result
 * comes back through `GraftSqlShim.driverFrame`, an RDD scan that is not
 * cached (a caller's `unpersist()` is a no-op). Both paths return the
 * same rows under the same schema, and the driver path runs no round.
 */
object SuffixOps {

  /** Code points in the seed prefix; the rounds start at this length. */
  private val SeedLen = 16
  /** Packed rank = (range partition << Shift) | in-partition index. */
  private val Shift = 40
  private val Mask = (1L << Shift) - 1

  /** (doc_id, off, rank): global suffix ranks, dense 1..m over distinct
   *  suffix strings, ties shared by equal suffixes. */
  def suffixRanks(spark: SparkSession, docs: DataFrame,
                  textCol: String = "text"): DataFrame = {
    DriverText.gated(spark, docs, textCol, "suffixRanks",
        DriverSuffixes.input(docs, textCol)) { rows =>
      GraftSqlShim.driverFrame(spark, RanksSchema, DriverSuffixes(rows).rankRows)
    } { (maxLen, n) => rankRounds(spark, docs, textCol, maxLen, n) }
  }

  /** suffixRanks' schema on both paths. */
  private val RanksSchema = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("off", LongType, nullable = false),
    StructField("rank", LongType, nullable = false)))

  /** suffixRanks above the gate: the doubling rounds, as Spark jobs, over
   *  `n` positions in documents of at most `maxLen` code points. */
  private def rankRounds(spark: SparkSession, docs: DataFrame, textCol: String,
                         maxLen: Int, n: Long): DataFrame = {
    import spark.implicits._
    val text = col(textCol)
    // scale-adaptive round parallelism (r6, guide §2.2): target ~128k
    // position rows (~4 MB) per sort task, capped by the cluster's
    // shuffle-partition knob — a tiny corpus does not pay 32-task rounds
    // and a large one is not AQE-coalesced onto one sorting task (an
    // explicit range partition count is never coalesced)
    val nPart = math.min(
      math.max(1, spark.conf.get("spark.sql.shuffle.partitions", "32").toInt),
      math.max(1, (n / 131072L).toInt + 1))
    // one row per position with its 16-code-point prefix; the prefixes
    // are built inside the generator, so no row carries the doc text.
    // r6 (guide §2.5): the explode multiplies the input ~550x and a
    // one-row-group table would run it on one task
    val seed = Par.spread(docs, "doc_id").filter(length(text) > 0)
      .select(col("doc_id").cast("long").as("doc_id"), posexplode(expr(
        s"""transform(sequence(0, length($textCol) - 1),
            i -> substring($textCol, i + 1, $SeedLen))""")))
      .select($"doc_id", $"pos".cast("long").as("off"), $"col".as("p"))
    // partner rank at off+k; a suffix shorter than 2k has none → −1,
    // below every real rank, so a proper prefix stays strictly before
    // its extensions — exactly string order. A document's positions are
    // contiguous, so the partner is k rows on in the doc's window.
    val byDoc = Window.partitionBy($"doc_id").orderBy($"off")
    // state: (packed ranks of the first k code points, k, distinct ranks
    // per range partition)
    Fixpoint.run(spark, "suffixRanks", Int.MaxValue) { r =>
      val cur = r.cache(rankBy(seed, nPart, $"p"))
      val counts = partCounts(cur)
      ((cur, SeedLen, counts), counts.values.sum == n || SeedLen >= maxLen)
    } { case ((cur, k, _), r) =>
      val paired = cur.select($"doc_id", $"off", $"rank".as("r1"),
        lead($"rank", k, -1L).over(byDoc).as("r2"))
      val next = r.cache(rankBy(paired, nPart, $"r1", $"r2"))
      val counts = partCounts(next)
      ((next, k * 2, counts), counts.values.sum == n || k * 2 >= maxLen)
    } { case ((cur, _, counts), r) =>
      // dense rank = distinct ranks of the earlier partitions + the
      // in-partition index + 1, read off the packed value alone.
      // Materialized before the cache backing it is released.
      val parts = counts.keys.toSeq.sorted
      val base = new Array[Long](parts.lastOption.fold(0)(_.toInt + 1))
      parts.foldLeft(0L) { (acc, p) => base(p.toInt) = acc; acc + counts(p) }
      val out = r.cache(cur.select($"doc_id", $"off",
        (element_at(typedLit(base), shiftrightunsigned($"rank", Shift)
          .cast("int") + 1) + ($"rank" bitwiseAND Mask) + 1).as("rank")))
      Fixpoint.count(out)
      out
    }
  }

  /** (doc_id, off, rank) with packed ranks over `key`: one range
   *  shuffle, sorted within partitions; each task numbers its distinct
   *  keys in order. Range partitioning puts every key wholly inside one
   *  partition and the partitions ascend with the key, so equal keys get
   *  equal ranks and the packed ranks keep the key order. */
  private def rankBy(rows: DataFrame, nPart: Int, key: Column*): DataFrame = {
    import rows.sparkSession.implicits._
    rows.repartitionByRange(nPart, key: _*).sortWithinPartitions(key: _*)
      .select($"doc_id", $"off", struct(key: _*))
      .mapPartitions { it =>
        val hi = TaskContext.getPartitionId().toLong << Shift
        var idx = -1L
        var prev: Row = null
        it.map { row =>
          val k = row.getStruct(2)
          if (k != prev) { idx += 1; prev = k }
          (row.getLong(0), row.getLong(1), hi | idx)
        }
      }.toDF("doc_id", "off", "rank")
  }

  /** Distinct ranks per range partition, read off the packed ranks by
   *  one scan — the action that fills the cache of `ranks`. */
  private def partCounts(ranks: DataFrame): Map[Long, Long] = {
    import ranks.sparkSession.implicits._
    ranks.select($"rank").as[Long].mapPartitions { it =>
      val top = scala.collection.mutable.LongMap.empty[Long]
      it.foreach { r =>
        val p = r >>> Shift
        top(p) = math.max(top.getOrElse(p, 0L), (r & Mask) + 1)
      }
      top.iterator
    }.collect().groupMapReduce(_._1)(_._2)(math.max)
  }

  /** Exact duplicated spans of length ≥ minLen: group the suffix array
   *  by the first `minLen` characters; every group of size ≥ 2 is a
   *  span occurring `n_occurrences` times anywhere in the corpus
   *  (cross-document or self-repeat). Top-k by (n DESC, span ASC) — a
   *  total order, so the result is deterministic.
   *
   *  Equivalent to walking SA-adjacent pairs with LCP ≥ minLen (all
   *  occurrences of a span form one contiguous rank interval), but
   *  expressed as one hash aggregate on the in-row minLen-prefix — no
   *  LCP pass, no sort, no window; the one subtlety the SA view makes
   *  obvious (a suffix shorter than minLen can never carry a span) is
   *  the length filter. The suffix ARRAY itself is still the primitive
   *  to keep (rank adjacency answers longest-repeat / arbitrary-length
   *  queries; `suffixRanks` is the oracle-pinned part), but span
   *  counting at a KNOWN length needs only the prefix aggregate. */
  def repeatedSpans(spark: SparkSession, docs: DataFrame, minLen: Int,
                    k: Int = 50, textCol: String = "text"): DataFrame = {
    import spark.implicits._
    // r6 (guide §2.3, "shuffle keys and metadata instead of payloads"):
    // the count pass used to shuffle one minLen-char span string PER
    // CHARACTER POSITION of the corpus. Hash-first two-pass instead:
    // (1) count 16-byte unhex(md5(span)) fingerprints — map-side
    // combinable, the exchange carries fixed-width binaries (~minLen/16
    // of the old bytes); (2) re-derive the spans scan-side and keep only
    // those whose fingerprint survived n≥2 (AQE broadcasts the surviving
    // table when it fits; only DUPLICATED span text is ever shuffled, by
    // the deterministic min-per-fingerprint merge). Counts are per md5 —
    // exact up to 128-bit collisions, the same contract the q19 band
    // fingerprints already rely on; the q82 oracle hash-pins equality.
    // r6 (guide §2.5): the span generator multiplies the input ~550x
    // with an md5 per span; spread a degenerate few-split scan first
    // (both passes share the one exchange via ReuseExchange)
    val spreadDocs = Par.spread(docs, "doc_id")
    def spans = spreadDocs
      .select(explode(expr(
        s"""transform(sequence(0, greatest(length($textCol) - $minLen, 0)),
            i -> substring($textCol, i + 1, $minLen))""")).as("span"))
      .filter(length($"span") >= minLen)
    val hot = spans
      .groupBy(unhex(md5($"span")).as("_h"))
      .agg(count(lit(1)).as("n_occurrences"))
      .filter($"n_occurrences" >= 2)
    spans.select($"span", unhex(md5($"span")).as("_h"))
      .join(hot, Seq("_h"))
      .groupBy($"_h", $"n_occurrences").agg(min($"span").as("span"))
      .select($"span", $"n_occurrences")
      .orderBy($"n_occurrences".desc, $"span").limit(k)
  }

  /** The query only the suffix ARRAY answers without fixing a length
   *  up front: the LONGEST duplicated spans. Adjacent suffixes in rank
   *  order are compared (capped prefix compare, ≤ capChars per pair —
   *  Kasai's linear LCP is inherently sequential; the capped compare is
   *  the shuffle-free distributed form, exact up to the cap, which is
   *  also the longest span the report shows); the top-k (lcp DESC,
   *  span ASC) distinct (span, lcp) rows come back with their adjacent-
   *  pair counts. Adjacency is one range-partitioned sort with
   *  in-partition neighbor pairing; the ≤-one-per-partition boundary
   *  pairs come from a lead() over the per-partition extremes — a
   *  single-partition window over a table bounded by the partition
   *  COUNT (cluster configuration, not data size). Below the gate the
   *  pairs come straight from the driver's suffix array, and no frame of
   *  positions is built. */
  def longestRepeats(spark: SparkSession, docs: DataFrame, k: Int = 20,
                     capChars: Int = 200,
                     textCol: String = "text"): DataFrame = {
    DriverText.gated(spark, docs, textCol, "longestRepeats",
        DriverSuffixes.input(docs, textCol)) { rows =>
      GraftSqlShim.driverFrame(spark, RepeatsSchema,
        DriverSuffixes(rows).longestRepeats(k, capChars)
          .iterator.map { case (span, lcp, pairs) => InternalRow(span, lcp, pairs) })
    } { (maxLen, n) =>
      repeatRounds(spark, docs, k, capChars, textCol,
        rankRounds(spark, docs, textCol, maxLen, n))
    }
  }

  /** longestRepeats' schema on both paths (the rounds' boundary pairs
   *  come from a nullable aggregate, so span and lcp are nullable). */
  private val RepeatsSchema = StructType(Seq(StructField("span", StringType),
    StructField("lcp", LongType), StructField("n_pairs", LongType, nullable = false)))

  /** longestRepeats above the gate, over the doubling rounds' ranks. */
  private def repeatRounds(spark: SparkSession, docs: DataFrame, k: Int,
                           capChars: Int, textCol: String,
                           ranks: DataFrame): DataFrame = {
    import spark.implicits._
    // r6 (guide §2.3 "shuffle keys and metadata instead of payloads" /
    // §8): the former plan joined every position to its doc text, built
    // the capped suffix STRING, and range-shuffled those strings (118 MB
    // at sf0.1 vs 36 MB of narrow rows); then an O(cap^2) higher-order
    // LCP burned 281 task-CPU-seconds. Now the range shuffle carries
    // only (rank, doc_id, off); adjacent pairs stay narrow
    // (a_doc, a_off, b_doc, b_off); the doc texts are re-attached AFTER
    // pairing by two equi-joins the planner is free to broadcast (the
    // docs table is tiny next to the position table; at scale AQE
    // degrades them to shuffle joins gracefully); and the LCP is the
    // native one-pass kernel `suffix_lcp` (functions/LcpExpression.scala)
    // computed straight off (text, off) — the capped suffix string is
    // never materialized anywhere.
    val parts = ranks.repartitionByRange($"rank")
      .sortWithinPartitions($"rank")
      .withColumn("_p", spark_partition_id())
    val inPart = parts.select($"rank", $"doc_id", $"off", $"_p")
      .as[(Long, Long, Long, Int)]
      .mapPartitions { it =>
        var pd = 0L
        var po = 0L
        var first = true
        it.map { case (_, d, o, _) =>
          val pair = (pd, po, d, o, first)
          pd = d; po = o; first = false
          pair
        }.filter(!_._5)
      }.map(p => (p._1, p._2, p._3, p._4))
      .toDF("a_doc", "a_off", "b_doc", "b_off")
    // boundary pairs: last suffix of partition p with the first of the
    // NEXT NON-EMPTY partition — lead() over the per-partition extremes
    // (ranks tie only between EQUAL suffix strings, so any occurrence is
    // a valid representative for pairing)
    val extremes = parts.groupBy($"_p").agg(
      min(struct($"rank", $"doc_id", $"off")).as("f"),
      max(struct($"rank", $"doc_id", $"off")).as("l"))
    val w = Window.orderBy($"_p") // bounded: one row per partition
    val bounds = extremes
      .withColumn("_nf", lead($"f", 1).over(w))
      .filter($"_nf".isNotNull)
      .select($"l.doc_id".as("a_doc"), $"l.off".as("a_off"),
        $"_nf.doc_id".as("b_doc"), $"_nf.off".as("b_off"))
    val pairs = inPart.unionByName(bounds)
    val docTexts = docs.select(col("doc_id"), col(textCol).as("_t"))
    val withTexts = pairs
      .join(docTexts.withColumnRenamed("doc_id", "a_doc")
        .withColumnRenamed("_t", "_ta"), Seq("a_doc"))
      .join(docTexts.withColumnRenamed("doc_id", "b_doc")
        .withColumnRenamed("_t", "_tb"), Seq("b_doc"))
    // capped LCP in code points — the native kernel twin of
    // size(filter(sequence(1, L), i -> substring(a,1,i) = substring(b,1,i)))
    // over the capped suffixes (SuffixSpec pins equality on unicode)
    withTexts
      .select($"_ta", $"a_off",
        graft.functions.lcp.suffixLcp($"_ta", $"a_off", $"_tb", $"b_off",
          capChars).as("l"))
      .filter($"l" >= 2)
      .select(expr("substring(_ta, a_off + 1, l)").as("span"),
        $"l".cast("long").as("lcp"))
      .groupBy($"span", $"lcp").agg(count(lit(1)).as("n_pairs"))
      .orderBy($"lcp".desc, $"span").limit(k)
  }
}

/** The suffix array of documents held on the driver: Manber &
 *  Myers' prefix doubling over code points, each round two stable
 *  counting sorts, with rank 0 past a document's end. Equal suffixes
 *  share a rank and a proper prefix sorts before its extensions, so the
 *  ranks are the rounds' dense ranks. The first round's keys are each
 *  code point's UTF-8 bytes, left-aligned: UTF-8 is prefix-free, so they
 *  order code points as Spark's byte order does (not as Java's UTF-16
 *  `compareTo`). LCPs come from [[LcpKernel]], spans from
 *  `UTF8String.substring` and span order from `UTF8String.compareTo`, so
 *  no string semantics are restated here. Positions are the documents'
 *  code points laid end to end in input order. */
private[text] final class DriverSuffixes(ids: Array[Long], texts: Array[UTF8String]) {
  private val n = texts.iterator.map(_.numChars.toLong).sum.toInt
  /** Per position: its document, and its byte offset in that text. */
  private val doc, byteOff = new Array[Int](n)
  /** Per document: its first position; one more entry for the end. */
  private val start = new Array[Int](texts.length + 1)
  /** Per position: dense rank 1..m; positions in rank order. */
  private val rank, sa = new Array[Int](n)

  locally {
    val keys = new Array[Long](n)
    var i = 0
    for (d <- texts.indices) {
      start(d) = i
      val t = texts(d)
      val (base, off, nb) = (t.getBaseObject, t.getBaseOffset, t.numBytes)
      var b = 0
      while (b < nb) {
        val len = UTF8String.numBytesForFirstByte(Platform.getByte(base, off + b))
        var key = 0L // the code point's bytes, left-aligned in 32 bits
        for (j <- 0 until 4) key = key << 8 |
          (if (j < len && b + j < nb) Platform.getByte(base, off + b + j) & 0xff else 0)
        keys(i) = key << 31 | i
        doc(i) = d; byteOff(i) = b
        b += len; i += 1
      }
    }
    start(texts.length) = n
    java.util.Arrays.sort(keys)
    var m = 0
    for (j <- 0 until n) {
      if (j == 0 || keys(j) >>> 31 != keys(j - 1) >>> 31) m += 1
      sa(j) = (keys(j) & Int.MaxValue).toInt
      rank(sa(j)) = m
    }
    val maxLen = texts.indices.map(d => start(d + 1) - start(d)).maxOption.getOrElse(0)
    val byR2, next = new Array[Int](n)
    var k = 1 // ranks order the first k code points
    while (m < n && k < maxLen) {
      def r2(p: Int) = if (p + k < start(doc(p) + 1)) rank(p + k) else 0
      // positions by second key: past-the-end first, then in sa order
      var t = 0
      for (p <- 0 until n) if (r2(p) == 0) { byR2(t) = p; t += 1 }
      for (j <- 0 until n) {
        val p = sa(j) - k
        if (p >= 0 && doc(p) == doc(sa(j))) { byR2(t) = p; t += 1 }
      }
      // stable counting sort by first key
      val slot = new Array[Int](m + 2)
      for (p <- byR2) slot(rank(p) + 1) += 1
      for (r <- 1 to m) slot(r) += slot(r - 1)
      for (p <- byR2) { sa(slot(rank(p))) = p; slot(rank(p)) += 1 }
      var c = 0
      for (j <- 0 until n) {
        val p = sa(j)
        if (j == 0 || rank(p) != rank(sa(j - 1)) || r2(p) != r2(sa(j - 1))) c += 1
        next(p) = c
      }
      System.arraycopy(next, 0, rank, 0, n)
      m = c; k *= 2
    }
  }

  /** InternalRows of (doc_id, off, rank), in position order. */
  def rankRows: Iterator[InternalRow] = (0 until n).iterator.map { p =>
    InternalRow(ids(doc(p)), (p - start(doc(p))).toLong, rank(p).toLong)
  }

  /** The top-k (span, lcp, n_pairs) by (lcp desc, span asc): each
   *  rank-adjacent pair of suffixes with a capped LCP of at least 2
   *  counts once for the LCP's prefix. Spans are cut only for the LCP
   *  values the top k reach. */
  def longestRepeats(k: Int, cap: Int): Seq[(UTF8String, Long, Long)] = {
    // (lcp << 32 | j) of the pair (sa(j - 1), sa(j)), longest first
    val pairs = (1 until n).iterator.flatMap { j =>
      val (a, b) = (sa(j - 1), sa(j))
      val l = LcpKernel.lcpAtBytes(texts(doc(a)), byteOff(a), texts(doc(b)), byteOff(b), cap)
      if (l >= 2) Some(l.toLong << 32 | j) else None
    }.toArray
    java.util.Arrays.sort(pairs)
    val groups = scala.collection.mutable.HashMap.empty[(UTF8String, Long), Long]
    var i = pairs.length - 1
    while (i >= 0 && groups.size < k) {
      val l = pairs(i) >>> 32
      while (i >= 0 && pairs(i) >>> 32 == l) {
        val a = sa((pairs(i) & 0xffffffffL).toInt - 1)
        val off = a - start(doc(a))
        val span = texts(doc(a)).substring(off, off + l.toInt)
        groups((span, l)) = groups.getOrElse((span, l), 0L) + 1
        i -= 1
      }
    }
    groups.toSeq.map { case ((span, l), c) => (span, l, c) }
      .sortWith((x, y) => x._2 > y._2 || x._2 == y._2 && x._1.compareTo(y._1) < 0)
      .take(k)
  }
}

private[text] object DriverSuffixes {
  /** The rows the driver path collects: non-empty (doc_id, text). */
  def input(docs: DataFrame, textCol: String): DataFrame =
    docs.select(col("doc_id").cast("long"), col(textCol))
      .filter(length(col(textCol)) > 0)

  def apply(rows: Array[InternalRow]): DriverSuffixes =
    new DriverSuffixes(rows.map(_.getLong(0)), rows.map(_.getUTF8String(1).clone()))
}
