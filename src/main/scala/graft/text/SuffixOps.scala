package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.Fixpoint

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
 * Scale shape: per doubling round, ONE self-equi-join on
 * (doc_id, off + k) fetches the partner rank, and rank reassignment
 * runs over the DISTINCT (r1, r2) pairs — range-repartitioned, sorted
 * within partitions, order-consistent ids from
 * monotonically_increasing_id (partition ids ascend with the ranges;
 * the distinct collapsed equal pairs first, so equality is preserved).
 * Mid-flight ranks are order-ISOMORPHIC, not dense — density is only
 * restored once at the end (one sorted zipWithIndex, the canonical
 * distributed ranking pattern). No global single-partition window
 * anywhere. Rounds = ceil(log2(max doc length)) — a function of
 * DOCUMENT length, not corpus size. The position table is one row per
 * character: a global suffix array over 100 TB of text is 10^14 rows,
 * so at that scale this runs per curation shard (same code over a
 * keyed subset — how suffix-array dedup is deployed in practice); the
 * per-round plan is shard-size-independent.
 */
object SuffixOps {

  /** (doc_id, off, rank): global suffix ranks, dense 1..m over distinct
   *  suffix strings, ties shared by equal suffixes. */
  def suffixRanks(spark: SparkSession, docs: DataFrame,
                  textCol: String = "text"): DataFrame = {
    import spark.implicits._
    // empty (or all-null-text) input: max() aggregates to NULL — default
    // to 0 so the doubling loop no-ops and the result is simply empty
    // (the old head().getInt(0) NPE'd unboxing the null)
    val maxLenRow = docs.agg(max(length(col(textCol)))).head()
    val maxLen = if (maxLenRow.isNullAt(0)) 0 else maxLenRow.getInt(0)
    // initial rank: dense id of the character under Spark's binary
    // UTF-8 string order (== DuckDB's collation; the alphabet is tiny)
    // r6 (guide §2.5): the per-character explode multiplies the input
    // ~550x and a one-row-group table would run it on one task
    val chars = graft.ops.Par.spread(docs, "doc_id")
      .select(col("doc_id"), posexplode(split(col(textCol), "")))
      .filter($"col" =!= "") // split-by-empty-regex emits a trailing ""
      .select($"doc_id", $"pos".cast("long").as("off"), $"col".as("c"))
    val charRanks = denseIds(chars.select($"c").distinct(), Seq("c"))
      .withColumnRenamed("_id", "rank")
    // r6 round rewrite (guide §1.2 step 1 / §2.4; stage probe: each round
    // recomputed the partner join ~4x, 33.8 s for q81). A round is ONE
    // partner equi-join (shuffled-hash: both sides are the same cached
    // table), ONE range shuffle sorted in-partition, and the new DENSE
    // rank read off it by a per-partition scan with broadcast offsets;
    // pass 1 of that scan is the round's one action. Ranks are dense every
    // round (no final densify) and DETERMINISTIC given the materialized
    // sort (no monotonically_increasing_id, no recompute divergence).
    // Early exit once every rank is unique (nDistinct == n): text with
    // short repeats needs ~log2(longest repeat) rounds, not log2(maxDocLen).
    // state: (ranks, k, row count, range partitions)
    Fixpoint.run(spark, "suffixRanks", Int.MaxValue) { r =>
      val cur = r.cache(chars.join(charRanks, Seq("c")).drop("c")
        .select($"doc_id", $"off", $"rank"))
      val n = Fixpoint.count(cur)
      // scale-adaptive round parallelism (r6, guide §2.2): target ~128k
      // position rows (~4 MB) per sort task, capped by the cluster's
      // shuffle-partition knob — a tiny corpus does not pay 32-task rounds
      // and a large one is not AQE-coalesced onto one sorting task (the
      // explicit count keeps AQE from coalescing a data-sized sort).
      val nPart = math.min(
        math.max(1, spark.conf.get("spark.sql.shuffle.partitions", "32").toInt),
        math.max(1, (n / 131072L).toInt + 1))
      ((cur, 1L, n, nPart), n == 0L || maxLen <= 1)
    } { case ((cur, k, n, nPart), r) =>
      val right = cur.select($"doc_id", ($"off" - k).as("off"),
        $"rank".as("r2"))
      // partner rank at off+k; a suffix shorter than 2k has none → −1,
      // below every real rank, so a proper prefix stays strictly before
      // its extensions — exactly string order. Cached lazily:
      // repartitionByRange's sample pass is its first consumer, so the
      // join executes once per round instead of twice (sample + shuffle).
      val paired = r.scratch(cur.select($"doc_id", $"off", $"rank".as("r1"))
        .join(right.hint("shuffle_hash"), Seq("doc_id", "off"), "left")
        .na.fill(-1L, Seq("r2"))
        .select($"doc_id", $"off", $"r1", $"r2"))
      // one range shuffle, sorted in partition; explicit partition count
      // (a data-sized sort must not be AQE-coalesced onto one task)
      val sorted = r.cache(paired.repartitionByRange(nPart, $"r1", $"r2")
        .sortWithinPartitions($"r1", $"r2"))
      // pass 1: distinct (r1,r2) per partition — range partitioning puts
      // every (r1,r2) group wholly inside one partition, so these counts
      // compose into exact global dense-rank offsets
      val partCounts = sorted.select($"r1", $"r2").as[(Long, Long)]
        .mapPartitions { it =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          var nD = 0L
          var pr1 = 0L
          var pr2 = 0L
          var first = true
          it.foreach { case (r1, r2) =>
            if (first || r1 != pr1 || r2 != pr2) {
              nD += 1; first = false; pr1 = r1; pr2 = r2
            }
          }
          Iterator.single((pid, nD))
        }.collect()
      val nDistinct = partCounts.map(_._2).sum
      val base = new Array[Long](partCounts.map(_._1).max + 1)
      partCounts.sortBy(_._1).foldLeft(0L) { case (acc, (pid, c)) =>
        base(pid) = acc; acc + c
      }
      val baseB = spark.sparkContext.broadcast(base)
      // pass 2: assign dense ranks 1..nDistinct in sorted order — a
      // deterministic narrow map over the materialized sort
      val next = sorted.as[(Long, Long, Long, Long)]
        .mapPartitions { it =>
          val pid = org.apache.spark.TaskContext.getPartitionId()
          var rank = baseB.value(pid)
          var pr1 = 0L
          var pr2 = 0L
          var first = true
          it.map { case (d, o, r1, r2) =>
            if (first || r1 != pr1 || r2 != pr2) {
              rank += 1; first = false; pr1 = r1; pr2 = r2
            }
            (d, o, rank)
          }
        }.toDF("doc_id", "off", "rank")
      ((next, k * 2, n, nPart), nDistinct == n || k * 2 >= maxLen)
    } { case ((cur, _, _, _), r) =>
      // ranks are dense 1..m after every round (and after round 0:
      // denseIds already hands out 1..|alphabet|) — no final densify.
      // Materialized before the cache backing it is released.
      val out = r.cache(cur)
      Fixpoint.count(out)
      out
    }
  }

  /** Dense order-preserving ids 1..m for a DISTINCT-row frame: sort by
   *  `cols` (range partition, so the order is global) and zipWithIndex —
   *  the canonical distributed ranking; the extra count job zipWithIndex
   *  runs is one pass over the already-shuffled data. */
  private def denseIds(distinctRows: DataFrame,
                       cols: Seq[String]): DataFrame = {
    val spark = distinctRows.sparkSession
    val sorted = distinctRows.orderBy(cols.map(col): _*)
    val schema = org.apache.spark.sql.types.StructType(
      sorted.schema.fields :+
        org.apache.spark.sql.types.StructField("_id",
          org.apache.spark.sql.types.LongType, nullable = false))
    val rdd = sorted.rdd.zipWithIndex().map { case (r, i) =>
      org.apache.spark.sql.Row.fromSeq(r.toSeq :+ (i + 1L))
    }
    spark.createDataFrame(rdd, schema)
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
    val spreadDocs = graft.ops.Par.spread(docs, "doc_id")
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
   *  COUNT (cluster configuration, not data size). */
  def longestRepeats(spark: SparkSession, docs: DataFrame, k: Int = 20,
                     capChars: Int = 200,
                     textCol: String = "text"): DataFrame = {
    import spark.implicits._
    val ranks = suffixRanks(spark, docs, textCol)
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
