package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSqlShim
import org.apache.spark.storage.StorageLevel
import graft.ops.{DriverText, Fixpoint}

/**
 * Near-duplicate detection beyond SimHash: exact, word n-gram Jaccard and
 * embedding-cosine variants — the training-data dedup suite. Every plan is
 * candidate-generation-by-key (hash bucket / shingle / LSH band), never
 * all-pairs, so each scales as a shuffle on the blocking key.
 */
object NearDup {

  /** Exact dedup: keep min id per content hash (hash-groupBy). */
  def exact(docs: DataFrame, idCol: String = "doc_id",
            textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("h"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n"))

  /** Word n-gram (shingle) Jaccard pairs >= threshold — EXHAUSTIVE over
   *  pairs sharing any surviving shingle. Shingles above
   *  maxShingleDocFreq are dropped (stop-shingle removal — the standard
   *  guard against quadratic blowup on ubiquitous shingles), which
   *  bounds the within-shingle pair join at cap² rows per hot shingle;
   *  bounded, but still the one quadratic-per-key shape in this file.
   *  AT SCALE USE [[ngramJaccardStar]] INSTEAD: identical exact Jaccard
   *  values on every pair MinHash-LSH surfaces (spec-pinned), candidates
   *  linear per bucket; this exhaustive form exists for full-recall
   *  verification on bounded corpora, which is also why its default cap
   *  (1000) is tighter than unbounded but far above the q18 in-query
   *  setting (100). */
  def ngramJaccard(spark: SparkSession, docs: DataFrame, n: Int = 3,
                   threshold: Double = 0.8,
                   maxShingleDocFreq: Long = 1000): DataFrame = {
    import spark.implicits._
    val sh = docs.select(col("doc_id"),
        explode(shingleCol("text", n)).as("shingle"))
      .distinct()
    val rare = sh.groupBy($"shingle").agg(count(lit(1)).as("df"))
      .filter($"df" <= maxShingleDocFreq)
    val w = sh.join(rare.select("shingle"), Seq("shingle"), "left_semi")
      .persist()
    val sz = w.groupBy($"doc_id").agg(count(lit(1)).as("sz"))
    val inter = w.as("a").join(w.as("b"),
        $"a.shingle" === $"b.shingle" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("d1"), $"b.doc_id".as("d2"))
      .agg(count(lit(1)).as("i"))
    inter.join(sz.as("sa"), $"d1" === $"sa.doc_id")
      .join(sz.as("sb"), $"d2" === $"sb.doc_id")
      .select($"d1", $"d2",
        ($"i".cast("double") / ($"sa.sz" + $"sb.sz" - $"i")).as("jaccard"))
      .filter($"jaccard" >= threshold)
  }

  /** Exact word n-gram Jaccard computed ONLY for a given candidate-pair
   *  table (columns d1, d2) — the verification half of a
   *  candidates-then-verify dedup. Never all-pairs: shingle sets are
   *  deduped INSIDE the row (array_distinct before the explode — no
   *  distinct shuffle) and hashed to fixed-width md5 before leaving the
   *  scan; the intersection is two keyed joins (pairs × shingles(d1),
   *  then a semi-join against shingles(d2) on (d2, hash)); per-doc set
   *  size comes from the same in-row array, no extra shuffle. Pairs with
   *  empty intersection come back with jaccard = 0, so the output has
   *  one row per input pair. */
  def jaccardForPairs(spark: SparkSession, docs: DataFrame,
                      pairs: DataFrame, n: Int = 3): DataFrame = {
    import spark.implicits._
    val hashed = docs.select($"doc_id",
      array_distinct(transform(shingleCol("text", n), s => md5(s)))
        .as("_hs"))
    val sz = hashed.select($"doc_id", size($"_hs").cast("long").as("_sz"))
    val sh = hashed.select($"doc_id", explode($"_hs").as("_h"))
    val inter = pairs.select($"d1", $"d2")
      .join(sh.withColumnRenamed("doc_id", "d1"), Seq("d1"))
      .join(sh.withColumnRenamed("doc_id", "d2"), Seq("d2", "_h"),
        "left_semi")
      .groupBy($"d1", $"d2").agg(count(lit(1)).as("_i"))
    pairs.select($"d1", $"d2")
      .join(inter, Seq("d1", "d2"), "left")
      .join(sz.withColumnRenamed("doc_id", "d1")
        .withColumnRenamed("_sz", "_sza"), Seq("d1"))
      .join(sz.withColumnRenamed("doc_id", "d2")
        .withColumnRenamed("_sz", "_szb"), Seq("d2"))
      .select($"d1", $"d2",
        (coalesce($"_i", lit(0L)).cast("double") /
          ($"_sza" + $"_szb" - coalesce($"_i", lit(0L)))).as("jaccard"))
  }

  /** The scale shape that retires [[ngramJaccard]]'s within-shingle pair
   *  join: candidate pairs from [[minhashStarEdges]] (LINEAR per bucket,
   *  the shape that eliminated the quadratic hazard for q19), each
   *  verified with EXACT n-gram Jaccard via [[jaccardForPairs]], kept at
   *  >= threshold. On every pair LSH surfaces the value equals
   *  ngramJaccard's exactly (spec-pinned); recall is the LSH band
   *  recall — a pair sharing no band is never scored. That is the
   *  standard 100-TB trade: exact verification over approximate keyed
   *  candidate generation, nothing quadratic anywhere. Size-adaptive
   *  under the same driver gate as [[dedupVerdicts]]: below it one job
   *  collects (doc_id, text) and [[DriverNearDup]] computes the star
   *  edges and the Jaccard values in memory, returned uncached through
   *  `GraftSqlShim.driverFrame`; both paths return the same rows under
   *  the same schema. */
  def ngramJaccardStar(spark: SparkSession, docs: DataFrame, n: Int = 3,
                       threshold: Double = 0.8): DataFrame =
    DriverText.gated(spark, docs, "text", "ngramJaccardStar",
        DriverNearDup.input(docs)) { rows =>
      GraftSqlShim.driverFrame(spark, DriverNearDup.jaccardSchema(docs),
        new DriverNearDup(rows, DriverNearDup.idType(docs)).jaccard(n, threshold))
    } { (_, _) =>
      jaccardForPairs(spark, docs, minhashStarEdges(spark, docs), n)
        .filter(col("jaccard") >= threshold)
    }

  /** Duplicated-span statistics — the substring-level dedup signal of
   *  Lee et al. 2021 ("Deduplicating Training Data Makes Language Models
   *  Better", public paper) approximated at fixed span length: a word
   *  n-gram occurring ≥ 2 times ANYWHERE in the corpus (another doc or a
   *  self-repeat — suffix-array dedup catches both) is a duplicated span;
   *  per doc we report how much of it is duplicated material. Returns one
   *  row per input doc: (doc_id, n_grams, n_dup, dup_fraction, flagged) —
   *  dup_fraction NULL for docs shorter than n tokens, flagged =
   *  dup_fraction ≥ flagAt. All counts are integers and the fraction is a
   *  single division of two integers, so an independent engine restating
   *  the recurrence bit-agrees.
   *
   *  Scale shape: grams are hashed to md5 BEFORE the explode leaves the
   *  scan task, so the two shuffles (hash count with map-side combine;
   *  per-doc rollup keyed by doc_id) carry fixed-width hashes, never
   *  page-length span text. The duplicated-hash table is ≤ half the gram
   *  count by construction and arrives via a keyed left join (AQE
   *  broadcasts it when small). Nothing is all-pairs; a 10^6-repeat
   *  boilerplate span costs one counter, not a per-key sort. */
  def dupSpans(spark: SparkSession, docs: DataFrame, n: Int = 8,
               flagAt: Double = 0.5, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame = {
    import spark.implicits._
    val grams = docs
      .select(col(idCol).as("doc_id"), split(col(textCol), " ").as("_t"))
      .filter(size($"_t") >= n)
      .select($"doc_id", explode(expr(
        s"""transform(sequence(0, size(_t) - $n),
            i -> md5(array_join(slice(_t, i + 1, $n), ' ')))""")).as("_h"))
    val dup = grams.groupBy($"_h").agg(count(lit(1)).as("_c"))
      .filter($"_c" >= 2).select($"_h", lit(true).as("_dup"))
    val perDoc = grams.join(dup, Seq("_h"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        count(when($"_dup", 1)).as("n_dup"))
    docs.select(col(idCol).as("doc_id")).join(perDoc, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_grams", lit(0L)).as("n_grams"),
        coalesce($"n_dup", lit(0L)).as("n_dup"))
      .withColumn("dup_fraction",
        when($"n_grams" > 0, $"n_dup".cast("double") / $"n_grams"))
      .withColumn("flagged", coalesce($"dup_fraction" >= flagAt, lit(false)))
  }

  /** ARRAY<STRING> of word n-grams: for i in 0 .. max(words - n, 0) the
   *  words i+1 .. i+n of `split(text, ' ')` joined by ' ', so a text
   *  shorter than n words is one shingle. The split runs once per row and
   *  the native kernel `shingles` (functions/TextExpressions) cuts the
   *  n-grams, linear in the word count. */
  def shingleCol(textCol: String, n: Int): Column =
    graft.functions.text.shingles(split(expr(textCol), " "), n)

  /** MinHash+LSH near-dup candidate edges: 8 md5 minhashes → 2 bands →
   *  per-band STAR EDGES to each bucket's min-doc_id representative, NOT
   *  all pairs within the bucket. A degenerate bucket (a template-heavy
   *  crawl routinely puts half the corpus in one band value) makes
   *  within-bucket pairs quadratic — death at 100 TB — while star edges
   *  are LINEAR in bucket size and give the SAME connected components
   *  (every member links to the rep), which is what dedup consumes.
   *  No cap, no dropped docs.
   *
   *  4 md5 calls per word, not 8: one 128-bit md5 yields TWO independent
   *  64-bit minhash functions (its hex halves), projected BEFORE the
   *  aggregate so each md5 is evaluated once. The md5 family (not
   *  xxhash64) is deliberate: DuckDB recomputes the identical
   *  fingerprint for the oracle. Words are deduped IN-ROW
   *  (array_distinct — no shuffle) before the explode: min() is
   *  idempotent over duplicates, so the minima are unchanged, but each
   *  md5 runs once per DISTINCT word per doc instead of once per
   *  occurrence (guide §2.3 — don't compute what you throw away; a
   *  global `.distinct()` would instead have added a full shuffle of
   *  the exploded corpus).
   *
   *  shingle=1 hashes single words (the oracle'd q19/q38 form); a
   *  larger shingle hashes word n-grams instead, which sharpens the
   *  similarity the bands detect (templated pages sharing vocabulary
   *  but not phrasing stop colliding) at the same plan shape.
   *
   *  Returns (d1, d2) with d1 < d2, distinct across bands. */
  def minhashStarEdges(spark: SparkSession, docs: DataFrame,
                       shingle: Int = 1): DataFrame = {
    import spark.implicits._
    val unit =
      if (shingle <= 1) split($"text", " ")
      else shingleCol("text", shingle)
    // r6 (guide §2.3/§4): the 8 per-doc minhash halves are computed by the
    // fused native kernel in ONE pass over the in-row distinct word array
    // (functions/TextExpressions.scala — same 4 md5 digests per word, same
    // minima bit-for-bit). The former explode -> 4 md5 cols -> 8 substring
    // cols -> groupBy(doc_id).agg(8 mins) materialized a words×8×16-char
    // stream and a full hash aggregate just to fold it straight back to
    // one row per doc; the whole explode+aggregate stage disappears and
    // the signature job is a single narrow scan projection.
    // r6: measured both ways at sf0.1 — Par.spread here REGRESSED q19
    // (0.54 -> 0.72 s): the signature kernel is one cheap pass per doc
    // and the extra exchange costs more than the single-task scan does;
    // the explode-heavy SuffixOps generators are where spread pays.
    val m = docs
      .select($"doc_id",
        graft.functions.text.minhashHalves(array_distinct(unit)).as("_h"))
      .filter($"_h".isNotNull) // explode form: no words -> no signature row
    val b = m.select($"doc_id",
      md5(concat(element_at($"_h", 1), element_at($"_h", 2),
        element_at($"_h", 3), element_at($"_h", 4))).as("b1"),
      md5(concat(element_at($"_h", 5), element_at($"_h", 6),
        element_at($"_h", 7), element_at($"_h", 8))).as("b2"))
    // per band: bucket rep = min(doc_id); edge (rep, member) for every
    // other member. Both bands are stacked as (band_no, band_val) rows
    // and share ONE window min over the bucket: the signatures are read
    // once, where an aggregate of the reps joined back to the members
    // read them twice (and a pinned signature table is lost with its
    // executor, with nothing to release it). The window buffers a bucket
    // with spill, so a 46%-duplicate bucket stays linear.
    val stack = b.select($"doc_id", explode(array(
        struct(lit(1).as("bn"), $"b1".as("bv")),
        struct(lit(2).as("bn"), $"b2".as("bv")))).as("e"))
      .select($"doc_id", $"e.bn".as("bn"), $"e.bv".as("bv"))
    stack.select($"doc_id".as("d2"),
        min($"doc_id").over(Window.partitionBy($"bn", $"bv")).as("d1"))
      .where($"d2" > $"d1")
      .select($"d1", $"d2").distinct()
  }

  /** End-to-end crawl dedup: MinHash star edges → connected components →
   *  per-cluster canonical election → a keep/drop verdict for EVERY doc.
   *
   *  The canonical is the cluster member with the most tokens (ties: min
   *  doc_id) — "keep the longest copy" is the usual curation rule when
   *  near-dups differ by truncation. Docs in no cluster keep themselves.
   *
   *  Scale shape: edges are linear in corpus size (star edges, no
   *  all-pairs); components come from connectedComponentsStar — a driver
   *  union-find while the distinct edges fit its gate, O(log n)
   *  large/small-star rounds above it — and the election is ONE extra
   *  shuffle on the cluster key (struct-max aggregate, map-side
   *  combinable) plus a broadcast-size join back — nothing here is
   *  quadratic in a cluster's size, so a 10^8-doc template cluster costs
   *  the same per-row work as a pair. Below the driver gate (see
   *  [[dedupVerdicts]]) the whole pipeline runs in driver memory. Returns
   *  (doc_id, cluster, n_tokens, keep) ordered by doc_id. */
  def dedupClusters(spark: SparkSession, docs: DataFrame): DataFrame =
    dedupVerdicts(spark, docs).orderBy(col("doc_id"))

  /** dedupClusters without the presentation sort — the form pipelines
   *  compose (a global orderBy is pure cost when the consumer is a
   *  semi-join on the keepers).
   *
   *  SIZE-ADAPTIVE, like connectedComponentsStar and SuffixOps: one
   *  aggregate counts the code points of `text`, and at most
   *  [[graft.link.Linker.MaxDriverAliasPairs]] of them (specs set it to 0
   *  to force the Spark plan) are clustered on the driver. One job
   *  collects (doc_id, text) and [[DriverNearDup]] computes signatures,
   *  band buckets, star edges, components and the election in memory,
   *  where the Spark plan spends some thirty jobs on a few hundred rows;
   *  the verdicts come back through `GraftSqlShim.driverFrame`, an RDD
   *  scan that is not cached. Both paths return the same rows under the
   *  same schema; a document with null text gets no signature and stays
   *  a singleton cluster. */
  def dedupVerdicts(spark: SparkSession, docs: DataFrame,
                    shingle: Int = 1): DataFrame =
    DriverText.gated(spark, docs, "text", "dedupVerdicts",
        DriverNearDup.input(docs)) { rows =>
      GraftSqlShim.driverFrame(spark, DriverNearDup.verdictSchema(docs),
        new DriverNearDup(rows, DriverNearDup.idType(docs)).verdicts(shingle))
    } { (_, _) => verdictRounds(spark, docs, shingle) }

  /** dedupVerdicts above the gate, as Spark jobs. */
  private def verdictRounds(spark: SparkSession, docs: DataFrame,
                            shingle: Int): DataFrame = {
    import spark.implicits._
    val edges = minhashStarEdges(spark, docs, shingle)
      .select($"d1".as("src"), $"d2".as("dst"))
    // the size-adaptive star variant: band reps CAN chain (doc in bucket
    // A's star is the rep of bucket B), so no diameter guarantee exists on
    // a pathological crawl; small edge sets finish on the driver, large
    // ones in O(log n) rounds — same (v, comp = min id) contract as
    // min-label propagation
    val labels = graft.link.GraphOps.connectedComponentsStar(spark, edges)
    // the rounds return their labels cached, for the caller to release,
    // and this plan reads them after it returns: move them into a shuffle
    // instead (under AQE the barrier runs its map stage at once, and later
    // reads fetch its output), so no cache outlives the call
    val comps = (if (labels.storageLevel == StorageLevel.NONE) labels else {
      val moved = Fixpoint.labeled(spark.sparkContext, "dedupVerdicts: result")(
        GraftSqlShim.planBarrier(labels.repartition($"v")))
      labels.unpersist()
      moved
    }).withColumnRenamed("v", "doc_id")
    val toks = docs.select($"doc_id",
      regexp_count($"text", lit("\\S+")).cast("int").as("n_tokens"))
    val labeled = toks.join(comps, Seq("doc_id"), "left")
      .select($"doc_id", coalesce($"comp", $"doc_id").as("cluster"),
        $"n_tokens")
    // struct-max election: (n_tokens desc, doc_id asc) — negating the id
    // inside the struct makes one max() pick both criteria in one pass
    val canon = labeled.groupBy($"cluster")
      .agg(max(struct($"n_tokens".as("t"), (-$"doc_id").as("nid"))).as("m"))
      .select($"cluster", (-$"m.nid").as("canon_doc"))
    labeled.join(canon, Seq("cluster"))
      .select($"doc_id", $"cluster", $"n_tokens",
        ($"doc_id" === $"canon_doc").as("keep"))
  }

  /** Dedup cluster-SIZE distribution — the curation health metric read
   *  before committing a dedup pass (how much of the corpus sits in
   *  template mega-clusters vs singletons). One extra
   *  map-side-combinable shuffle over `dedupVerdicts`'s cluster labels,
   *  then a histogram over the (few) distinct sizes. Returns
   *  (cluster_size, n_clusters, n_docs = size·clusters) — all BIGINT. */
  def clusterSizeHistogram(spark: SparkSession, docs: DataFrame): DataFrame =
    dedupVerdicts(spark, docs)
      .groupBy(col("cluster")).agg(count(lit(1)).as("cluster_size"))
      .groupBy(col("cluster_size")).agg(count(lit(1)).as("n_clusters"))
      .withColumn("n_docs", col("cluster_size") * col("n_clusters"))

  /** IVF index: the assigned table (vec_id, embedding, list_id) plus the
   *  driver-resident centroid table (nLists entries). At 100 TB the
   *  assigned table is WRITTEN ONCE partitioned by list_id (the fit is
   *  amortized over all queries) so each probe reads only its nProbe
   *  partitions — `assigned` here is exactly that table's content. */
  final case class IvfIndex(assigned: DataFrame,
                            centers: Array[Array[Double]])

  private def l2(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  // fused native kernels (functions/VectorExpressions.scala) — bit-identical
  // to the former aggregate(zip_with(...)) HOF folds, but codegen'd and
  // allocation-free (VectorExprSpec pins doubleToRawLongBits equality)
  private val cosDot = graft.functions.vec.dot(col("embedding"), col("qe"))
  private val cosNa = graft.functions.vec.normSq(col("embedding"))
  private val cosNb = graft.functions.vec.normSq(col("qe"))

  /** IVF (inverted-file) ANN fit — the coarse-quantizer scale path beside
   *  the SRP-LSH one: a k-means quantizer partitions the corpus into
   *  nLists inverted lists. Spark shape: ml.KMeans (k-means||,
   *  distributed, seeded) fits the quantizer; list assignment is a model
   *  transform (codegen'd predict). FIT ONCE, PROBE MANY — the split is
   *  the point: the probe's cost is ~nProbe/nLists of a full scan at any
   *  corpus size, and must never re-pay the fit. */
  def ivfFit(spark: SparkSession, emb: DataFrame, nLists: Int = 16,
             seed: Long = 7L): IvfIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val vecs = emb.withColumn("fv",
      array_to_vector(expr("transform(embedding, x -> CAST(x AS DOUBLE))")))
    val km = new KMeans().setK(nLists).setSeed(seed).setFeaturesCol("fv")
      .setPredictionCol("list_id")
    val model = km.fit(vecs)
    IvfIndex(model.transform(vecs).drop("fv"),
      model.clusterCenters.map(_.toArray))
  }

  /** IVF probe: nProbe nearest centroids to the query (driver arithmetic
   *  over the tiny centroid table), then a list-pruned exact-cosine top-k
   *  — on a list_id-partitioned table this filter IS partition pruning. */
  def ivfProbe(spark: SparkSession, index: IvfIndex, query: Array[Float],
               k: Int = 10, nProbe: Int = 2): DataFrame = {
    import spark.implicits._
    val q = query.map(_.toDouble)
    val probed = index.centers.zipWithIndex
      .sortBy { case (c, i) => (l2(c, q), i) }.take(nProbe).map(_._2).toSeq
    index.assigned
      .filter($"list_id".isin(probed: _*)) // the partition-pruning predicate
      .withColumn("qe", typedLit(query.toSeq))
      .select($"vec_id", $"list_id",
        round(cosDot / sqrt(cosNa * cosNb), 5).as("cos"))
      .orderBy($"cos".desc, $"vec_id").limit(k)
  }

  /** Persist an IVF index in its production disk form: the assigned
   *  table written PARTITIONED BY list_id (so `ivfProbe`'s
   *  `list_id IN (probed)` filter becomes partition pruning at the scan
   *  — only nProbe/nLists of the corpus is ever read per query), plus
   *  the tiny centroid table beside it. This is the fit-once shape:
   *  writing costs one shuffle-free scan of the assigned table; every
   *  probe after it reads just its probed directories. */
  def ivfWrite(index: IvfIndex, path: String): Unit = {
    index.assigned.write.mode("overwrite")
      .partitionBy("list_id").parquet(s"$path/assigned")
    val centers = index.centers.zipWithIndex.map { case (c, i) =>
      (i, c.toSeq)
    }.toSeq
    index.assigned.sparkSession.createDataFrame(centers)
      .toDF("list_id", "center")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/centers")
  }

  /** Re-open a persisted IVF index. The returned `assigned` frame is the
   *  list_id-partitioned parquet table, so probes over it are
   *  partition-pruned by Spark's file source (spec-pinned via the
   *  physical plan's selected-partition count). */
  def ivfRead(spark: SparkSession, path: String): IvfIndex = {
    import spark.implicits._
    val centers = spark.read.parquet(s"$path/centers")
      .select($"list_id", $"center").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2)
    IvfIndex(spark.read.parquet(s"$path/assigned"), centers)
  }

  /** Convenience fit+probe (the per-call-fit demo shape; real deployments
   *  hold the IvfIndex and call ivfProbe per query). */
  def ivfTopK(spark: SparkSession, emb: DataFrame, query: Array[Float],
              k: Int = 10, nLists: Int = 16, nProbe: Int = 2,
              seed: Long = 7L): DataFrame =
    ivfProbe(spark, ivfFit(spark, emb, nLists, seed), query, k, nProbe)

  /** IVF with a DETERMINISTIC corpus-sample quantizer: centroids = the
   *  embeddings of fixed vec_ids 1..nLists (the "user-provided centroids"
   *  IVF flavor) — training-free, independent of data partitioning, and
   *  exactly mirrorable in SQL, which is what gives the driver's q27 a
   *  full DuckDB oracle (the k-means fit above is the quantizer-QUALITY
   *  path; the probe machinery is identical). Assignment is codegen'd
   *  column arithmetic: argmin over a struct array (distance, cid) — ties
   *  break to the smaller centroid id on both engines. */
  def ivfSampleTopK(spark: SparkSession, emb: DataFrame, queryId: Long = 0L,
                    k: Int = 10, nLists: Int = 8, nProbe: Int = 3): DataFrame = {
    import spark.implicits._
    val cents = emb.filter($"vec_id".between(1, nLists))
      .select($"vec_id", $"embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).map(_.toDouble).toArray))
      .sortBy(_._1)
    val qArr = emb.filter($"vec_id" === queryId)
      .select($"embedding").collect()(0).getSeq[Float](0).toArray
    val qD = qArr.map(_.toDouble)
    val probed = cents.sortBy { case (cid, ce) => (l2(ce, qD), cid) }
      .take(nProbe).map(_._1).toSeq
    // per-centroid squared L2 as a higher-order-function column; argmin
    // via array_min over (distance, cid) structs (struct ordering)
    val distStructs = cents.map { case (cid, ce) =>
      val dist = graft.functions.vec.l2sq($"embedding", typedLit(ce.toSeq))
      struct(dist.as("d"), lit(cid).as("c"))
    }
    emb.filter($"vec_id" =!= queryId)
      .withColumn("list_id", array_min(array(distStructs: _*)).getField("c"))
      .filter($"list_id".isin(probed: _*))
      .withColumn("qe", typedLit(qArr.toSeq))
      .select($"vec_id", round(cosDot / sqrt(cosNa * cosNb), 5).as("cos"))
      .orderBy($"cos".desc, $"vec_id").limit(k)
  }

  /** Bits for the SRP-LSH bucket space as a function of corpus size:
   *  buckets sized ~targetBucket vectors so the in-bucket exact pass
   *  stays bounded — at 10^9 vectors this yields ~24 bits, never the
   *  fixed-8 of the sf-scale demos (bits must scale with log n).
   *  CLAMPED at 31: the bucket id is a signed int, so past ~1.4×10^11
   *  vectors (2^31 buckets × targetBucket=64) mean bucket size grows
   *  linearly instead — still bounded by `maxBucket`'s cap, and the
   *  unclamped value would have overflowed `1 << j` into colliding
   *  buckets silently. */
  def autoBits(nVectors: Long, targetBucket: Int = 64): Int =
    math.min(31, math.max(8, math.ceil(math.log(math.max(1.0,
      nVectors.toDouble / targetBucket)) / math.log(2.0)).toInt))

  /** Embedding-cosine near-dup: sign-random-projection LSH bucket join,
   *  exact cosine inside buckets only. Pass bits = autoBits(n) at scale.
   *  Buckets are CAPPED at `maxBucket` members (vec_id order) before the
   *  self-join — mirroring Linker.MaxBlock / SimHash.MaxBand — so a
   *  degenerate bucket (e.g. the all-zeros bucket of zero/constant vectors)
   *  is a bounded task, never an unbounded quadratic join. Default is far
   *  above autoBits' target bucket size (64), so the cap only engages on
   *  pathological skew. */
  def embeddingCosine(spark: SparkSession, emb: DataFrame,
                      threshold: Double = 0.95, bits: Int = 12,
                      maxBucket: Int = 4096): DataFrame = {
    import spark.implicits._
    // one-pass native SRP bucket (was `bits` separate HOF folds, each
    // materializing a zipped intermediate array per row)
    val bucketBits = graft.functions.vec.srpBucket($"embedding", bits)
    val w = Window.partitionBy($"bucket").orderBy($"vec_id")
    val b = emb.withColumn("bucket", bucketBits)
      .withColumn("_rn", row_number().over(w))
      .filter($"_rn" <= maxBucket).drop("_rn")
      .persist()
    val dot = graft.functions.vec.dot($"a.embedding", $"b.embedding")
    def norm(side: String) =
      sqrt(graft.functions.vec.normSq(col(s"$side.embedding")))
    b.as("a").join(b.as("b"),
        $"a.bucket" === $"b.bucket" && $"a.vec_id" < $"b.vec_id")
      .select($"a.vec_id".as("v1"), $"b.vec_id".as("v2"),
        (dot / (norm("a") * norm("b"))).as("cos"))
      .filter($"cos" >= threshold)
  }

  /** Candidate-pair VERIFICATION — the exact-compare stage after LSH
   *  blocking (the "verify" half of filter-and-verify dedup): every
   *  MinHash star-edge candidate pair gets a character edit distance
   *  over the first `capChars` chars of each side, plus an integer-ratio
   *  duplicate verdict (dist·10 ≤ max prefix length, i.e. normalized
   *  distance ≤ 0.1 — the threshold compare stays in integers so no
   *  float ever decides a verdict).
   *
   *  The cap is the scale contract: Levenshtein is O(len²) per pair, so
   *  the compare is bounded at capChars² regardless of document size —
   *  truncated-prefix edit distance is the standard cheap verifier
   *  (near-dup docs agree on their prefix; template pages that diverge
   *  only deep in the body are MinHash's job, not this stage's).
   *  Candidates are LSH-bounded (star edges — linear in bucket size),
   *  and the two prefix fetches are keyed equi-joins, so the whole stage
   *  is linear in candidates, never corpus². Returns
   *  (d1, d2, dist, max_len, is_dup) with d1 < d2. */
  def verifyCandidatePairs(spark: SparkSession, docs: DataFrame,
                           capChars: Int = 256): DataFrame = {
    import spark.implicits._
    val edges = minhashStarEdges(spark, docs)
    val pfx = docs.select($"doc_id",
      substring($"text", 1, capChars).as("pfx"))
    edges
      .join(pfx.select($"doc_id".as("d1"), $"pfx".as("p1")), "d1")
      .join(pfx.select($"doc_id".as("d2"), $"pfx".as("p2")), "d2")
      .select($"d1", $"d2",
        levenshtein($"p1", $"p2").cast("long").as("dist"),
        greatest(length($"p1"), length($"p2")).cast("long").as("max_len"))
      .withColumn("is_dup", col("dist") * 10 <= col("max_len"))
  }
}
