package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.dedup.{NearDup, SimHash}
import graft.extract.BagAgg
import graft.model.{NER, Provenance, SlotFill}

class DedupSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy cat"), // near-dup of 1
    (3L, "completely different content about spark engines"),
    (4L, "the quick brown fox jumps over the lazy dog") // exact dup of 1
  ).toDF("doc_id", "text")

  test("verifyCandidatePairs: edit distance + integer-ratio verdict on LSH edges") {
    // docs 10/11 share the same word MULTISET (identical minhash
    // signature, so both bands collide -> guaranteed star edge) but a
    // different order -> nonzero edit distance; 12 is an exact dup of 10
    val d = Seq(
      (10L, "alpha beta gamma delta epsilon"),
      (11L, "epsilon delta gamma beta alpha"),
      (12L, "alpha beta gamma delta epsilon"),
      (13L, "totally unrelated words here now")
    ).toDF("doc_id", "text")
    val got = NearDup.verifyCandidatePairs(spark, d, capChars = 256)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        (r.getLong(2), r.getLong(3), r.getBoolean(4))).toMap
    // exact-dup pair: dist 0, trivially a dup
    assert(got((10L, 12L)) == ((0L, 30L, true)))
    // reordered pair: positive distance, same max prefix length; the
    // verdict is exactly the integer test dist*10 <= max_len
    val (dist, maxLen, isDup) = got((10L, 11L))
    assert(dist > 0L && maxLen == 30L && isDup == (dist * 10 <= maxLen))
    // no edge can touch the unrelated doc unless a band collided by
    // construction (it cannot: different word multisets)
    assert(!got.keySet.exists(p => p._1 == 13L || p._2 == 13L))
  }

  test("clusterSizeHistogram: sizes roll up across exact-dup pairs and singletons") {
    val d = Seq(
      (1L, "first duplicated text body here"),
      (2L, "first duplicated text body here"),
      (3L, "second duplicated text body here"),
      (4L, "second duplicated text body here"),
      (5L, "a completely unrelated singleton document")
    ).toDF("doc_id", "text")
    val got = NearDup.clusterSizeHistogram(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 1L, 1L), (2L, 2L, 4L)))
  }

  test("dedupClusters and clusterSizeHistogram leave no cached labels behind") {
    // the signature table's local checkpoint is the only block a call may
    // leave (isCheckpointed); the connected-component labels must not stay
    // persisted once the result is read
    val sc = spark.sparkContext
    def persisted = sc.getPersistentRDDs.filterNot(_._2.isCheckpointed).keySet
    val before = persisted
    assert(NearDup.dedupClusters(spark, docs).collect().length == 4)
    assert(NearDup.clusterSizeHistogram(spark, docs).collect().nonEmpty)
    assert((persisted -- before).isEmpty,
      s"persisted RDDs left: ${(persisted -- before).map(sc.getPersistentRDDs)}")
  }

  test("exact dedup groups identical content") {
    val d = NearDup.exact(docs).collect()
    assert(d.length == 3)
    val dup = d.find(_.getAs[Long]("n") == 2).get
    assert(dup.getAs[Long]("keep_id") == 1L)
  }

  test("dedup clusters: canonical keeps the longest copy, singletons keep themselves") {
    // 1/4 exact dups (same minhash → same bands → clustered); 5 is doc 1's
    // text plus a suffix — longer, so IF it lands in the cluster it must
    // win the election; 3 is a singleton and must keep itself
    val five = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy cat"),
      (3L, "completely different content about spark engines"),
      (4L, "the quick brown fox jumps over the lazy dog"),
      (5L, "the quick brown fox jumps over the lazy dog yes indeed")
    ).toDF("doc_id", "text")
    val out = NearDup.dedupClusters(spark, five).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Long]("cluster"), r.getAs[Boolean]("keep")))).toMap
    assert(out.size == 5)
    // every doc appears exactly once and every cluster elects exactly one keeper
    val byCluster = out.values.groupBy(_._1)
    byCluster.foreach { case (_, ms) => assert(ms.count(_._2) == 1) }
    // exact dups 1 and 4 share a cluster, labeled by the min member
    assert(out(1L)._1 == out(4L)._1 && out(1L)._1 == 1L)
    assert(out(3L)._1 == 3L && out(3L)._2) // singleton keeps itself
    // within 1's cluster the longest member is the keeper (5 if present, else 1)
    val c1 = out.filter(_._2._1 == out(1L)._1)
    val keeper = c1.find(_._2._2).get._1
    if (c1.contains(5L)) assert(keeper == 5L) else assert(keeper == 1L)
    assert(!out(4L)._2) // the shorter exact dup never survives
  }

  test("ngram Jaccard finds the near-dup pair and not the distinct one") {
    val pairs = NearDup.ngramJaccard(spark, docs, n = 3, threshold = 0.5)
      .collect().map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
    assert(pairs.contains((1L, 2L)) || pairs.contains((1L, 4L)))
    assert(pairs.contains((1L, 4L))) // exact dup -> jaccard 1.0
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("jaccard star: exact values on LSH candidates, zero for disjoint") {
    // every LSH-surfaced pair must carry EXACTLY the jaccard the
    // exhaustive pair join computes (cap disabled so both are uncapped)
    val exact = NearDup.ngramJaccard(spark, docs, n = 3, threshold = 0.0,
        maxShingleDocFreq = Long.MaxValue).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2")) ->
        r.getAs[Double]("jaccard")).toMap
    val star = NearDup.ngramJaccardStar(spark, docs, n = 3,
        threshold = 0.0).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2")) ->
        r.getAs[Double]("jaccard")).toMap
    star.foreach { case (p, j) =>
      assert(j == exact.getOrElse(p, 0.0),
        s"pair $p: star=$j exhaustive=${exact.get(p)}")
    }
    // the exact dup is always in the same minhash buckets -> surfaced
    assert(star.get((1L, 4L)).contains(1.0))
    // candidate pairs sharing no shingle come back as 0, not dropped:
    // jaccardForPairs keeps one row per input pair
    val forced = Seq((1L, 3L)).toDF("d1", "d2")
    val v = NearDup.jaccardForPairs(spark, docs, forced, n = 3).collect()
    assert(v.length == 1 && v.head.getAs[Double]("jaccard") == 0.0)
  }

  test("minhash_halves kernel == explode/groupBy-min SQL form, bit for bit") {
    // r6: minhashStarEdges computes the 8 signature halves with the fused
    // native kernel; this pins it against the original SQL restatement
    // (explode -> 4 md5 -> 8 substring halves -> 8 min aggregates) on
    // text with repeats, unicode, punctuation and a 1-word doc
    val d = Seq(
      (1L, "the quick brown fox the quick"),
      (2L, "solo"),
      (3L, "naïve café résumé — dash …"),
      (4L, "a b c d e f g h i j k l m n o p q r s t u v w x y z")
    ).toDF("doc_id", "text")
    val viaKernel = d.select($"doc_id",
      graft.functions.text.minhashHalves(array_distinct(split($"text", " ")))
        .as("h"))
      .select($"doc_id", posexplode($"h"))
      .select($"doc_id", $"pos", $"col".as("half"))
    val w = d
      .select($"doc_id", explode(array_distinct(split($"text", " "))).as("word"))
      .select($"doc_id" +: (0 until 4).map(k =>
        md5(concat(lit(k.toString), $"word")).as(s"m$k")): _*)
      .select($"doc_id" +: (0 until 8).map(k =>
        substring(col(s"m${k / 2}"), 1 + 16 * (k % 2), 16).as(s"p$k")): _*)
    val viaSql = w.groupBy($"doc_id")
      .agg(min($"p0").as("h0"), min($"p1").as("h1"), min($"p2").as("h2"),
        min($"p3").as("h3"), min($"p4").as("h4"), min($"p5").as("h5"),
        min($"p6").as("h6"), min($"p7").as("h7"))
      .select($"doc_id", posexplode(array((0 until 8).map(k => col(s"h$k")): _*)))
      .select($"doc_id", $"pos", $"col".as("half"))
    val a = viaKernel.collect().map(_.toString).sorted
    val b = viaSql.collect().map(_.toString).sorted
    assert(a.sameElements(b))
    // null/empty-array inputs yield NULL (the explode form emitted no row)
    val edge = Seq(Tuple1(Seq.empty[String]), Tuple1(null: Seq[String]))
      .toDF("ws")
      .select(graft.functions.text.minhashHalves($"ws").as("h"))
      .collect()
    assert(edge.forall(_.isNullAt(0)))
  }

  test("simhash near-dup pairs within small hamming distance") {
    val pairs = SimHash.nearDupPairs(docs, maxDist = 12).collect()
      .map(r => (r.getAs[Long]("d1"), r.getAs[Long]("d2"))).toSet
    assert(pairs.contains((1L, 4L))) // identical -> distance 0
    assert(SimHash.hamming(SimHash.simhash64(Seq("a", "b", "c")),
      SimHash.simhash64(Seq("a", "b", "c"))) == 0)
  }

  test("degenerate band value: 1k identical docs complete under the bucket cap") {
    // 1000 identical documents put every doc in the SAME value of every
    // band — uncapped, each band join is a 10^6-pair quadratic task; the
    // cap bounds it to maxBucket members per band (pairs only among them)
    val clones = spark.range(1000)
      .select($"id".as("doc_id"), lit("all the same words here").as("text"))
    val t0 = System.nanoTime()
    val pairs = SimHash.nearDupPairs(clones, maxDist = 3, maxBucket = 64)
    val nPairs = pairs.count()
    val sec = (System.nanoTime() - t0) / 1e9
    assert(nPairs == 64L * 63 / 2, s"expected capped pair set, got $nPairs")
    assert(sec < 60.0, s"capped band join took $sec s")
    // the cap audit reports what was dropped, per band
    val stats = SimHash.cappedBandStats(clones, maxBucket = 64).collect()
    assert(stats.length == 4)
    assert(stats.forall(_.getAs[Long]("dropped") == 936L))
    // embedding path: identical vectors land in one bucket; the cap keeps
    // the join bounded and the surviving pairs are still above threshold
    val emb = spark.range(100).select($"id".as("vec_id"),
      array(lit(1.0f), lit(0.5f), lit(0.2f), lit(0.1f)).as("embedding"))
    val cosPairs = NearDup.embeddingCosine(spark, emb, threshold = 0.99,
      bits = 8, maxBucket = 16).count()
    assert(cosPairs == 16L * 15 / 2)
  }

  test("embedding cosine near-dup finds identical vectors via LSH buckets") {
    val emb = Seq(
      (1L, Array(1.0f, 0.0f, 0.5f, 0.2f)),
      (2L, Array(1.0f, 0.0f, 0.5f, 0.2f)), // identical
      (3L, Array(-1.0f, 0.9f, -0.5f, -0.2f))
    ).toDF("vec_id", "embedding")
    val pairs = NearDup.embeddingCosine(spark, emb, threshold = 0.99)
      .collect().map(r => (r.getAs[Long]("v1"), r.getAs[Long]("v2")))
    assert(pairs.toSet == Set((1L, 2L)))
  }

  test("IVF ANN: probed lists recover the brute-force top-k neighbors") {
    // two well-separated clusters; the query sits in cluster A — IVF with
    // nProbe=1 must return exactly cluster A's members, ranked by cosine,
    // matching the brute-force ranking on those vectors
    val rnd = new scala.util.Random(5)
    val a = (0 until 30).map(i => (i.toLong,
      Array(10f + rnd.nextFloat(), 10f + rnd.nextFloat(), 0.5f, 0.1f)))
    val b = (30 until 60).map(i => (i.toLong,
      Array(-10f - rnd.nextFloat(), 2f, -8f, 5f)))
    val emb = (a ++ b).toDF("vec_id", "embedding")
    val query = Array(10.5f, 10.5f, 0.5f, 0.1f)
    // fit once, probe separately (the amortized shape bench/real use needs)
    val index = NearDup.ivfFit(spark, emb, nLists = 2)
    index.assigned.persist().count() // materialize: probes must not re-fit
    val ivf = NearDup.ivfProbe(spark, index, query, k = 5, nProbe = 1)
      .collect()
    index.assigned.unpersist()
    assert(ivf.length == 5)
    assert(ivf.forall(_.getAs[Long]("vec_id") < 30),
      s"probe leaked into the far cluster: ${ivf.mkString(",")}")
    // ranking agrees with brute force over the probed cluster
    def cos(v: Array[Float]): Double = {
      val dot = v.zip(query).map { case (x, y) => x.toDouble * y }.sum
      dot / math.sqrt(v.map(x => x.toDouble * x).sum *
        query.map(x => x.toDouble * x).sum)
    }
    // rank with the operator's own 5-dp rounding so ties break identically
    val brute = a.sortBy { case (id, v) =>
      (-math.rint(cos(v) * 1e5) / 1e5, id)
    }.take(5).map(_._1)
    assert(ivf.map(_.getAs[Long]("vec_id")).toSeq == brute.toSeq)

    // sampled-centroid variant (q27's shape): probing ALL lists is a full
    // scan, so the result must equal brute force over everything but the
    // query row — and probing 1 of 4 lists must stay inside its lists
    val q0 = a.head._2
    def cos0(v: Array[Float]): Double = {
      val dot = v.zip(q0).map { case (x, y) => x.toDouble * y }.sum
      dot / math.sqrt(v.map(x => x.toDouble * x).sum *
        q0.map(x => x.toDouble * x).sum)
    }
    val bruteAll = (a.tail ++ b).sortBy { case (id, v) =>
      (-math.rint(cos0(v) * 1e5) / 1e5, id)
    }.take(5).map(_._1)
    val full = NearDup.ivfSampleTopK(spark, emb, queryId = 0L, k = 5,
      nLists = 4, nProbe = 4).collect().map(_.getAs[Long]("vec_id")).toSeq
    assert(full == bruteAll.toSeq, s"full-probe IVF $full != brute $bruteAll")
    val pruned = NearDup.ivfSampleTopK(spark, emb, queryId = 0L, k = 5,
      nLists = 4, nProbe = 1).collect()
    assert(pruned.nonEmpty && pruned.length <= 5)
  }

  test("IVF persisted form: probe over re-read table is partition-pruned") {
    // the production IVF shape: fit once, WRITE the assigned table
    // partitioned by list_id, probe the RE-READ table — the probe's
    // list_id IN (...) filter must become partition pruning at the file
    // scan (only nProbe of nLists directories read), and results must
    // equal the in-memory probe exactly
    val rnd = new scala.util.Random(11)
    val emb = (0 until 120).map { i =>
      val base = (i % 4) * 90f
      (i.toLong, Array(base + rnd.nextFloat(), base / 2 + rnd.nextFloat(),
        rnd.nextFloat(), rnd.nextFloat()))
    }.toDF("vec_id", "embedding")
    val query = Array(90.4f, 45.2f, 0.5f, 0.5f)
    val dir = java.nio.file.Files.createTempDirectory("ivf").toString
    val fitted = NearDup.ivfFit(spark, emb, nLists = 4)
    NearDup.ivfWrite(fitted, dir)
    val reopened = NearDup.ivfRead(spark, dir)
    assert(reopened.centers.length == 4)
    val mem = NearDup.ivfProbe(spark, fitted, query, k = 6, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    val disk = NearDup.ivfProbe(spark, reopened, query, k = 6, nProbe = 2)
      .collect().map(r => (r.getLong(0), r.getDouble(2))).toSeq
    assert(disk == mem, s"disk=$disk mem=$mem")
    // physical-plan pruning assert: 2 of the 4 list_id directories scanned
    val probedIds = reopened.centers.zipWithIndex.sortBy { case (c, i) =>
      (c.zip(query).map { case (x, y) => (x - y) * (x - y) }.sum, i)
    }.take(2).map(_._2)
    val pruned = reopened.assigned
      .filter(col("list_id").isin(probedIds: _*))
    val scans = pruned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(scans.nonEmpty, "expected a file scan in the probe plan")
    assert(scans.head.selectedPartitions.partitionCount == 2,
      s"expected 2 pruned partitions, got " +
        s"${scans.head.selectedPartitions.partitionCount}")
    val all = reopened.assigned.queryExecution.executedPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f
    }
    assert(all.head.selectedPartitions.partitionCount == 4)
  }

  test("bag aggregation modes: noisy-or >= max >= any single p; sum capped") {
    val p = Provenance("d", "u", 0, 0, 1, 2, 3)
    val fills = Seq(0.4, 0.5, 0.6).map(sc =>
      SlotFill("A", NER.PERSON, "per:title", "x", NER.TITLE, sc, p))
    val ds = spark.createDataset(fills)
    val no = BagAgg.aggregate(spark, ds, BagAgg.NoisyOr).collect()(0).score
    val mx = BagAgg.aggregate(spark, ds, BagAgg.Max).collect()(0).score
    val sm = BagAgg.aggregate(spark, ds, BagAgg.Sum).collect()(0).score
    assert(math.abs(mx - 0.6) < 1e-12)
    assert(no > mx && no < 1.0)
    assert(sm == 1.0) // 1.5 capped
  }

  test("softmax normalization sums to 1 within a bag") {
    val df = Seq(("A", "x", 0.9), ("A", "x", 0.3), ("B", "y", 0.7))
      .toDF("subj", "obj", "score")
    val out = BagAgg.softmaxNormalize(df)
    val sums = out.groupBy($"subj").agg(sum($"score").as("s")).collect()
    sums.foreach(r => assert(math.abs(r.getAs[Double]("s") - 1.0) < 1e-9))
  }

  test("rule inference derives bounded transitive facts") {
    val edges = Seq(
      ("A", "org:subsidiaries", "B", 1.0),
      ("B", "org:subsidiaries", "C", 0.9),
      ("C", "org:top_members/employees", "P Q", 1.0))
      .toDF("subj", "pred", "obj", "score")
    val out = graft.link.RuleInference.infer(spark, edges).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    assert(out.contains(("A", "org:subsidiaries", "C")))
    assert(out.contains(("B", "org:top_members/employees", "P Q")))
  }

  test("C2 y_then_noisy_or: merged bags gated by per-relation thresholds") {
    import graft.model.{NER, Provenance, SlotFill}
    val prov = Provenance("d", "u", 0, 0, 1, 2, 3)
    def f(pred: String, score: Double) =
      SlotFill("A", NER.PERSON, pred, "x", NER.TITLE, score, prov)
    val fills = Seq(f("per:title", 0.4), f("per:title", 0.4), // noisy-or .64
      f("per:religion", 0.55)).toDS()
    val out = graft.extract.BagAgg.yThenNoisyOr(spark, fills,
      thresholds = Map("per:religion" -> 0.9)).collect()
    // title's merged 0.64 crosses the default 0.5; religion's 0.55 is
    // below its per-relation 0.9 cutoff
    assert(out.map(_.pred).toSeq == Seq("per:title"))
    assert(math.abs(out.head.score - (1 - 0.6 * 0.6)) < 1e-9)
  }

  test("SRP bucket bits scale with corpus size (log n)") {
    import graft.dedup.NearDup.autoBits
    assert(autoBits(500) == 8)          // sf scale: floor
    assert(autoBits(1000000) >= 14)     // 10^6 vectors
    assert(autoBits(1000000000L) >= 23) // 10^9 vectors: ~16M buckets
    // clamp: a 10^12-vector corpus wants 34 bits, but the bucket id is a
    // signed int — unclamped, 1 << 34 would silently collide buckets
    assert(autoBits(1000000000000L) == 31)
    assert(autoBits(Long.MaxValue) == 31)
  }

  test("dup spans: cross-doc and self-repeat grams count, short docs NULL") {
    val d = Seq(
      (0L, "a b c d"),               // grams "a b c","b c d"; first is shared
      (1L, "a b c x"),               // grams "a b c","b c x"
      (2L, "z z"),                   // < n tokens: no grams at all
      (3L, "p q r p q r p q")        // every gram a self-repeat
    ).toDF("doc_id", "text")
    val got = graft.dedup.NearDup.dupSpans(spark, d, n = 3).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        Option(r.get(3)), r.getBoolean(4))).toMap
    assert(got(0L) == ((2L, 1L, Some(0.5), true)))   // flagAt 0.5 inclusive
    assert(got(1L) == ((2L, 1L, Some(0.5), true)))
    assert(got(2L) == ((0L, 0L, None, false)))
    assert(got(3L) == ((6L, 6L, Some(1.0), true)))
  }

  test("trainer weights round-trip through parquet") {
    import org.apache.spark.ml.linalg.Vectors
    val w = Map("per:title" -> Vectors.sparse(8, Seq((1, 0.5), (3, -0.2))))
    val dir = java.nio.file.Files.createTempDirectory("graft-w").toString + "/w"
    graft.train.Trainer.saveWeights(spark, w, dir)
    val back = graft.train.Trainer.loadWeights(spark, dir)
    assert(back("per:title") == Map(1 -> 0.5, 3 -> -0.2))
  }
}
