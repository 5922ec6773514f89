package graft.classify

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.immutable.IntMap
import graft.ops.Fixpoint

/**
 * C2 MIML-RE: the z/y latent-variable EM trainer of the reference's
 * flagship model (classify/JointBayesRelationExtractor.java:432-745),
 * re-expressed as iterative DataFrame jobs.
 *
 * Shape (MIML-RE, Surdeanu et al. EMNLP 2012):
 *  - a BAG = one (entity, slot) pair with its sentence-level feature
 *    vectors and distant-supervision labels Y (positive relations);
 *  - z_i = latent per-sentence relation label (incl. _NR);
 *  - z classifier = multinomial LR over hashed sentence features
 *    (the reference's LinearClassifier, trained per fold — here ONE
 *    spark.ml fit per epoch, data-parallel over the corpus);
 *  - y classifiers = per-relation binary LR over bag-level features of
 *    the z assignment: {atleast_once, proportion} (the reference's
 *    y-feature set, Props train.jointbayes.yfeatures);
 *  - E-step: per bag, a greedy conditional pass picks each z_i to
 *    maximize log p(z_i|x_i) + log p(Y_bag | z with z_i substituted)
 *    (inferZLabelsStable, :900-1000) — embarrassingly parallel per bag
 *    (mapGroups), model weights broadcast with the closure;
 *  - M-step: refit z on the inferred labels, refit each y on the
 *    bag-level z-count features.
 *
 * Initialization is the reference's local model (every sentence of a
 * positive bag takes the bag's first label — initializeZClassifierLocally,
 * :747-800): `train(epochs = 0)` returns exactly that, so specs can show
 * EM's improvement over local-only training. Default epochs follow the
 * toy scale (2), not the reference's 8x3-fold production config.
 */
object MimlEm {

  val NilLabel = "_NR"

  /** One sentence (mention) of a bag: sparse string features. */
  final case class MimlSentence(bag_id: Long, features: Seq[String])
  /** Distant-supervision bag labels (empty = negative bag). */
  final case class MimlBag(bag_id: Long, pos_labels: Seq[String])
  /** Joined working row (public: Catalyst's generated deserializer needs a
   *  publicly constructible class). */
  final case class BagRow(bag_id: Long, pos_labels: Seq[String],
                          sents: Seq[Seq[String]])

  /** Frozen model: z = per-label hashed-LR (HashingTF murmur3 space of
   *  `numFeatures` — defaults to extract.Scorer's shared 2^18),
   *  y = per-relation (intercept, w_atleastonce, w_prop). */
  final case class Model(rels: Seq[String],
                         zIntercepts: Map[String, Double],
                         zWeights: Map[String, IntMap[Double]],
                         yWeights: Map[String, (Double, Double, Double)],
                         numFeatures: Int) {

    @transient private lazy val hasher =
      new org.apache.spark.ml.feature.HashingTF().setNumFeatures(numFeatures)

    /** Hash features in THIS model's space (must match fitZ's HashingTF). */
    def hash(features: Seq[String]): Array[Int] = {
      val out = new Array[Int](features.length)
      var i = 0
      features.foreach { f => out(i) = hasher.indexOf(f); i += 1 }
      out
    }

    def zArgmax(features: Seq[String]): String =
      zLogProbs(hash(features)).maxBy(p => (p._2, p._1))._1

    def zLogProbs(hashed: Array[Int]): Map[String, Double] = {
      val scores = zWeights.map { case (l, w) =>
        var s = zIntercepts(l)
        var i = 0
        while (i < hashed.length) { s += w.getOrElse(hashed(i), 0.0); i += 1 }
        l -> s
      }
      val mx = scores.values.max
      val lse = mx + math.log(scores.values.map(s => math.exp(s - mx)).sum)
      scores.map { case (l, s) => l -> (s - lse) }
    }

    /** p(y_r = 1 | z-count features of a bag). */
    def yProb(rel: String, zs: Seq[String]): Double = {
      val (b, wAlo, wProp) = yWeights(rel)
      val c = zs.count(_ == rel)
      val alo = if (c >= 1) 1.0 else 0.0
      val prop = if (zs.isEmpty) 0.0 else c.toDouble / zs.length
      1.0 / (1.0 + math.exp(-(b + wAlo * alo + wProp * prop)))
    }

    /** Bag-level prediction: infer z per sentence (argmax z-classifier),
     *  then per-relation y probability over the z counts. */
    def predictBag(sentFeatures: Seq[Seq[String]]): Map[String, Double] = {
      val zs = sentFeatures.map(zArgmax)
      rels.map(r => r -> yProb(r, zs)).toMap
    }
  }

  private def bagRows(spark: SparkSession, sents: Dataset[MimlSentence],
                      bags: Dataset[MimlBag]): Dataset[BagRow] = {
    import spark.implicits._
    sents.toDF().groupBy($"bag_id")
      .agg(collect_list($"features").as("sents"))
      .join(bags.toDF(), Seq("bag_id"))
      .select($"bag_id", $"pos_labels", $"sents").as[BagRow]
  }

  /** M-step z: multinomial LR over hashed features (one distributed fit). */
  private def fitZ(spark: SparkSession, rows: Dataset[(Seq[String], String)],
                   zLabels: Seq[String], numFeatures: Int)
      : (Map[String, Double], Map[String, IntMap[Double]]) = {
    import spark.implicits._
    import org.apache.spark.ml.feature.HashingTF
    import org.apache.spark.ml.classification.LogisticRegression
    import org.apache.spark.ml.attribute.NominalAttribute
    val idx = zLabels.zipWithIndex.toMap
    val df = rows.toDF("features", "z")
      .withColumn("y", udf((z: String) => idx(z).toDouble).apply($"z"))
      // pin numClasses via label metadata: without it spark.ml infers the
      // class count from the max label VALUE present, so a fit whose input
      // never contains the last z label (possible under local init or
      // after an E-step) would return a smaller coefficientMatrix and the
      // interceptVector(l) indexing below would throw
      .withColumn("y", col("y").as("y",
        NominalAttribute.defaultAttr.withName("y")
          .withNumValues(zLabels.length).toMetadata()))
    val tf = new HashingTF().setInputCol("features").setOutputCol("fv")
      .setNumFeatures(numFeatures)
    val lr = new LogisticRegression().setFeaturesCol("fv").setLabelCol("y")
      .setFamily("multinomial").setRegParam(1e-4).setMaxIter(50)
    val m = lr.fit(tf.transform(df))
    val ws = Array.fill(zLabels.length)(Map.newBuilder[Int, Double])
    m.coefficientMatrix.foreachActive { (l, j, v) =>
      if (v != 0.0) ws(l) += (j -> v)
    }
    (zLabels.indices.map(l => zLabels(l) -> m.interceptVector(l)).toMap,
      zLabels.indices.map(l =>
        zLabels(l) -> IntMap(ws(l).result().toSeq: _*)).toMap)
  }

  /** M-step y: per-relation binary LR over (atleast_once, proportion).
   *  The feature space is 2-dimensional, so the scale-correct shape is ONE
   *  distributed aggregation to a per-relation contingency table
   *  (rel, y, alo, prop) -> count — tiny no matter how many bags — and a
   *  deterministic driver-side weighted fit per relation. (Per-relation
   *  spark.ml fits would be 41 full jobs per epoch for data that
   *  aggregates to a few dozen rows.) */
  private def fitY(spark: SparkSession,
                   rows: Dataset[(Seq[String], Seq[String])], // (posLabels, zs)
                   rels: Seq[String]): Map[String, (Double, Double, Double)] = {
    import spark.implicits._
    val stats = rows.flatMap { case (pos, zs) =>
      rels.map { r =>
        val c = zs.count(_ == r)
        (r,
          if (pos.contains(r)) 1.0 else 0.0,
          if (c >= 1) 1.0 else 0.0,
          if (zs.isEmpty) 0.0
          else math.rint(c.toDouble / zs.length * 1000) / 1000)
      }
    }.toDF("rel", "y", "alo", "prop")
      .groupBy($"rel", $"y", $"alo", $"prop").count().collect()
    val byRel = stats.groupBy(_.getString(0))
    rels.map { r =>
      val table = byRel.getOrElse(r, Array.empty).map(row =>
        (row.getDouble(1), row.getDouble(2), row.getDouble(3),
          row.getLong(4)))
      r -> fitBinaryLR(table)
    }.toMap
  }

  /** Weighted 2-feature logistic regression by full-batch gradient descent
   *  over the contingency table (deterministic, L2 1e-4). */
  private def fitBinaryLR(table: Array[(Double, Double, Double, Long)])
      : (Double, Double, Double) = {
    var b = 0.0; var w1 = 0.0; var w2 = 0.0
    val lrate = 0.5
    val reg = 1e-4
    val n = math.max(1.0, table.map(_._4).sum.toDouble)
    var it = 0
    while (it < 2000) {
      var gb = 0.0; var g1 = 0.0; var g2 = 0.0
      table.foreach { case (y, alo, prop, cnt) =>
        val p = 1.0 / (1.0 + math.exp(-(b + w1 * alo + w2 * prop)))
        val d = (p - y) * cnt
        gb += d; g1 += d * alo; g2 += d * prop
      }
      b -= lrate * (gb / n)
      w1 -= lrate * (g1 / n + reg * w1)
      w2 -= lrate * (g2 / n + reg * w2)
      it += 1
    }
    (b, w1, w2)
  }

  /** Local init z-labels (initializeZClassifierLocally): every sentence of
   *  a positive bag takes the bag's FIRST (sorted) label; negative-bag
   *  sentences are _NR. */
  private def localZ(rows: Dataset[BagRow]): Dataset[(Seq[String], Seq[String])] = {
    import rows.sparkSession.implicits._
    rows.map { b =>
      val z = b.pos_labels.sorted.headOption.getOrElse(NilLabel)
      (b.pos_labels, b.sents.map(_ => z))
    }
  }

  /** Greedy conditional z inference for ONE bag under the given model
   *  (inferZLabelsStable): init from the z classifier alone, then one
   *  greedy pass maximizing log p(z_i|x_i) + log p(Y_bag | z-with-z_i). */
  def inferBag(model: Model, posLabels: Seq[String],
               sents: Seq[Seq[String]]): Seq[String] = {
    val zLabels = (model.rels :+ NilLabel).distinct.sorted
    val hashed = sents.map(f => model.hash(f))
    val zs = hashed.map(h =>
      model.zLogProbs(h).maxBy(p => (p._2, p._1))._1).toArray
    var i = 0
    while (i < zs.length) {
      val logPz = model.zLogProbs(hashed(i))
      val bestLabel = zLabels.map { cand =>
        val saved = zs(i)
        zs(i) = cand
        val yLL = model.rels.iterator.map { r =>
          val p = model.yProb(r, zs.toSeq)
          val eps = 1e-12
          if (posLabels.contains(r)) math.log(math.max(p, eps))
          else math.log(math.max(1.0 - p, eps))
        }.sum
        zs(i) = saved
        (logPz(cand) + yLL, cand)
      }.maxBy(s => (s._1, s._2))._2
      zs(i) = bestLabel
      i += 1
    }
    zs.toSeq
  }

  /** E-step over a bag set: embarrassingly parallel per bag (map), model
   *  weights broadcast with the closure. */
  private def eStep(rows: Dataset[BagRow], model: Model)
      : Dataset[(Seq[String], Seq[Seq[String]], Seq[String])] = {
    import rows.sparkSession.implicits._
    rows.map(b => (b.pos_labels, b.sents, inferBag(model, b.pos_labels, b.sents)))
  }

  /** One bag with its CURRENT z assignment (fold-EM working state). */
  final case class AssignedBag(bag_id: Long, pos_labels: Seq[String],
                               sents: Seq[Seq[String]], zs: Seq[String])

  /** Min et al. 2013 incomplete-KB relabeling ("Distant Supervision for
   *  Relation Extraction with an Incomplete Knowledge Base", the
   *  guessYLabels extension, JointBayesRelationExtractor.java:548-660):
   *  each epoch restores the ORIGINAL KB labels, scores every
   *  (bag, non-positive relation) pair by its y probability under the
   *  current model (z inferred by the classifier alone, exactly
   *  computeYLogProbs), and promotes the GLOBAL top
   *  (theta·nBags·nRels − nPositive) pairs to positives for this epoch
   *  only — the reference's BoundedPriorityQueue becomes a distributed
   *  orderBy+limit (TakeOrdered — never a full sort at scale). Unpromoted
   *  unknowns count as negatives, which is already inferBag's treatment
   *  of non-positive labels.
   *
   *  `modelFor` selects the scoring model per bag: the shared-z path
   *  passes the one model; the fold path passes each bag's OWN fold
   *  classifier — exactly the reference's zSingleClassifier-null branch
   *  (`computeYLogProbs(zClassifiers[fold], group, ...)`,
   *  JointBayesRelationExtractor.java:623-637). */
  private def promoteUnknowns(spark: SparkSession, rows: Dataset[BagRow],
                              modelFor: Long => Model, rels: Seq[String],
                              theta: Double, nBags: Long, nPos: Long)
      : Dataset[BagRow] = {
    import spark.implicits._
    val k = (theta * nBags * rels.size).toInt - nPos.toInt
    if (k <= 0) return rows // target already reached — no relabeling
    val mf = modelFor
    val top = rows.flatMap { b =>
        val m = mf(b.bag_id)
        val zs = b.sents.map(s => m.zArgmax(s))
        rels.filterNot(b.pos_labels.contains)
          .map(r => (b.bag_id, r, m.yProb(r, zs)))
      }.toDF("bag_id", "rel", "p")
      .orderBy(desc("p"), asc("bag_id"), asc("rel")) // deterministic ties
      .limit(k)
      .groupBy($"bag_id").agg(collect_list($"rel").as("promoted"))
    rows.toDF().join(top, Seq("bag_id"), "left")
      .select($"bag_id",
        when($"promoted".isNull, $"pos_labels")
          .otherwise(array_sort(array_union($"pos_labels", $"promoted")))
          .as("pos_labels"),
        $"sents")
      .as[BagRow]
  }

  /** Full trainer. epochs = 0 returns the LOCAL model (init only) — the
   *  baseline EM must beat.
   *
   *  folds > 1 is the reference's cross-validated EM structure
   *  (JointBayesRelationExtractor.java:663-745): bags are partitioned
   *  into K folds (bag_id % K), and fold f's E-step uses a z classifier
   *  trained on the OTHER folds' current assignments — each bag's z
   *  inference never consults a classifier that memorized its own
   *  sentences, which is what keeps the E-step from locking in the
   *  init's mistakes. After the last epoch a single z classifier is
   *  refit on all inferred labels (the reference's final inference
   *  model). folds = 1 keeps the shared-z toy shape.
   *
   *  unlabeledTheta enables the Min et al. 2013 semi-supervised
   *  relabeling (promoteUnknowns above) from epoch 1 on, on BOTH paths
   *  (its Props.TRAIN_UNLABELED default is off, like this parameter):
   *  the shared-z path scores unknowns with the one model (the
   *  reference's zSingleClassifier branch), the fold path with each
   *  bag's own fold classifier from the previous epoch's sweep
   *  (JointBayesRelationExtractor.java:623-637) — original KB labels
   *  restored each epoch, promotions never accumulate. */
  def train(spark: SparkSession, sents: Dataset[MimlSentence],
            bags: Dataset[MimlBag], rels: Seq[String], epochs: Int = 2,
            numFeatures: Int = graft.train.Trainer.NumFeatures,
            folds: Int = 1,
            unlabeledTheta: Option[Double] = None): Model = {
    import spark.implicits._
    val rows = bagRows(spark, sents, bags).persist()
    val zLabels = (rels :+ NilLabel).distinct.sorted
    // ---- local init
    val init = localZ(rows).persist()
    var model = {
      val zr = rows.map(b =>
        (b.sents, b.pos_labels.sorted.headOption.getOrElse(NilLabel)))
        .flatMap { case (ss, z) => ss.map(f => (f, z)) }
      val (zi, zw) = fitZ(spark, zr, zLabels, numFeatures)
      val yw = fitY(spark, init, rels)
      Model(rels, zi, zw, yw, numFeatures)
    }
    init.unpersist()
    // ---- EM epochs
    if (folds <= 1) {
      // original-label counts for the relabeling target (restored each
      // epoch — promotions never accumulate across epochs)
      lazy val nBags = rows.count()
      lazy val nPos = rows.map(_.pos_labels.size.toLong)
        .reduce(_ + _)
      var e = 0
      while (e < epochs) {
        val rowsE = unlabeledTheta match {
          case Some(theta) if e > 0 =>
            val m = model
            promoteUnknowns(spark, rows, _ => m, rels, theta, nBags, nPos)
          case _ => rows
        }
        val inferred = eStep(rowsE, model).persist()
        val zr = inferred.flatMap { case (_, ss, zs) => ss.zip(zs) }
        val (zi, zw) = fitZ(spark, zr, zLabels, numFeatures)
        val yw = fitY(spark,
          inferred.map { case (pos, _, zs) => (pos, zs) }, rels)
        model = Model(rels, zi, zw, yw, numFeatures)
        inferred.unpersist()
        e += 1
      }
      rows.unpersist()
      model
    } else {
      // per-fold z weights kept across epochs (the reference's
      // zClassifiers[] array) — the incomplete-KB relabeling scores each
      // bag with its own fold's classifier from the previous sweep
      val foldZ = new Array[(Map[String, Double], Map[String, IntMap[Double]])](folds)
      lazy val nBags = rows.count()
      lazy val nPos = rows.map(_.pos_labels.size.toLong).reduce(_ + _)
      // one round per (epoch, fold) E-step; state: (per-bag current
      // assignment, init = local; bags whose z changed so far this epoch)
      val out = Fixpoint.run(spark, "mimlEm", epochs * folds) { r =>
        val init = rows.map { b =>
          val z = b.pos_labels.sorted.headOption.getOrElse(NilLabel)
          AssignedBag(b.bag_id, b.pos_labels, b.sents, b.sents.map(_ => z))
        }
        ((r.cache(init.toDF()).as[AssignedBag], 0L), false)
      } { case ((prev, changedBefore), r) =>
        val e = r.index / folds
        val f = r.index % folds
        val cur = unlabeledTheta match {
          case Some(theta) if e > 0 && f == 0 =>
            // restore ORIGINAL KB labels, then promote the global top-k
            // unknowns scored by each bag's own fold classifier (with the
            // CURRENT y weights — the y update ran after last sweep)
            val yw = model.yWeights
            val fm = foldZ.toSeq.map { case (zi, zw) =>
              Model(rels, zi, zw, yw, numFeatures) }
            val relabeled = promoteUnknowns(spark, rows,
              id => fm((id % folds).toInt), rels, theta, nBags, nPos)
            r.scratch(prev.toDF().drop("pos_labels")
              .join(relabeled.toDF().select($"bag_id", $"pos_labels"), "bag_id")
              .select($"bag_id", $"pos_labels", $"sents", $"zs"))
              .as[AssignedBag]
          case _ => prev
        }
        // fold-f z classifier: fit on the OTHER folds' assignments
        val zr = cur.filter(_.bag_id % folds != f)
          .flatMap(b => b.sents.zip(b.zs))
        val (zi, zw) = fitZ(spark, zr, zLabels, numFeatures)
        foldZ(f) = (zi, zw)
        val foldModel = Model(rels, zi, zw, model.yWeights, numFeatures)
        // E-step for fold f only; other folds' assignments unchanged.
        // Each bag is re-inferred once per epoch, so the epoch changed a
        // bag's z iff its fold's step did: counting the flagged bags is
        // the round's one action
        val stepped = r.cache(cur.map { b =>
          if (b.bag_id % folds != f) (b, false)
          else {
            val zs = inferBag(foldModel, b.pos_labels, b.sents)
            (b.copy(zs = zs), zs != b.zs)
          }
        }.toDF("bag", "changed"))
        val changed = changedBefore + Fixpoint.count(stepped.where($"changed"))
        val next = stepped.select($"bag.*").as[AssignedBag]
        if (f < folds - 1) ((next, changed), false)
        else {
          // M-step y on ALL bags' fresh assignments (per-epoch, like the
          // reference's y update after its fold sweep)
          val yw = fitY(spark, next.map(b => (b.pos_labels, b.zs)), rels)
          model = model.copy(yWeights = yw)
          // EM fixpoint — the reference's own early stop
          // ("Stopping training. Did not find any changes in the Z
          // labels!", JointBayesRelationExtractor.java:699-703,
          // zUpdatesInOneEpoch == 0): a full epoch that changed no bag's z
          // assignment cannot change any later epoch either (the z/y fits
          // and the relabeling are deterministic functions of the
          // assignments). Lets the production epoch count (8, Props
          // train.jointbayes.epochs) be configured honestly: the trainer
          // runs until the reference's budget OR the fixpoint, whichever
          // comes first. A zero-change epoch 0 must NOT stop a relabeling
          // run: the relabeling only fires from epoch 1, so the fixpoint
          // is only genuine once an epoch has run WITH it
          ((next, 0L), changed == 0L && (unlabeledTheta.isEmpty || e > 0))
        }
      } { case ((cur, _), _) =>
        // final single z classifier over all inferred labels — the
        // inference-time model (fold classifiers exist only to keep
        // training honest)
        val zr = cur.flatMap(b => b.sents.zip(b.zs))
        val (zi, zw) = fitZ(spark, zr, zLabels, numFeatures)
        Model(rels, zi, zw, model.yWeights, numFeatures)
      }
      rows.unpersist()
      out
    }
  }

  /** Freeze to the Trainer TSV format: a `__meta__` header row carrying
   *  the hash-space size, then z labels as rows (label, idx, w) with idx
   *  -1 = intercept; y classifiers under "y:<rel>" with idx 0 = intercept,
   *  1 = w_atleastonce, 2 = w_proportion. */
  def saveTsv(model: Model, path: String): Unit = {
    val lines = s"__meta__\tnumFeatures\t${model.numFeatures}" +:
      (model.zWeights.toSeq.sortBy(_._1).flatMap { case (l, w) =>
        (s"$l\t-1\t${model.zIntercepts(l)}" +:
          w.toSeq.sortBy(_._1).map { case (i, v) => s"$l\t$i\t$v" })
      } ++
      model.yWeights.toSeq.sortBy(_._1).flatMap { case (r, (b, w1, w2)) =>
        Seq(s"y:$r\t0\t$b", s"y:$r\t1\t$w1", s"y:$r\t2\t$w2")
      })
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(p, lines.mkString("\n").getBytes("UTF-8"))
  }

  /** Inverse of saveTsv (the loader the frozen resource was missing). */
  def loadTsv(in: java.io.InputStream): Model = {
    var numFeatures = 1 << 16 // MimlFreeze's hashed z space (pre-meta files)
    val zi = scala.collection.mutable.HashMap[String, Double]()
    val zw = scala.collection.mutable.HashMap[String,
      scala.collection.mutable.ArrayBuffer[(Int, Double)]]()
    val yw = scala.collection.mutable.HashMap[String,
      scala.collection.mutable.HashMap[Int, Double]]()
    scala.io.Source.fromInputStream(in, "UTF-8").getLines().foreach { ln =>
      val parts = ln.split('\t')
      if (parts.length == 3) parts(0) match {
        case "__meta__" if parts(1) == "numFeatures" =>
          numFeatures = parts(2).toInt
        case l if l.startsWith("y:") =>
          yw.getOrElseUpdate(l.substring(2),
            scala.collection.mutable.HashMap[Int, Double]())
            .update(parts(1).toInt, parts(2).toDouble)
        case l =>
          val i = parts(1).toInt
          if (i == -1) zi(l) = parts(2).toDouble
          else zw.getOrElseUpdate(l,
            scala.collection.mutable.ArrayBuffer[(Int, Double)]())
            .append((i, parts(2).toDouble))
      }
    }
    val rels = yw.keys.toSeq.sorted
    Model(rels,
      zi.toMap,
      zi.keys.map(l => l -> IntMap(zw.getOrElse(l,
        scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]).toSeq: _*))
        .toMap,
      rels.map(r => r -> {
        val m = yw(r)
        (m.getOrElse(0, 0.0), m.getOrElse(1, 0.0), m.getOrElse(2, 0.0))
      }).toMap,
      numFeatures)
  }

  /** The shipped trained MIML model (classpath resource written by
   *  graft.tools.MimlFreeze), loaded once per JVM — the inference twin of
   *  extract.Scorer.frozen for the one-vs-all LR. */
  lazy val frozen: Option[Model] =
    Option(getClass.getResourceAsStream("/graft/miml_z_weights.tsv"))
      .map(loadTsv)

  /** MIML inference over candidate mentions (the consumer that makes the
   *  frozen model reachable end-to-end): bags = (subj, subj_type, obj,
   *  obj_type) mention groups; per bag infer z per sentence (argmax z
   *  classifier), then per-relation y probability over the z counts
   *  (JointBayesRelationExtractor.classifyMentions + y inference,
   *  classify/JointBayesRelationExtractor.java:1989-2110). Relations are
   *  type-gated like the LR path; provenance = the first (lowest doc/sent/
   *  offset) mention whose inferred z matches the relation, else the
   *  bag's first mention. One groupByKey shuffle on the pair key — the
   *  model rides the closure (broadcast), never shuffled. */
  def classifyBags(spark: SparkSession,
                   cands: Dataset[graft.model.Candidate],
                   model: Model, threshold: Double = 0.5)
      : Dataset[graft.model.SlotFill] = {
    import spark.implicits._
    import graft.model.{Provenance, Relations, SlotFill}
    cands.groupByKey(c => (c.subj, c.subj_type, c.obj, c.obj_type))
      .flatMapGroups { (key, it) =>
        val (subj, st, obj, ot) = key
        val ms = it.toVector.sortBy(c =>
          (c.doc_id, c.url, c.sent_idx, c.ent_b, c.slot_b))
        val zs = ms.map(c => model.zArgmax(c.features))
        def prov(rel: String): Provenance = {
          val c = zs.indexOf(rel) match {
            case -1 => ms.head
            case i => ms(i)
          }
          Provenance(c.doc_id, c.url, c.sent_idx, c.ent_b, c.ent_e,
            c.slot_b, c.slot_e)
        }
        Relations.all.iterator
          .filter(m => m.entityType == st && m.validSlotTypes.contains(ot))
          .filter(m => model.yWeights.contains(m.name))
          .map(m => m.name -> model.yProb(m.name, zs))
          .filter(_._2 >= threshold)
          .map { case (rel, p) =>
            SlotFill(subj, st, rel, obj, ot, p, prov(rel))
          }
      }
  }
}
