package graft.link

import org.apache.spark.sql.{Column, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{NER, SlotFill}
import graft.nlp.Coref

/**
 * Entity linking & canonicalization (the EntityMergingPostProcessor, G2 —
 * evaluate/GraphConsistencyPostProcessors.java:51-129; pairwise match
 * semantics from entitylinking/EntityLinker.java:80-175 "GaborsHackyBaseline":
 * acronym + token-overlap).
 *
 * Scale design (the skew-sensitive step per SURVEY.md §2.9):
 *  - NO all-pairs compare: names are exploded to BLOCKING KEYS (normalized
 *    token string, acronym key, surname key); only names sharing a key are
 *    compared.
 *  - within a block, GREEDY clustering against accumulated representatives
 *    (block sorted deterministically) — O(n·reps), not O(n²). HOT blocks
 *    (shared by > MaxBlock distinct names) are NOT dropped: the greedy pass
 *    runs with a capped representative scan (O(n·MaxRepScan) — linear), so
 *    the hottest names still link; only the long tail of a degenerate block
 *    degrades to identity, a bounded-recall salting of the hot key rather
 *    than a silent hole.
 *  - cross-block agreement via UNION-FIND on the collected alias pairs.
 *    The pair set is exactly what the downstream broadcast join ships to
 *    every executor anyway (north_star: "broadcast-joined alias
 *    dictionaries"), so folding it on the driver adds no new memory
 *    ceiling — and it reaches the exact transitive fixpoint (no bounded
 *    propagation-round assumption), replacing 2 join+aggregate rounds
 *    (~6 exchanges) with zero. Above [[MaxDriverAliasPairs]] pairs the
 *    components come from GraphOps.connectedComponentsStar under the same
 *    gate; both paths share one union-find, [[GraphOps.unionFindMin]]
 *    (the star finishes with it when its distinct edges fit the gate).
 */
object Linker {

  /** Block size beyond which the block is salted by a finer key; also the
   *  representative-list cap inside one greedy pass (bounds the pass to
   *  O(n·MaxBlock) — linear in block size). */
  val MaxBlock = 256

  private val corpSuffixes = Set("inc", "inc.", "corp", "corp.", "co",
    "co.", "ltd", "ltd.", "llc", "corporation", "company")

  /** Deterministic stable entity id from (type, canonical name) — codegen'd
   *  column expression, no UDF. */
  def idCol(name: Column, tpe: Column): Column =
    concat(lit("e:"), lower(substring(tpe, 1, 3)), lit(":"),
      md5(concat(tpe, lit("|"), name)))

  def normalizeName(n: String): String =
    n.split(" ").filterNot(t => corpSuffixes.contains(t.toLowerCase))
      .mkString(" ").toLowerCase.trim

  /** Blocking keys for a (name, type). */
  def blockKeys(name: String, tpe: String): Seq[String] = {
    val toks = name.split(" ").toSeq
    val norm = normalizeName(name)
    val keys = Seq.newBuilder[String]
    if (norm.nonEmpty) keys += s"n:$tpe:$norm"
    // acronym key: ABC and "Acme Business Corp" share key a:ORG:abc
    if (toks.length == 1 && name.forall(c => !c.isLower) && name.length >= 2
        && name.count(_.isLetter) >= 2)
      keys += s"a:$tpe:${name.filter(_.isLetter).toLowerCase}"
    else if (toks.length >= 2) {
      val initials = toks.filter(t => t.nonEmpty && t.charAt(0).isUpper)
        .map(_.charAt(0).toLower).mkString
      if (initials.length >= 2) keys += s"a:$tpe:$initials"
    }
    // surname key for persons ("John Smith" ~ "Smith")
    if (tpe == NER.PERSON && toks.nonEmpty)
      keys += s"s:$tpe:${toks.last.toLowerCase.stripSuffix(".")}"
    keys.result()
  }

  /** Pairwise same-entity test (exact-normalized | acronym | token subset
   *  with approximate token match). */
  def sameEntity(a: String, b: String): Boolean = {
    if (normalizeName(a) == normalizeName(b)) return true
    val ta = a.split(" ").toSeq
    val tb = b.split(" ").toSeq
    if (Coref.isAcronymOf(a, tb) || Coref.isAcronymOf(b, ta)) return true
    val (small, large) = if (ta.length <= tb.length) (ta, tb) else (tb, ta)
    small.nonEmpty && large.nonEmpty && small.length < large.length &&
      small.forall(s => large.exists(l => Coref.approxTokenMatch(s, l)))
  }

  /** Deterministic representative preference: maximal surface form first
   *  (longest, then lexicographic) — representatives are maximal surface
   *  forms, matching the reference's priority-merge. */
  private val repOrdering: Ordering[String] =
    Ordering.by((n: String) => (-n.length, n))

  /** Per-block greedy alias pairs (name -> in-block representative). Only
   *  NON-IDENTITY pairs are emitted: a name with no row is its own
   *  canonical form, keeping the collected pair set proportional to the
   *  number of actual aliases, not the entity universe. */
  def aliasPairs(spark: SparkSession, fills: Dataset[SlotFill])
      : Dataset[(String, String)] = {
    import spark.implicits._
    // distinct names first: a hot entity appearing in 10^6 fills must send
    // ONE row per partition into the key shuffle (map-side combine), not
    // 10^6 duplicates into its block. Column ops up to the distinct: the
    // name projection reads 2 columns out of the (columnar) fills cache
    // and stays in codegen — a typed flatMap here deserialized every
    // SlotFill (nested Provenance included) just to emit two strings,
    // which was the stage's measured cost at 1.2M pages.
    val df = fills.toDF()
    val names = df.select($"subj".as("_1"), $"subj_type".as("_2"))
      .unionAll(df
        .filter($"obj_type".isin(NER.PERSON, NER.ORGANIZATION))
        .select($"obj".as("_1"), $"obj_type".as("_2")))
      .distinct()
      .as[(String, String)]
    names.flatMap { case (n, t) =>
      blockKeys(n, t).map(k => (k, n))
    }.groupByKey(_._1).flatMapGroups { (key, it) =>
      // deterministic order: longest first (representatives are maximal
      // surface forms), then lexicographic
      val members = it.map(_._2).toVector.distinct.sorted(repOrdering)
      if (key.startsWith("n:")) {
        // normalized-name block: every member shares the same normalized
        // form, so all are the same entity by definition — alias the rest
        // to the maximal surface form, no pairwise pass at all
        if (members.length <= 1) Iterator.empty
        else members.iterator.drop(1).map(m => (m, members.head))
      } else if (members.length <= MaxBlock) greedy(members)
      else {
        // HOT block (the "united states" problem): salt by the finer key —
        // first normalized token — and cluster each sub-block
        // independently. The hottest surface forms still link (aliases of
        // one entity overwhelmingly share their leading token); only
        // cross-sub-block links inside a degenerate key are lost — bounded
        // recall cost instead of the quadratic pass or a silent drop.
        members.groupBy(m => normalizeName(m).takeWhile(_ != ' '))
          .toSeq.sortBy(_._1)
          .iterator.flatMap { case (_, ms) => greedy(ms) }
      }
    }
  }

  /** Precomputed per-member match state: the greedy pass compares members
   *  O(n·MaxBlock) times, so the per-name parsing (split / normalize /
   *  initials) must happen ONCE per member, not once per comparison —
   *  this was the linker's scaling bottleneck at 300k pages. */
  private final case class Member(name: String, norm: String, nToks: Int,
                                  normToks: Array[String],
                                  normTokSet: Set[String],
                                  initials: String, isAcr: Boolean)

  private def normTok(s: String): String = {
    val l = s.toLowerCase.stripSuffix(".")
    if (l.endsWith("es")) l.dropRight(2)
    else if (l.endsWith("s")) l.dropRight(1)
    else l
  }

  private def member(name: String): Member = {
    val toks = name.split(" ")
    val nts = toks.map(normTok)
    val caps = toks.filter(t => t.nonEmpty && t.charAt(0).isUpper)
    Member(name, normalizeName(name), toks.length, nts, nts.toSet,
      caps.map(_.charAt(0).toLower).mkString,
      toks.length == 1 && name.forall(c => !c.isLower) &&
        name.count(_.isLetter) >= 2)
  }

  /** Member-level same-entity test: exact-normalized | acronym-to-initials
   *  | strict approximate-token containment — sameEntity's semantics on
   *  the precomputed forms (approxTokenMatch ≡ normalized-token equality). */
  private def sameMember(a: Member, b: Member): Boolean = {
    if (a.norm == b.norm) return true
    if (a.isAcr && a.name.filter(_.isLetter).toLowerCase == b.initials &&
        b.initials.length >= 2) return true
    if (b.isAcr && b.name.filter(_.isLetter).toLowerCase == a.initials &&
        a.initials.length >= 2) return true
    val (s, l) = if (a.nToks <= b.nToks) (a, b) else (b, a)
    s.nToks > 0 && s.nToks < l.nToks && s.normToks.forall(l.normTokSet)
  }

  /** In-block greedy clustering against accumulated representatives;
   *  emits only non-identity (name -> representative) pairs. The rep list
   *  is capped at MaxBlock so one pass is O(n·MaxBlock) worst case. */
  private def greedy(memberNames: Seq[String]): Iterator[(String, String)] = {
    val reps = scala.collection.mutable.ArrayBuffer[Member]()
    memberNames.iterator.map(member).flatMap { n =>
      reps.find(r => sameMember(r, n)) match {
        case Some(r) => Some((n.name, r.name))
        case None =>
          if (reps.length < MaxBlock) reps += n
          None // identity: no row needed
      }
    }
  }

  /** Last run's alias-dictionary size (driver-side telemetry for the
   *  metrics table's link-resolution rate; set by buildAliasMap /
   *  canonicalize). */
  @volatile var lastAliasCount: Long = 0L
  /** Raw alias-pair count of the last run (telemetry). */
  @volatile var lastPairCount: Long = 0L
  /** Whether the last run took the distributed (connected-components)
   *  linking path instead of the driver union-find (telemetry). */
  @volatile var lastDistributed: Boolean = false

  /** Alias-pair count above which canonicalize abandons the driver
   *  union-find + broadcast rewrite for distributed connected components +
   *  a shuffle-join rewrite. At 100-TB entity universes the NON-IDENTITY
   *  pair set itself grows with the corpus (10^8+ rows): both the driver
   *  collect and the executor-side broadcast hash map become memory
   *  ceilings, so the path must be size-adaptive, not fixed. The same
   *  gate sends GraphOps.connectedComponentsStar to its rounds above this
   *  many distinct edges, and SuffixOps.suffixRanks / longestRepeats to
   *  their doubling rounds above this many code-point positions (both
   *  measured with graft.StarGateBench). var so specs can force the
   *  distributed paths on small fixtures. */
  @volatile var MaxDriverAliasPairs: Long = 1000000L

  /** name -> canonical name, exact transitive fixpoint via union-find over
   *  the collected alias pairs; representative per component = maximal
   *  surface form (order-independent, so deterministic under any
   *  partitioning of the collect). Driver-side path, guarded by the SAME
   *  [[MaxDriverAliasPairs]] gate as canonicalize (count before collect):
   *  above the gate this helper refuses rather than OOM the driver —
   *  use [[canonicalize]], whose distributed path has no such ceiling. */
  def buildAliasMap(spark: SparkSession, fills: Dataset[SlotFill])
      : Map[String, String] = {
    val pairsDs = aliasPairs(spark, fills).persist()
    try {
      val nPairs = pairsDs.count()
      require(nPairs <= MaxDriverAliasPairs,
        s"buildAliasMap is the driver-side path: $nPairs alias pairs " +
          s"exceed MaxDriverAliasPairs=$MaxDriverAliasPairs; use " +
          "canonicalize, which switches to distributed connected " +
          "components above the gate")
      lastAliasCount = 0L
      if (nPairs == 0L) Map.empty
      else driverAliasMap(pairsDs.collect())
    } finally pairsDs.unpersist()
  }

  /** Union-find fold over an in-memory pair set (exact fixpoint) through
   *  [[GraphOps.unionFindMin]]: each name maps to the minimum of its
   *  component under repOrdering, the maximal surface form. */
  private def driverAliasMap(pairs: Array[(String, String)])
      : Map[String, String] = {
    val out = GraphOps.unionFindMin(pairs.iterator, repOrdering).iterator
      .filter(p => p._1 != p._2).toMap
    lastAliasCount = out.size.toLong
    out
  }

  /** Caches retained by the last canonicalize call. canonicalize's result
   *  is LAZY, so its persisted inputs (`fills` always; the distributed
   *  path's alias table) cannot be dropped inside the call — they would
   *  be recomputed on first consumption. Callers materialize the result,
   *  then call release() (KGPipeline.run's cache clear and Bench.kgRun
   *  already cover the product paths; bare library callers own the call). */
  @volatile private var retained: List[org.apache.spark.sql.Dataset[_]] = Nil

  /** Drop the caches the last canonicalize call retained (safe to call
   *  any time after its result is materialized; idempotent — and safe
   *  across SparkSession recycling: a dataset whose owning context has
   *  already stopped has no cache left to drop, and unpersisting it
   *  through the dead BlockManagerMaster would NPE). */
  def release(): Unit = {
    retained.foreach { ds =>
      if (!ds.sparkSession.sparkContext.isStopped) ds.unpersist()
    }
    retained = Nil
  }

  private def retain(ds: org.apache.spark.sql.Dataset[_]): Unit =
    retained = ds :: retained

  /** Rewrite subj/obj to canonical representatives. SIZE-ADAPTIVE
   *  (north_star: "broadcast-joined alias dictionaries" for the common
   *  case; GraphConsistencyPostProcessors.java:51-129 semantics at any
   *  size): when the alias-pair set is broadcast-safe
   *  (<= MaxDriverAliasPairs) the exact transitive fixpoint is folded on
   *  the driver and the rewrite joins are broadcast; above it, components
   *  come from GraphOps.connectedComponentsStar over the pair table (the
   *  large/small-star alternation reaches the same fixpoint in O(log n)
   *  rounds) and the rewrite is a shuffle join — no driver or
   *  single-executor memory ceiling. */
  def canonicalize(spark: SparkSession, fillsIn: Dataset[SlotFill])
      : Dataset[SlotFill] = {
    import spark.implicits._
    // consumed twice (alias-map build + rewrite join): persist to cut the
    // upstream (NLP -> bags) to a single computation; tracked in `retained`
    // for the caller's release() (the result is lazy — see release's doc).
    release() // drop any previous call's leftovers first
    val fills = fillsIn.persist()
    retain(fills)
    // pairs are consumed twice on the driver path (count + collect) and
    // twice on the distributed path (CC + count) — persist, drop after
    val pairsDs = aliasPairs(spark, fills).persist()
    // guide §1.5: this action computes the whole upstream (NLP -> bags)
    // into the fills cache plus the blocked alias-candidate pass — name
    // it so stage listings attribute the cost correctly
    val nPairs = graft.ops.Fixpoint.labeled(spark.sparkContext,
      "linker: alias pairs (+fills cache)")(pairsDs.count())
    lastPairCount = nPairs
    lastDistributed = nPairs > MaxDriverAliasPairs
    // nothing to rewrite: skip the joins (the common case on a corpus whose
    // mentions were already coref-normalized upstream)
    if (nPairs == 0L) {
      pairsDs.unpersist()
      lastAliasCount = 0L
      return fills
    }
    val aliases: org.apache.spark.sql.DataFrame =
      if (!lastDistributed) {
        val aliasMap = driverAliasMap(pairsDs.collect())
        pairsDs.unpersist()
        lastAliasCount = aliasMap.size.toLong
        if (aliasMap.isEmpty) return fills
        spark.createDataset(aliasMap.toSeq.sortBy(_._1))
          .toDF("name", "canon")
      } else {
        // distributed fixpoint: CC over the (undirected) pair graph, then
        // component representative = maximal surface form — the same
        // min-under-repOrdering choice as the driver fold, expressed as
        // min(struct(-length, name)) so it is a plain hash aggregate.
        // Large-star/small-star, not min-label propagation: alias chains
        // have no diameter guarantee at web scale, and the alternation
        // converges in O(log n) rounds on any shape (GraphOps scaladoc)
        val comps = GraphOps.connectedComponentsStar(spark,
          pairsDs.toDF("src", "dst"))
        val rep = comps.groupBy($"comp")
          .agg(min(struct((-length($"v")).as("nl"), $"v".as("n")))
            .getField("n").as("canon"))
        val al = comps.join(rep, Seq("comp"))
          .filter($"v" =!= $"canon")
          .select($"v".as("name"), $"canon")
          .persist()
        retain(al) // consumed by BOTH rewrite joins below; release() drops it
        lastAliasCount = al.count() // materializes al
        comps.unpersist() // CC's final labels cache — al no longer needs it
        pairsDs.unpersist()
        al
      }
    // broadcast hint only on the driver path; the distributed path's alias
    // table can exceed executor memory, so those joins must stay shuffled
    def hinted(df: org.apache.spark.sql.DataFrame) =
      if (lastDistributed) df else broadcast(df)
    val f = fills.toDF()
    val withSubj = f.join(hinted(aliases.withColumnRenamed("name", "subj")
        .withColumnRenamed("canon", "subj_canon")), Seq("subj"), "left")
    val withObj = withSubj.join(hinted(aliases
        .withColumnRenamed("name", "obj")
        .withColumnRenamed("canon", "obj_canon")), Seq("obj"), "left")
    withObj.select(
      coalesce($"subj_canon", $"subj").as("subj"),
      $"subj_type",
      $"pred",
      coalesce($"obj_canon", $"obj").as("obj"),
      $"obj_type",
      $"score",
      $"prov").as[SlotFill]
  }
}
