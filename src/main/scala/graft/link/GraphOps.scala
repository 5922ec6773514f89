package graft.link

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession, classic}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.GraftSqlShim
import org.apache.spark.sql.types.{StructField, StructType}
import graft.model.{SlotFill, Triple}
import graft.ops.Fixpoint

/**
 * Graph operators over the triples/edge table (SURVEY.md §2.9):
 *  - G1 edge merge by noisy-or (in KGPipeline.triples)
 *  - G3 transitive completion (TransitiveRelationPostProcessor)
 *  - G4 symmetric expansion (in KGPipeline.symmetricExpand)
 *  - G6 connected components (min-label propagation)
 * The in-memory DirectedMultiGraph of the reference
 * (nlp/graph/DirectedMultiGraph.java) is NOT ported: the edge table IS the
 * graph; every op is a bounded sequence of joins.
 */
object GraphOps {

  /** Relations the reference treats as transitive (subsidiary/parent
   *  chains, member chains). */
  val transitivePreds = Set("org:subsidiaries", "org:parents",
    "org:member_of")

  /** G3: bounded transitive completion — depth-limited iterative self-join
   *  (test.graph.inference.depth = 3 in the reference's base.conf). New
   *  edges score = product of the path's scores (noisy chain). `fresh` is
   *  anti-joined against the closure, so a closure that did not grow is
   *  the fixpoint. */
  def transitiveClosure(spark: SparkSession, edges: DataFrame,
                        preds: Set[String] = transitivePreds,
                        depth: Int = 3): DataFrame = {
    import spark.implicits._
    val base = edges.filter($"pred".isin(preds.toSeq: _*))
      .select($"subj", $"pred", $"obj", $"score").distinct()
    // state: (closure, frontier, closure row count)
    Fixpoint.run(spark, "transitiveClosure", depth - 1) { _ =>
      ((base, base, Fixpoint.count(base)), false)
    } { case ((acc, frontier, accCount), r) =>
      val next = frontier.as("a")
        .join(base.as("b"),
          $"a.obj" === $"b.subj" && $"a.pred" === $"b.pred" &&
            $"a.subj" =!= $"b.obj")
        .select($"a.subj".as("subj"), $"a.pred".as("pred"),
          $"b.obj".as("obj"), ($"a.score" * $"b.score").as("score"))
        .distinct()
      val fresh = r.cache(next.join(acc.select($"subj", $"pred", $"obj"),
        Seq("subj", "pred", "obj"), "left_anti"))
      val grown = r.cache(acc.unionByName(fresh))
      val n = Fixpoint.count(grown)
      ((grown, fresh, n), n == accCount)
    } { case ((acc, _, _), _) => acc }
  }

  /** G6: connected components over an undirected edge list
   *  (src, dst) -> (vertex, component) with component = min vertex id
   *  reachable; min-label propagation (large-scale CC pattern), iterated
   *  TO CONVERGENCE. `maxIter` is a safety valve, not the stopping rule:
   *  propagation needs ~diameter rounds, and a silently-truncated run
   *  would hand the linker a NON-fixpoint labeling (one entity's surface
   *  forms canonicalizing to different representatives with no warning) —
   *  so hitting the cap without convergence FAILS LOUDLY instead of
   *  returning. The default cap covers any plausible alias-graph diameter
   *  (chains longer than 50 hops mean corrupt input, not a real entity). */
  def connectedComponents(spark: SparkSession, edges: DataFrame,
                          maxIter: Int = 50): DataFrame = {
    import spark.implicits._
    Fixpoint.run(spark, "connectedComponents", maxIter, Some(
      s"connectedComponents did not converge within $maxIter rounds " +
        "(labels still changing) — the labeling is NOT a fixpoint and " +
        "using it would silently split entities; raise maxIter or " +
        "inspect the alias graph for a pathological chain")) { r =>
      val und = r.hold(edges.select($"src", $"dst")
        .union(edges.select($"dst".as("src"), $"src".as("dst")))
        .distinct())
      ((und, und.select($"src".as("v")).distinct().withColumn("comp", $"v")),
        false)
    } { case ((und, labels), r) =>
      val next = r.cache(
        und.join(labels.withColumnRenamed("v", "dst")
          .withColumnRenamed("comp", "ncomp"), Seq("dst"))
        .groupBy($"src".as("v")).agg(min($"ncomp").as("minNbr"))
        .join(labels, Seq("v"))
        .select($"v", least($"comp", $"minNbr").as("comp")))
      val diff = Fixpoint.count(
        next.join(labels.withColumnRenamed("comp", "old"), Seq("v"))
          .filter($"comp" =!= $"old"))
      ((und, next), diff == 0L)
    } { case ((_, labels), _) => labels }
  }

  /** G6 at web scale: connected components via ALTERNATING
   *  large-star/small-star (Kiveris et al., "Connected Components in
   *  MapReduce and Beyond", SoCC 2014 — a public algorithm, not reference
   *  code). Where min-label propagation needs ~diameter rounds, the
   *  alternation contracts paths aggressively and converges in O(log n)
   *  rounds on ANY graph shape — the right choice for the distributed
   *  linking path, whose alias chains have no diameter guarantee (the
   *  min-label variant above fails loudly past its cap; this one makes the
   *  cap unreachable for any input that fits a cluster).
   *
   *  SIZE-ADAPTIVE, like the linker: setup orients each (src, dst) edge
   *  as (larger, smaller), deduplicates once and counts. At most
   *  [[Linker.MaxDriverAliasPairs]] distinct edges (the linker's gate;
   *  specs set it to 0 to force the rounds) are collected and folded by
   *  [[unionFindMin]] on the driver under Spark's ordering of the vertex
   *  type (UTF-8 byte order for strings); the labels come back through
   *  `GraftSqlShim.driverFrame`, an RDD scan that is NOT cached (there is
   *  nothing to release). Above the gate the rounds run:
   *
   *  Invariant: the working edge set is kept oriented u > v and distinct.
   *   - large-star: every neighbor LARGER than u links to
   *     m = min(N(u) ∪ {u}) — new edges (bigger, m) keep the orientation.
   *   - small-star: per u, all (smaller-or-equal) neighbors AND u itself
   *     link to m = min neighbor.
   *  Fixpoint = the edge set is unchanged by a round; it is then a star
   *  forest (v, root-of-component) and labels read off directly; that
   *  result is persisted and owned by the caller. Both paths return the
   *  same rows, with connectedComponents' schema: (v, comp) for EVERY
   *  vertex of the input, comp = min vertex id of its component (a null
   *  endpoint labels itself null and joins no component). */
  def connectedComponentsStar(spark: SparkSession, edges: DataFrame,
                              maxIter: Int = 30): DataFrame = {
    import spark.implicits._
    // state: the oriented distinct edges, then — above the gate only —
    // (all vertices, working edge set, a bound on its row count)
    Fixpoint.run(spark, "connectedComponentsStar", maxIter, Some(
      s"connectedComponentsStar did not converge within $maxIter " +
        "alternation rounds — O(log n) convergence makes this " +
        "unreachable for any real input; inspect the edge table")) { r =>
      // a null endpoint compares to nothing, so its row keeps its order
      val swap = $"src" < $"dst"
      val x = r.hold(edges.select(
        when(swap, $"dst").otherwise($"src").as("src"),
        when(swap, $"src").otherwise($"dst").as("dst")).distinct())
      val n = Fixpoint.count(x)
      if (n <= Linker.MaxDriverAliasPairs) ((x, None), true)
      else {
        // full vertex set up front: self-loop-only and isolated-in-filtered
        // vertices must still get a (v, v) label
        val verts = r.hold(x.select($"src".as("v"))
          .union(x.select($"dst".as("v"))).distinct())
        // already oriented and distinct: dropping self-loops and null
        // rows leaves at most n edges. The round's test needs next == e
        // as sets, and next ⊆ e with |next| == n >= |e| proves it, so a
        // loop-free star forest converges in round 0
        val e = x.filter($"src" =!= $"dst").select($"src".as("u"), $"dst".as("v"))
        ((x, Some((verts, e, n))), false)
      }
    } { case ((x, rounds), r) =>
      val (verts, e, eCount) = rounds.get // rounds run only above the gate
      // large-star over the symmetric view
      val sym = e.union(e.select($"v".as("u"), $"u".as("v")))
      val mL = sym.groupBy($"u").agg(least(min($"v"), $"u").as("m"))
      val large = r.scratch(sym.join(mL, "u").filter($"v" > $"u")
        .select($"v".as("u"), $"m".as("v"))
        .filter($"u" =!= $"v").distinct())
      // small-star over the (still u > v oriented) large output
      val mS = large.groupBy($"u").agg(min($"v").as("m"))
      val next = r.cache(large.join(mS, "u")
        .select(explode(array(
          struct($"v".as("a"), $"m".as("b")),
          struct($"u".as("a"), $"m".as("b")))).as("p"))
        .select($"p.a".as("x"), $"p.b".as("y"))
        .filter($"x" =!= $"y")
        .select(greatest($"x", $"y").as("u"), least($"x", $"y").as("v"))
        .distinct())
      // fixpoint test: next == e as sets (both distinct) — equal counts
      // plus an empty one-way anti-join. The anti-join job only runs once
      // the counts agree (&& short-circuits it away on every non-final
      // round: the loop is job-count-bound at small scale)
      val nextCount = Fixpoint.count(next)
      ((x, Some((verts, next, nextCount))), nextCount == eCount &&
        Fixpoint.count(next.join(e, Seq("u", "v"), "left_anti")) == 0L)
    } {
      case ((x, None), _) => driverComponents(spark, x)
      case ((_, Some((verts, e, _))), r) =>
        // star forest -> labels; group defensively (a star root is unique
        // per non-root vertex at the fixpoint, min() is a no-op then)
        val nonRoot = e.groupBy($"u".as("v")).agg(min($"v").as("comp"))
        val labels = r.cache(verts.join(nonRoot, Seq("v"), "left")
          .select($"v", coalesce($"comp", $"v").as("comp")))
        Fixpoint.count(labels)
        labels
    }
  }

  /** connectedComponentsStar's driver path over the distinct (src, dst)
   *  edges `x` (both columns of one type): one job collects them,
   *  [[unionFindMin]] folds them under Spark's ordering of the vertex
   *  type, and the (v, comp) labels come back as a driver frame. A
   *  self-loop registers its vertex; a null endpoint labels itself null
   *  and links nothing, as in the rounds. */
  private def driverComponents(spark: SparkSession, x: DataFrame): DataFrame = {
    val t = x.schema.head.dataType
    val rows = x.asInstanceOf[classic.Dataset[_]].queryExecution.executedPlan
      .executeCollect()
    val pairs = rows.iterator.flatMap { row =>
      val (a, b) = (row.get(0, t), row.get(1, t))
      if (a == null || b == null) Iterator((a, a), (b, b)) else Iterator((a, b))
    }
    val labels = unionFindMin(pairs, TypeUtils.getInterpretedOrdering(t))
    GraftSqlShim.driverFrame(spark,
      StructType(Seq(StructField("v", t), StructField("comp", t))),
      labels.iterator.map { case (v, c) => InternalRow(v, c) })
  }

  /** Union-find over in-memory pairs: every vertex of `pairs` -> the
   *  minimum under `ord` of its component; a pair (a, a) only registers
   *  a. A union keeps the smaller root, so each root is its component's
   *  minimum, and finds compress their paths. The one union-find of the
   *  codebase: connectedComponentsStar's driver path and the linker's
   *  driver alias map both fold through it. */
  def unionFindMin[T](pairs: Iterator[(T, T)], ord: Ordering[T])
      : collection.Map[T, T] = {
    val parent = scala.collection.mutable.HashMap.empty[T, T]
    def find(v: T): T = {
      var root = v
      while (parent(root) != root) root = parent(root)
      var c = v
      while (c != root) { val next = parent(c); parent(c) = root; c = next }
      root
    }
    pairs.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a); parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ord.lt(ra, rb)) parent(rb) = ra else parent(ra) = rb }
    }
    // compress every path: the parent map is then the label map
    parent.keys.toVector.foreach(find)
    parent
  }

  /** Per-node triangle counts + degrees over an undirected simple graph
   *  (edges as (src, dst) in either direction; self-loops and duplicate /
   *  reversed edges collapse). Returns one row per vertex:
   *  (node, degree, triangles).
   *
   *  Scale shape: wedges are enumerated with the DEGREE ORIENTATION
   *  (node-iterator++ / Schank & Wagner 2005, public algorithm): each
   *  undirected edge is directed from its lower-(degree, id) endpoint to
   *  the higher one, and wedges are built only from a node's OUT-edges.
   *  Every triangle is found exactly once, the wedge count is bounded by
   *  O(m^1.5) on any graph, and a 10^8-degree hub never pairs its own
   *  neighbors — its edges all point INTO it. The closing-edge check is a
   *  semi-join against the canonical (a<b) edge set; all joins are keyed
   *  equi-joins, nothing is all-pairs. */
  def triangleCounts(spark: SparkSession, edges0: DataFrame): DataFrame = {
    import spark.implicits._
    val src = edges0.columns(0); val dst = edges0.columns(1)
    val und = edges0
      .select(least(col(src), col(dst)).as("a"),
        greatest(col(src), col(dst)).as("b"))
      .filter($"a" =!= $"b").distinct()
    val deg = und.select($"a".as("v")).union(und.select($"b".as("v")))
      .groupBy($"v").agg(count(lit(1)).as("deg"))
    val dir = und
      .join(deg.select($"v".as("a"), $"deg".as("_da")), "a")
      .join(deg.select($"v".as("b"), $"deg".as("_db")), "b")
      .select(
        when($"_da" < $"_db" || ($"_da" === $"_db" && $"a" < $"b"), $"a")
          .otherwise($"b").as("u"),
        when($"_da" < $"_db" || ($"_da" === $"_db" && $"a" < $"b"), $"b")
          .otherwise($"a").as("w"))
    val wedges = dir.select($"u", $"w".as("x"))
      .join(dir.select($"u", $"w".as("y")), "u")
      .filter($"x" < $"y")
    val tris = wedges
      .join(und.select($"a".as("x"), $"b".as("y")), Seq("x", "y"), "left_semi")
    val perNode = tris.select(explode(array($"u", $"x", $"y")).as("v"))
      .groupBy($"v").agg(count(lit(1)).as("triangles"))
    deg.join(perNode, Seq("v"), "left")
      .select($"v".as("node"), $"deg".as("degree"),
        coalesce($"triangles", lit(0L)).as("triangles"))
  }

  /** Fixed-point integer PageRank over a directed edge table — the crawl-
   *  prioritization / entity-authority signal (Page et al. 1999, public
   *  algorithm). Ranks are kept as exact BIGINT fixed-point values
   *  (`scale` units = rank 1.0) and every step is integer arithmetic with
   *  floor division, so the result is bit-identical on any engine that
   *  restates the same recurrence — float summation order can never flip
   *  a rank. Per iteration, each node sends floor(dampNum * r / (dampDen *
   *  outdeg)) along each out-edge and every node restarts from
   *  floor(scale * (dampDen - dampNum) / dampDen); dangling mass is
   *  dropped (the standard simplified variant — ranks are relative
   *  priorities here, not a probability simplex).
   *
   *  Scale shape: one groupBy per iteration over the edge table keyed by
   *  dst (map-side combinable BIGINT sum) + a broadcast-or-shuffle join of
   *  the current rank vector onto src; iterations are a fixed small count
   *  (crawl frontiers use 2-5). The rank vector is one row per vertex —
   *  never wider than the graph, no per-key sort anywhere. Long headroom:
   *  total mass ≤ |V|·scale and every intermediate is ≤ mass·dampNum, so
   *  pick scale with |V|·scale·dampNum < 2^63 (the 10^12 default is sized
   *  for ~10^5 vertices; a 10^9-vertex graph uses scale=10^8). */
  def pageRank(spark: SparkSession, edges0: DataFrame, iters: Int = 3,
               dampNum: Long = 85L, dampDen: Long = 100L,
               scale: Long = 1000000000000L): DataFrame = {
    import spark.implicits._
    val src = edges0.columns(0); val dst = edges0.columns(1)
    val edges = edges0.select(col(src).as("src"), col(dst).as("dst"))
      .filter($"src" =!= $"dst").distinct()
    val verts = edges.select($"src".as("v"))
      .union(edges.select($"dst".as("v"))).distinct()
    val outdeg = edges.groupBy($"src").agg(count(lit(1)).as("outdeg"))
    val base = scale * (dampDen - dampNum) / dampDen
    var rank = verts.select($"v", lit(scale).as("rank"))
    for (_ <- 1 to iters) {
      val contrib = edges
        .join(rank.select($"v".as("src"), $"rank"), "src")
        .join(outdeg, "src")
        // integer floor division: both operands nonnegative, so Spark's
        // truncating `div` and an oracle's floor division agree
        .select($"dst".as("v"),
          expr(s"(rank * ${dampNum}L) div (outdeg * ${dampDen}L)").as("c"))
        .groupBy($"v").agg(sum($"c").as("in_mass"))
      rank = verts.join(contrib, Seq("v"), "left")
        .select($"v", (lit(base) + coalesce($"in_mass", lit(0L))).as("rank"))
    }
    rank.select($"v".as("node"), $"rank")
  }

  /** k-core peeling with a FIXED round count (the link-graph quality
   *  signal behind "drop weakly-connected crawl fringe"): each round
   *  removes every vertex whose CURRENT degree in the surviving subgraph
   *  is below k, together with its edges. The true k-core is this
   *  process's fixpoint; a fixed round budget is how you'd run it at
   *  10^12 edges anyway (bounded passes, convergence read off the
   *  metrics), and it keeps the recurrence restatable as chained CTEs —
   *  the same oracle device as pageRank. All counts BIGINT.
   *
   *  Per round: one map-side-combinable degree count + two semi-joins
   *  keyed on the endpoints — never an all-pairs step; a hub's removal
   *  is one filter, not a neighbor enumeration. Returns one row per
   *  ORIGINAL vertex: (node, deg0, deg_final, in_core) where deg_final
   *  is its degree among round-`rounds` survivors (0 if peeled) and
   *  in_core says it survived every round. Self-loops and duplicate /
   *  reversed edges collapse first. */
  def kCore(spark: SparkSession, edges0: DataFrame, k: Int = 3,
            rounds: Int = 3): DataFrame = {
    import spark.implicits._
    require(k >= 1 && rounds >= 1)
    val src = edges0.columns(0); val dst = edges0.columns(1)
    val und0 = edges0
      .select(least(col(src), col(dst)).as("a"),
        greatest(col(src), col(dst)).as("b"))
      .filter($"a" =!= $"b").distinct()
    def degrees(e: DataFrame): DataFrame =
      e.select($"a".as("v")).union(e.select($"b".as("v")))
        .groupBy($"v").agg(count(lit(1)).as("deg"))
    val deg0 = degrees(und0)
    // each round references the previous round's edges three times
    // (degree count + two semi-joins), so without a plan barrier the
    // Catalyst tree grows 3^rounds — the same planner blowup the
    // connected-components rounds hit; cut it once per round
    var edges = GraftSqlShim.planBarrier(und0)
    var survivors = deg0.select($"v")
    for (_ <- 1 to rounds) {
      val keep = degrees(edges).filter($"deg" >= k).select($"v")
      edges = GraftSqlShim.planBarrier(edges
        .join(keep.select($"v".as("a")), Seq("a"), "left_semi")
        .join(keep.select($"v".as("b")), Seq("b"), "left_semi"))
      survivors = keep
    }
    val degF = degrees(edges)
    deg0.select($"v", $"deg".as("deg0"))
      .join(degF.select($"v", $"deg".as("_df")), Seq("v"), "left")
      .join(survivors.select($"v", lit(true).as("_s")), Seq("v"), "left")
      .select($"v".as("node"), $"deg0",
        coalesce($"_df", lit(0L)).as("deg_final"),
        coalesce($"_s", lit(false)).as("in_core"))
  }

  /**
   * BFS layers from a seed set (crawl depth: how many hops each url sits
   * from the seed list — the frontier scheduler's distance feature, and
   * the link-graph twin of the closure/CC family). Returns (node, depth)
   * with the MINIMUM hop count ≤ `maxDepth`; unreachable nodes are
   * absent. Directed edges (src, dst).
   *
   * Per round: join the frontier against the edge table (frontier keyed,
   * shrinks as the graph saturates), anti-join the known set so each node
   * is labeled at its FIRST (minimal) depth, stop early when the
   * frontier empties. The rounds cache their tables through [[Fixpoint]];
   * the returned table is not cached.
   * Known/frontier tables carry (node, depth) only — never neighbor
   * lists, so a 10^4-out-degree hub costs one join row per edge, and the
   * per-round shuffle is bounded by the frontier, not the graph.
   */
  def bfsDepth(spark: SparkSession, edges: DataFrame, seeds: DataFrame,
               maxDepth: Int): DataFrame = {
    import spark.implicits._
    val src = edges.columns(0); val dst = edges.columns(1)
    val e = edges.select(col(src).as("src"), col(dst).as("dst"))
    // state: (known, frontier)
    Fixpoint.run(spark, "bfsDepth", maxDepth) { r =>
      val known = r.cache(seeds.select(col(seeds.columns.head).as("node"))
        .distinct().withColumn("depth", lit(0L)))
      ((known, known), false)
    } { case ((known, frontier), r) =>
      val d = r.index + 1L
      val next = r.cache(
        e.join(frontier.select($"node".as("src")), Seq("src"), "left_semi")
          .select($"dst".as("node")).distinct()
          .join(known, Seq("node"), "left_anti")
          .withColumn("depth", lit(d)))
      val grown = r.cache(known.unionByName(next))
      // the round's one action: scanning the grown table materializes
      // both caches and counts this depth's new nodes
      val added = Fixpoint.count(grown.where($"depth" === d))
      ((grown, next), added == 0L)
    } { case ((known, _), _) =>
      // a projection, not the cache itself: the caller owns no cache
      known.select($"node", $"depth")
    }
  }

  /** C10 within-sentence competition (process/RelationFilter.java:23-160,
   *  PerRelTypeCompetitionFilterComponent): keep only the best-scoring
   *  pair per (sentence, relation) — opt-in, off by default in the
   *  reference (Props.java:289-290). */
  def relationFilter(spark: SparkSession, fills: Dataset[SlotFill]): Dataset[SlotFill] = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"prov.doc_id", $"prov.sent_idx", $"pred")
      .orderBy($"score".desc, $"obj", $"subj")
    fills.toDF().withColumn("_rn", row_number().over(w))
      .filter($"_rn" === 1).drop("_rn").as[SlotFill]
  }

  /**
   * Pairwise clustering quality (the standard entity-resolution metric
   * for a linker's output vs a gold clustering): precision / recall / F1
   * over ITEM PAIRS, computed from contingency-cell counts — never by
   * enumerating pairs, which is quadratic in cluster size and intractable
   * the moment one cluster is hot.
   *
   * Input: (id, pred_cluster, gold_cluster) one row per item. A pair is a
   * true positive when both items share a pred cluster AND a gold
   * cluster, so tp = Σ_cells C(n,2) over the (pred, gold) contingency
   * cells, predicted pairs = Σ_pred-clusters C(n,2), gold pairs likewise
   * — three map-side-combinable counts (the largest keyed by the cell,
   * i.e. at most min(|pred|,|gold|) per key), one output row. n·(n−1) is
   * always even, so `div 2` stays in exact long arithmetic; P/R/F1 are
   * single IEEE divisions of exact longs, rounded to 12 like every
   * score-bearing output.
   */
  def clusterPairMetrics(assignments: DataFrame): DataFrame = {
    def pairSum(grouped: org.apache.spark.sql.RelationalGroupedDataset) =
      grouped
        .agg(count(lit(1)).as("n"))
        .agg(coalesce(sum(expr("(n * (n - 1)) div 2")), lit(0L)))
    val tp = pairSum(assignments.groupBy(col("pred_cluster"),
      col("gold_cluster"))).toDF("tp_pairs")
    val pp = pairSum(assignments.groupBy(col("pred_cluster"))).toDF("pred_pairs")
    val gp = pairSum(assignments.groupBy(col("gold_cluster"))).toDF("gold_pairs")
    tp.crossJoin(pp).crossJoin(gp)
      .withColumn("precision",
        when(col("pred_pairs") === 0, lit(0.0))
          .otherwise(round(col("tp_pairs") / col("pred_pairs"), 12)))
      .withColumn("recall",
        when(col("gold_pairs") === 0, lit(0.0))
          .otherwise(round(col("tp_pairs") / col("gold_pairs"), 12)))
      .withColumn("f1",
        when(col("precision") + col("recall") === 0, lit(0.0))
          .otherwise(round(lit(2) * col("precision") * col("recall") /
            (col("precision") + col("recall")), 12)))
  }
}
