package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import graft.link.{GraphOps, Linker}
import graft.model.NER
import graft.text.SuffixOps

/** The round lifecycle of the iterative operators, pinned from outside:
 *  they leave the caller's job label alone, release every cache but the
 *  returned table's, and run a bounded number of Spark jobs. */
class FixpointSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  private def sc = spark.sparkContext
  import spark.implicits._

  private def docs = Seq((0L, "the cat sat on the mat"),
    (1L, "the cat sat on the hat"), (2L, "a man a plan a canal"),
    (3L, "banana bandana")).toDF("doc_id", "text")

  /** About 200 characters each, with a 73-character period and two
   *  equal docs: from the 16-code-point seed, prefix doubling runs 4
   *  rounds (to 256). */
  private def longDocs = {
    val s = "the quick brown fox jumps over the lazy dog while the cat sat on the mat "
    Seq((0L, (s * 3).take(200)), (1L, (s * 3).take(200)),
      (2L, ("a " + s * 3).take(200))).toDF("doc_id", "text")
  }

  /** A 24-hop chain, a triangle and a self-loop. */
  private def ccEdges = ((0 until 24).map(i => (f"v$i%02d", f"v${i + 1}%02d")) ++
    Seq(("p", "q"), ("q", "r"), ("r", "p"), ("z", "z"))).toDF("src", "dst")

  private def persisted: Set[Int] = sc.getPersistentRDDs.keySet.toSet

  /** Runs `f`, then checks that at most one new cache survives it and
   *  that releasing the returned table (if any) leaves none. */
  private def assertOnlyResultCached(what: String)(f: => Option[DataFrame]): Unit = {
    val before = persisted
    val out = f
    val left = persisted -- before
    assert(left.size <= 1, s"$what left ${left.size} caches: $left")
    out.foreach(_.unpersist(blocking = true))
    assert((persisted -- before).isEmpty,
      s"$what left caches beyond its result: ${persisted -- before}")
  }

  test("iterative operators restore the caller's job description and group") {
    val prov = graft.model.Provenance("d", "u", 0, 0, 1, 2, 3)
    def fill(subj: String) = graft.model.SlotFill(subj, NER.PERSON,
      "per:title", "engineer", NER.TITLE, 0.9, prov)
    val fills = Seq(fill("John Smith"), fill("John R. Smith")).toDS()
    val calls: Seq[(String, () => Any)] = Seq(
      "suffixRanks" -> (() => SuffixOps.suffixRanks(spark, docs).unpersist()),
      "suffixRanks (rounds)" -> (() => DriverGate.closed(
        SuffixOps.suffixRanks(spark, docs).unpersist())),
      "longestRepeats" -> (() => SuffixOps.longestRepeats(spark, docs).collect()),
      "connectedComponentsStar" ->
        (() => GraphOps.connectedComponentsStar(spark, ccEdges).unpersist()),
      "connectedComponentsStar (rounds)" -> (() => DriverGate.closed(
        GraphOps.connectedComponentsStar(spark, ccEdges).unpersist())),
      "canonicalize" -> { () => Linker.canonicalize(spark, fills); Linker.release() })
    try {
      sc.setJobGroup("caller-group", "caller: traced op")
      calls.foreach { case (name, call) =>
        call()
        assert(sc.getLocalProperty("spark.job.description") == "caller: traced op",
          s"$name replaced the caller's job description")
        assert(sc.getLocalProperty("spark.jobGroup.id") == "caller-group",
          s"$name replaced the caller's job group")
      }
    } finally sc.clearJobGroup()
  }

  test("transitiveClosure at its depth cap keeps only the closure cached") {
    val chain = Seq(("A", "B"), ("B", "C"), ("C", "D"))
      .map { case (s, o) => (s, "org:subsidiaries", o, 0.9) }
      .toDF("subj", "pred", "obj", "score")
    assertOnlyResultCached("transitiveClosure") {
      val closed = GraphOps.transitiveClosure(spark, chain, depth = 3)
      assert(closed.count() == 6L) // 3 edges + A->C, B->D, A->D
      Some(closed)
    }
  }

  test("connectedComponents past maxIter throws and releases its caches") {
    assertOnlyResultCached("connectedComponents") {
      val e = intercept[IllegalStateException] {
        GraphOps.connectedComponents(spark, ccEdges, maxIter = 3)
      }
      assert(e.getMessage.contains("did not converge"))
      None
    }
  }

  test("suffixRanks and connectedComponentsStar keep only their result cached") {
    val positions = docs.as[(Long, String)].collect().map(_._2.length.toLong).sum
    assertOnlyResultCached("suffixRanks (rounds)") {
      val ranks = DriverGate.closed(SuffixOps.suffixRanks(spark, docs))
      assert(ranks.count() == positions)
      Some(ranks)
    }
    val before = persisted
    assert(SuffixOps.suffixRanks(spark, docs).count() == positions)
    assert(persisted == before, "suffixRanks' driver path cached something")
    assertOnlyResultCached("connectedComponentsStar") {
      val comps = GraphOps.connectedComponentsStar(spark, ccEdges)
      assert(comps.count() == 29L)
      Some(comps)
    }
    assertOnlyResultCached("connectedComponentsStar (rounds)") {
      val comps = DriverGate.closed(GraphOps.connectedComponentsStar(spark, ccEdges))
      assert(comps.count() == 29L)
      Some(comps)
    }
  }

  /** Descriptions of the Spark jobs `f` starts, picked out by job group. */
  private def jobsOf(f: => Any): Seq[String] = {
    val group = s"fixpoint-jobs-${System.nanoTime}"
    val started = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).foreach(p => started.add(
          (p.getProperty("spark.jobGroup.id"), p.getProperty("spark.job.description"))))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "fixpoint job count")
      try f finally sc.clearJobGroup()
      // a marker job: once the listener has seen it, it has seen every
      // job the call started (one bus, events in submission order)
      val marker = s"$group-marker"
      sc.setJobGroup(marker, "marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      def seen = started.toArray(Array.empty[(String, String)]).toSeq
      val deadline = System.nanoTime + 30000000000L
      while (!seen.exists(_._1 == marker) && System.nanoTime < deadline)
        Thread.sleep(10)
      assert(seen.exists(_._1 == marker), "listener never saw the marker job")
      seen.filter(_._1 == group).map(_._2)
    } finally sc.removeSparkListener(listener)
  }

  test("suffixRanks and connectedComponentsStar run one action per round") {
    val (suffixJobs, long, starJobs) = DriverGate.closed((
      jobsOf(SuffixOps.suffixRanks(spark, docs).unpersist()).size,
      jobsOf(SuffixOps.suffixRanks(spark, longDocs).unpersist()),
      jobsOf(GraphOps.connectedComponentsStar(spark, ccEdges).unpersist()).size))
    val driverJobs = jobsOf(GraphOps.connectedComponentsStar(spark, ccEdges).unpersist())
    val suffixDriver = jobsOf(SuffixOps.suffixRanks(spark, longDocs).collect())
    val repeatsDriver = jobsOf(SuffixOps.longestRepeats(spark, longDocs).collect())
    info(s"suffixRanks: $suffixJobs jobs, on ~200-char docs ${long.size}, " +
      s"connectedComponentsStar: $starJobs jobs in rounds, " +
      s"${driverJobs.size} on the driver path; on the driver path, " +
      s"suffixRanks + collect: ${suffixDriver.size}, " +
      s"longestRepeats + collect: ${repeatsDriver.size}")
    // measured with a count + a collect per doubling round and a
    // localCheckpoint'ed result: 52 jobs (5 rounds of 8). One action per
    // round, counted over the cached rows: 36. Seeded from 16-code-point
    // prefixes (one round on these <= 22-char docs), the partner rank
    // from a window and packed ranks: 9.
    assert(suffixJobs <= 9, s"suffixRanks ran $suffixJobs jobs")
    // (unchanged by counting cached tables off their batches: the rounds
    // read their caches through partCounts' collect, not Fixpoint.count)
    // ~200-char docs: 4 rounds of 3 jobs, plus 5 setup and 1 result.
    // With a 1-character seed (8 rounds), the partner from a join and
    // dense ranks from broadcast offsets: 51.
    assert(long.contains("suffixRanks: round 3"), s"rounds: ${long.distinct}")
    assert(long.size <= 18, s"suffixRanks ran ${long.size} jobs on ~200-char docs")
    // measured with Dataset.count() per round (an aggregate on top of
    // the cache, one more job each): 91 (6 rounds). Then 72 (the driver
    // gate at 0 forces the rounds). Counting the setup's cached edges off
    // the cache's batches, not as an adaptive stage of their own: 71.
    assert(starJobs <= 71, s"connectedComponentsStar ran $starJobs jobs")
    // under the driver gate the same input runs no round: setup counts the
    // distinct edges (2 jobs; 3 when counted through the plan) and the
    // result collects them (1). Before the gate the default call ran the
    // rounds: 72 jobs.
    assert(!driverJobs.exists(_.contains("round")), s"jobs: ${driverJobs.distinct}")
    assert(driverJobs.size <= 3, s"driver path ran ${driverJobs.size} jobs")
    // below the gate the suffix array is built on the driver: the length
    // aggregate (2 jobs) and the collect of these local rows (none), then
    // the caller's collect (1). The rounds ran 18 + 1 on these docs.
    Seq(suffixDriver, repeatsDriver).foreach { jobs =>
      assert(!jobs.exists(_.contains("round")), s"jobs: ${jobs.distinct}")
      assert(jobs.size <= 3, s"driver path ran ${jobs.size} jobs: ${jobs.distinct}")
    }
  }

  test("connectedComponentsStar's rounds stop in round 0 on a star forest") {
    // NearDup's edge shape: (rep, member) with rep = min of its bucket,
    // so the input already is the fixpoint; round 0 sees that only if it
    // compares against the setup's edge count, else round 1 runs too
    val stars = (1 to 7).map(i => (0L, i.toLong)) ++ (11 to 13).map(i => (10L, i.toLong))
    val jobs = DriverGate.closed(jobsOf {
      val comps = GraphOps.connectedComponentsStar(spark, stars.toDF("src", "dst"))
      assert(comps.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap ==
        stars.flatMap { case (r, m) => Seq(r -> r, m -> r) }.toMap)
      comps.unpersist()
    })
    assert(jobs.exists(_.contains("round 0")), s"jobs: ${jobs.distinct}")
    assert(!jobs.exists(_.contains("round 1")), s"jobs: ${jobs.distinct}")
  }
}
