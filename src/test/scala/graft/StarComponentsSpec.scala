package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite
import graft.link.GraphOps

/** connectedComponentsStar finishes on the driver under its edge gate and
 *  runs the large/small-star rounds above it: both paths must return the
 *  same rows. ModulesSpec compares both with min-label CC on a mixed
 *  graph, DedupSpec checks the driver path on Long document ids; the
 *  graph here is small (each distributed run costs a few dozen Spark
 *  jobs). */
class StarComponentsSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def rows(df: DataFrame): Seq[Row] =
    try df.collect().toSeq.sortBy(_.toString) finally df.unpersist()

  /** Seeded random edges inside four groups of 4 vertices, with a
   *  self-loop and duplicate and reversed edges mixed in. */
  private def randomEdges(seed: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val base = Seq.fill(12) {
      val g = 4L * rnd.nextInt(4)
      (g + rnd.nextInt(4), g + rnd.nextInt(4))
    }
    base ++ base.take(2) ++ base.slice(2, 4).map(_.swap) ++ Seq((70L, 70L))
  }

  test("driver path == rounds on String vertices: UTF-8 order, self-loops, duplicates, nulls") {
    // a code point above the BMP sorts first in Java's UTF-16 String order
    // (its high surrogate is 0xD83D) but last in Spark's UTF-8 byte order
    def name(v: Long) = (if (v % 2 == 0) "😀" else "Ａ") + v
    val edges = (randomEdges(11).map { case (a, b) => (name(a), name(b)) } ++
      Seq[(String, String)](("zz", "zz"), ("d", null), (null, null),
        (null, "e"), ("e", "f"), ("f", "e"), ("f", "f")))
      .toDF("src", "dst")
    val local = GraphOps.connectedComponentsStar(spark, edges)
    assert(local.storageLevel == StorageLevel.NONE, "driver-path labels are cached")
    assert(local.schema.map(_.dataType) == edges.schema.map(_.dataType))
    // its row-count statistics let a small label set be broadcast into a
    // join with a large table (planned only, never run)
    val big = spark.range(0L, 1L << 40).select($"id".cast("string").as("v"))
    assert(big.join(local, "v").queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"), "driver-path labels are not broadcast")
    val got = rows(local)
    assert(got == rows(DriverGate.closed(GraphOps.connectedComponentsStar(spark, edges))))
    val labels = got.map(r => (r.getString(0), r.getString(1)))
    assert(labels.contains(("zz", "zz")) && labels.contains(("d", "d")) &&
      labels.contains(("f", "e")) && labels.contains((null, null)))
    // the fixture tells the two string orders apart: some component's
    // minimum under Java's String.compareTo is another vertex
    assert(labels.filter(_._1 != null).groupBy(_._2)
      .exists { case (c, ms) => ms.map(_._1).min != c },
      "fixture does not separate UTF-16 from UTF-8 order")
  }
}
