package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.link.GraphOps

/** Measures connectedComponentsStar's two paths on either side of its
 *  driver gate (Linker.MaxDriverAliasPairs): the driver union-find and the
 *  large/small-star rounds, on generated dedup-shaped graphs of the given
 *  edge counts.
 *
 *    sbt "Test/runMain graft.StarGateBench 100000 300000 1000000"
 *    SPARK_DRIVER_MEM=1g sbt "Test/runMain graft.StarGateBench driver 1000000"
 *
 *  The graph has the shape of NearDup's MinHash star edges (d1 < d2, no
 *  self-loops): stars of 8 documents rooted at their minimum, and every
 *  run of 4 consecutive stars chained by one edge from a member of a star
 *  to a member of the next, so the rounds need more than one round. Per
 *  size and path it prints one line: wall seconds of the CC call, of a
 *  consumer that reads the labels twice as Linker.canonicalize does (group
 *  by component, join back, count), Spark jobs, and the heap still in use
 *  after a GC while the labels are held (in local mode the executors
 *  share the driver's heap, so the rounds' cached labels count too). A
 *  leading `driver` or `rounds` runs one path only, e.g. to find the
 *  smallest heap that path completes in. */
object StarGateBench {

  /** About `n` distinct edges over ~n vertices. */
  def graph(spark: SparkSession, n: Long): DataFrame = {
    val ids = spark.range(0L, n).select(col("id"))
    val star = ids.where(col("id") % 8 =!= 0)
      .select((col("id") - col("id") % 8).as("src"), col("id").as("dst"))
    val chain = ids.where(col("id") % 32 =!= 25 && col("id") % 8 === 1)
      .select(col("id").as("src"), (col("id") + 9).as("dst"))
      .where(col("dst") < n)
    star.union(chain)
  }

  def main(args: Array[String]): Unit = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder().master(s"local[$cores]")
      .appName("star-gate")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val jobs = new AtomicInteger
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    })
    def settled = {
      val rt = Runtime.getRuntime
      System.gc(); Thread.sleep(200); System.gc()
      rt.totalMemory - rt.freeMemory
    }
    val (paths, sizeArgs) = args.toSeq.partition(a => a == "driver" || a == "rounds")
    val sizes = if (sizeArgs.isEmpty) Seq(100000L) else sizeArgs.map(_.toLong)
    val saved = graft.link.Linker.MaxDriverAliasPairs
    println("edges path cc_s consumer_s jobs retained_mb")
    for (n <- sizes; rep <- 1 to 2; driver <- Seq(true, false)
         if paths.isEmpty || paths.contains(if (driver) "driver" else "rounds")) {
      val edges = graph(spark, n).persist()
      val m = edges.count()
      val base = settled
      graft.link.Linker.MaxDriverAliasPairs = if (driver) Long.MaxValue else 0L
      val j0 = jobs.get
      val t0 = System.nanoTime
      val comps = try GraphOps.connectedComponentsStar(spark, edges)
        finally graft.link.Linker.MaxDriverAliasPairs = saved
      val t1 = System.nanoTime
      val clusters = comps.groupBy("comp").agg(count(lit(1)).as("size"))
      val linked = comps.join(clusters, "comp").where(col("size") > 1).count()
      val t2 = System.nanoTime
      val retained = settled - base
      println(f"$m ${if (driver) "driver" else "rounds"} " +
        f"${(t1 - t0) / 1e9}%.2f ${(t2 - t1) / 1e9}%.2f ${jobs.get - j0} " +
        f"${retained / 1048576.0}%.0f" +
        (if (rep == 1) " (warm-up)" else "") + s" linked=$linked")
      comps.unpersist(); edges.unpersist()
    }
    spark.stop()
  }
}
