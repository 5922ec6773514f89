package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.dedup.NearDup
import graft.link.GraphOps
import graft.text.SuffixOps

/** Measures the two paths on either side of the driver gate
 *  (Linker.MaxDriverAliasPairs) of connectedComponentsStar (the driver
 *  union-find and the large/small-star rounds, on generated dedup-shaped
 *  graphs of the given edge counts), with a leading `suffix`, of
 *  SuffixOps (the driver-side suffix array and the doubling rounds, on
 *  generated documents of the given position counts) and, with a leading
 *  `neardup`, of NearDup.dedupVerdicts / ngramJaccardStar (the in-memory
 *  clustering and the Spark plans, on generated documents of the given
 *  code-point counts).
 *
 *    sbt "Test/runMain graft.StarGateBench 100000 300000 1000000"
 *    SPARK_DRIVER_MEM=1g sbt "Test/runMain graft.StarGateBench driver 1000000"
 *    sbt "Test/runMain graft.StarGateBench suffix 100000 300000 1000000 2000000"
 *    sbt "Test/runMain graft.StarGateBench neardup 100000 300000 1000000 2000000"
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
 *  `driver` or `rounds` before the sizes runs one path only, e.g. to find the
 *  smallest heap that path completes in.
 *
 *  The documents are shaped like the operator suite's: 10 to 99 words of
 *  a 30-word vocabulary, one in twenty an exact copy of an earlier one
 *  with " dup" appended. Per size and path the suffix mode prints the
 *  wall seconds of suffixRanks, of a q80-style consumer (orderBy + collect),
 *  of longestRepeats with its collect (q81), the Spark jobs of all three,
 *  and the heap in use after a GC while the ranks are held. The neardup
 *  mode prints the wall seconds of dedupClusters with its collect (q38)
 *  and of ngramJaccardStar with its collect (q78), the Spark jobs of
 *  both, and the heap in use after a GC while the verdicts are held. */
object StarGateBench {

  private val vocab = Array("a", "agg", "batch", "big", "column", "customer",
    "data", "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window")

  /** Documents of about `n` code points in all. */
  def documents(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(n)
    val texts = scala.collection.mutable.ArrayBuffer.empty[String]
    var total = 0L
    while (total < n) {
      val t = if (texts.nonEmpty && rnd.nextInt(20) == 0)
        texts(rnd.nextInt(texts.length)) + " dup"
      else Seq.fill(10 + rnd.nextInt(90))(vocab(rnd.nextInt(vocab.length))).mkString(" ")
      texts += t; total += t.length
    }
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toSeq.toDF("doc_id", "text")
  }

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

  /** Runs `body` with the gate open (driver path) or closed (rounds). */
  private def gate[T](driver: Boolean)(body: => T): T = {
    val saved = graft.link.Linker.MaxDriverAliasPairs
    graft.link.Linker.MaxDriverAliasPairs = if (driver) Long.MaxValue else 0L
    try body finally graft.link.Linker.MaxDriverAliasPairs = saved
  }

  private def secs(t0: Long, t1: Long) = (t1 - t0) / 1e9

  /** The CC call, then a consumer that reads the labels twice: the wall
   *  seconds of both, the labels, and the count of linked vertices. */
  private def starRun(spark: SparkSession, edges: DataFrame, driver: Boolean)
      : (Seq[Double], DataFrame, String) = {
    val t0 = System.nanoTime
    val comps = gate(driver)(GraphOps.connectedComponentsStar(spark, edges))
    val t1 = System.nanoTime
    val clusters = comps.groupBy("comp").agg(count(lit(1)).as("size"))
    val linked = comps.join(clusters, "comp").where(col("size") > 1).count()
    (Seq(secs(t0, t1), secs(t1, System.nanoTime)), comps, s"linked=$linked")
  }

  /** suffixRanks, its q80-style consumer and longestRepeats with its
   *  collect: the wall seconds of the three, the ranks, and the longest
   *  repeat's LCP. */
  private def suffixRun(spark: SparkSession, docs: DataFrame, driver: Boolean)
      : (Seq[Double], DataFrame, String) = {
    val t0 = System.nanoTime
    val ranks = gate(driver)(SuffixOps.suffixRanks(spark, docs))
    val t1 = System.nanoTime
    val rows = ranks.orderBy("doc_id", "off").collect().length
    val t2 = System.nanoTime
    val top = gate(driver)(SuffixOps.longestRepeats(spark, docs)).collect()
    val t3 = System.nanoTime
    (Seq(secs(t0, t1), secs(t1, t2), secs(t2, t3)), ranks,
      s"rows=$rows lcp=${top.headOption.fold(0L)(_.getLong(1))}")
  }

  /** dedupClusters and ngramJaccardStar, each with its collect: the wall
   *  seconds of both, the verdicts, and the kept and pair counts. */
  private def neardupRun(spark: SparkSession, docs: DataFrame, driver: Boolean)
      : (Seq[Double], DataFrame, String) = {
    val t0 = System.nanoTime
    val verdicts = gate(driver)(NearDup.dedupClusters(spark, docs))
    val kept = verdicts.collect().count(_.getBoolean(3))
    val t1 = System.nanoTime
    val pairs = gate(driver)(NearDup.ngramJaccardStar(spark, docs)).collect().length
    (Seq(secs(t0, t1), secs(t1, System.nanoTime)), verdicts, s"kept=$kept pairs=$pairs")
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
    val mode = args.headOption.filter(Set("suffix", "neardup")).getOrElse("star")
    val (paths, sizeArgs) = args.toSeq.drop(if (mode == "star") 0 else 1)
      .partition(a => a == "driver" || a == "rounds")
    val sizes = if (sizeArgs.isEmpty) Seq(100000L) else sizeArgs.map(_.toLong)
    println(mode match {
      case "suffix" => "positions path ranks_s consumer_s repeats_s jobs retained_mb"
      case "neardup" => "codepoints path clusters_s jaccard_s jobs retained_mb"
      case _ => "edges path cc_s consumer_s jobs retained_mb"
    })
    for (n <- sizes; rep <- 1 to 2; driver <- Seq(true, false)
         if paths.isEmpty || paths.contains(if (driver) "driver" else "rounds")) {
      val input = (if (mode == "star") graph(spark, n)
        else documents(spark, n).repartition(cores)).persist()
      val m = if (mode == "star") input.count()
        else input.agg(sum(length(col("text")))).head().getLong(0)
      val base = settled
      val j0 = jobs.get
      val (secs, held, note) = mode match {
        case "suffix" => suffixRun(spark, input, driver)
        case "neardup" => neardupRun(spark, input, driver)
        case _ => starRun(spark, input, driver)
      }
      val retained = settled - base
      println(s"$m ${if (driver) "driver" else "rounds"} " +
        secs.map(t => f"$t%.2f ").mkString + s"${jobs.get - j0} " +
        f"${retained / 1048576.0}%.0f" + (if (rep == 1) " (warm-up)" else "") + s" $note")
      held.unpersist(); input.unpersist()
    }
    spark.stop()
  }
}
