package graftbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/**
 * Benchmark driver process: sets one workload up from a seed, measures its
 * op for a fixed time at local[nproc], checks every op's output, and
 * writes a JSON report (end-to-end metrics, per-layer metrics when traced,
 * and the environment) for perfbench/run.py to check and print.
 *
 * Usage: graftbench.Main --workload NAME --seed N --seconds S --trace 0|1
 *        --work DIR --report FILE
 */
object Main {

  /** No op starts that would likely end after this many seconds of
   *  process life, so that the checks after measuring still fit the run. */
  val HardStopS = 120.0
  /** Reconciliation bound: a traced op fails when its layer spans leave
   *  more than this share of its wall time unattributed. */
  val MaxUnattributed = 0.15

  val Layers: Seq[String] =
    Seq("nlp", "extract", "bags", "link", "consistency", "delta", "io", "neardup", "suffix")
  val Extras: Seq[String] = Seq("bags.merge_ratio", "bags.gate_pass_ratio", "link.alias_pairs",
    "link.aliases", "link.distributed", "delta.redo_ratio")

  def session(cores: Int, workDir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", Paths.get(workDir, "spark-local").toString)
      .config("spark.sql.warehouse.dir", Paths.get(workDir, "warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  private def now: Double = System.nanoTime() / 1e9

  /** Seconds a fixed single-threaded integer loop takes: a host-speed
   *  reference for reading reports from different hosts or times. */
  def calibrationS(): Double = {
    val t0 = now
    var x = 1L
    var i = 0
    while (i < 300000000) { x = x * 6364136223846793005L + 1442695040888963407L; i += 1 }
    if (x == 0L) println("unreachable")
    now - t0
  }

  private def time[A](f: => A): (A, Double) = {
    val t0 = now
    val a = f
    (a, now - t0)
  }

  /** One measured op. */
  final case class Sample(traced: Boolean, wallS: Double, cpuS: Double, heapPeakMb: Double,
                          failedTasks: Int, ok: Boolean, error: Option[String],
                          spans: Seq[Span], groups: Map[String, Counters])

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val name = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val traced = opt("trace") == "1"
    val work = opt("work")
    require(Workload.Names.contains(name), s"unknown workload '$name'")
    Files.createDirectories(Paths.get(work))

    val cores = Runtime.getRuntime.availableProcessors
    var spark = session(cores, work)
    val sessionS = (System.currentTimeMillis - ManagementFactory.getRuntimeMXBean.getStartTime) / 1000.0
    val processStart = now - sessionS
    val calibrationStart = calibrationS()
    val listener = new GroupListener
    spark.sparkContext.addSparkListener(listener)
    val heap = new HeapWatch

    val ctx = new Ctx(spark, seed, work)
    val wl = Workload(name, ctx)
    // a traced run also traces setup: the recrawl's base build is where
    // the NLP front and extraction run over a whole crawl
    val setupTracer = if (traced) Some(new Tracer(spark)) else None
    listener.reset(spark)
    val setupS = time(wl.setup(setupTracer))._2
    val setupSample = setupTracer.map(t => Sample(traced = true, setupS, 0.0, 0.0, 0, ok = true,
      None, t.spans.toSeq, listener.drain(spark)))
    // a traced run adds a warm-up op, so that its untraced and traced ops
    // are both at least one op away from a cold JVM
    val warmup = (1 to wl.warmupOps + (if (traced) 1 else 0))
      .map(_ => (time(wl.op(None))._2, wl.fingerprint()))
    val warmupS = warmup.map(_._1)
    var firstFp = warmup.headOption.map(_._2)

    def measure(trace: Boolean): Sample = {
      listener.reset(spark)
      heap.reset()
      val tracer = if (trace) Some(new Tracer(spark)) else None
      val t0 = now
      val ran = try Right(wl.op(tracer)) catch { case e: Exception => Left(e.toString) }
      val wall = now - t0
      val groups = listener.drain(spark)
      val fp = ran.map(_ => wl.fingerprint())
      if (firstFp.isEmpty) firstFp = fp.toOption
      val total = groups.values.foldLeft(new Counters)(_ add _)
      val spans = tracer.map(_.spans.toSeq).getOrElse(Nil)
      val unattributed = Stats.unattributed(spans.map(_.wallS), wall)
      val error = fp match {
        case Left(e) => Some(e)
        case Right(f) if !firstFp.contains(f) => Some(s"fingerprint $f != first op's ${firstFp.get}")
        case _ if trace && unattributed > MaxUnattributed =>
          Some(f"layer spans leave $unattributed%.3f of the traced op unattributed (bound $MaxUnattributed)")
        case _ => None
      }
      Sample(trace, wall, total.cpuNs / 1e9, heap.peakMb, total.failedTasks,
        ok = error.isEmpty && total.failedTasks == 0, error = error,
        spans = spans, groups = groups)
    }

    val samples = mutable.ArrayBuffer.empty[Sample]
    val deadline = now + seconds
    // n rounds done, each of k ops; the first round always runs
    def more(n: Int, k: Int) = n == 0 || (now < deadline &&
      now - processStart + 1.2 * k * samples.map(_.wallS).max < HardStopS)
    if (!traced) while (more(samples.size, 1)) samples += measure(trace = false)
    else while (more(samples.size / 2, 2)) {
      samples += measure(trace = false)
      samples += measure(trace = true)
    }

    // untimed checks: every op must reproduce the workload's reference
    val reference = firstFp.map(wl.reference)
    val deterministic = reference.nonEmpty && reference == firstFp &&
      warmup.forall(w => firstFp.contains(w._2))
    val failures = samples.flatMap(_.error) ++
      (if (!deterministic) Seq(s"warm-up ops ${warmup.map(_._2)} != reference $reference") else Nil) ++
      samples.filter(_.failedTasks > 0).map(s => s"${s.failedTasks} failed tasks")
    val failed = samples.count(s => !s.ok || !deterministic)
    val quality = wl.quality()
    val oracleDir = wl match {
      case o: OpsCuration =>
        val d = Paths.get(work, "oracle").toString
        o.writeForOracle(d)
        Some(d)
      case _ => None
    }

    val plain = samples.filterNot(_.traced)
    val walls = plain.map(_.wallS).toSeq
    val e2e = mutable.LinkedHashMap[String, Double](
      "setup_s" -> (sessionS + setupS + warmupS.sum),
      "op_s" -> Stats.median(walls),
      "cpu_s" -> Stats.median(plain.map(_.cpuS).toSeq))
    quality.foreach { q => e2e += "precision" -> q.precision; e2e += "recall" -> q.recall }

    // old-gen peaks vary with GC timing by more than a tenth between runs,
    // so the heap is a traced-run metric, not an end-to-end one
    val perLayer = if (!traced) Map.empty[String, Double]
      else layerMetrics(wl, samples.toSeq, setupSample, cores) +
        ("heap_peak_mb" -> Stats.median(plain.map(_.heapPeakMb).toSeq))
    val scaling = if (traced && name == "kg_recrawl") {
      // one op at local[1], against the local[nproc] untraced median
      spark.stop()
      spark = session(1, work)
      val one = Workload(name, new Ctx(spark, seed, Paths.get(work, "one-core").toString))
      one.setup(None)
      val (_, oneS) = time(one.op(None))
      Map("cpu_scaling_1to4" -> oneS / Stats.median(walls))
    } else Map("cpu_scaling_1to4" -> 0.0)

    val report = Map(
      "workload" -> name, "seed" -> seed, "seconds" -> seconds, "trace" -> traced,
      "env" -> Map(
        "nproc" -> cores,
        "calibration_s" -> Seq(calibrationStart, calibrationS()),
        "driver_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576,
        "jdk" -> System.getProperty("java.version"),
        "jvm_args" -> ManagementFactory.getRuntimeMXBean.getInputArguments.asScala,
        "spark_version" -> spark.version,
        "spark_conf" -> spark.sparkContext.getConf.getAll.toMap
          .filter { case (k, _) => !k.contains("id") && !k.contains("host") && !k.contains("port") }),
      "inputs" -> wl.inputs,
      "setup" -> Map("session_s" -> sessionS, "inputs_s" -> setupS, "warmup_ops_s" -> warmupS),
      "ops" -> Map(
        "untraced_s" -> walls, "samples" -> walls.size,
        "untraced_tail" -> Stats.tail(walls).map { case (p, v) => Map("percentile" -> p, "s" -> v) },
        "traced_s" -> samples.filter(_.traced).map(_.wallS),
        "cpu_s" -> plain.map(_.cpuS), "heap_peak_mb" -> plain.map(_.heapPeakMb)),
      "attempted" -> samples.size, "failed" -> failed, "failures" -> failures.distinct.take(20),
      "e2e" -> e2e, "per_layer" -> (perLayer ++ scaling),
      "quality" -> quality, "oracle_dir" -> oracleDir)
    Files.write(Paths.get(opt("report")), Workload.json.writeValueAsBytes(report))
    spark.stop()
  }

  /** Medians over the traced ops of every per-layer metric, plus the
   *  tracing overhead against the interleaved untraced ops. A layer the
   *  op never calls is read from the traced setup, when setup calls it. */
  def layerMetrics(wl: Workload, samples: Seq[Sample], setup: Option[Sample],
                   cores: Int): Map[String, Double] = {
    val tracedOps = samples.filter(_.traced)
    def med(f: Sample => Double) = Stats.median(tracedOps.map(f))
    def counters(s: Sample, prefix: String) = s.groups.collect {
      case (g, c) if g.startsWith(prefix) => c
    }.foldLeft(new Counters)(_ add _)
    val out = mutable.LinkedHashMap.empty[String, Double]
    for (layer <- Layers) {
      def calls(s: Sample) = s.spans.exists(_.layer == layer)
      val from = if (tracedOps.exists(calls)) tracedOps else setup.filter(calls).toSeq
      def med(f: Sample => Double) = if (from.isEmpty) 0.0 else Stats.median(from.map(f))
      def wall(s: Sample) = s.spans.filter(_.layer == layer).map(_.wallS).sum
      def cpu(s: Sample) = counters(s, layer + "/").cpuNs / 1e9
      out ++= Seq(
        s"$layer.wall_s" -> med(wall),
        s"$layer.cpu_s" -> med(cpu),
        s"$layer.core_util" -> med(s => if (wall(s) > 0) cpu(s) / (wall(s) * cores) else 0.0),
        s"$layer.rows_out" -> med(_.spans.filter(_.layer == layer).map(_.rows).sum.toDouble),
        s"$layer.shuffle_write_mb" -> med(counters(_, layer + "/").shuffleWriteBytes / 1048576.0),
        s"$layer.spill_mb" -> med(counters(_, layer + "/").spillBytes / 1048576.0),
        s"$layer.gc_s" -> med(_.spans.filter(_.layer == layer).map(_.gcS).sum),
        s"$layer.jobs" -> med(counters(_, layer + "/").jobs.toDouble))
    }
    out += "io.write_mb" -> med(counters(_, "io/").bytesWritten / 1048576.0)
    for ((layer, fn, _) <- OpsCuration.Calls) {
      out += s"$layer.$fn.wall_s" -> med(_.spans.filter(_.fn == fn).map(_.wallS).sum)
      out += s"$layer.$fn.jobs" -> med(counters(_, s"$layer/$fn").jobs.toDouble)
    }
    Extras.foreach(k => out += k -> wl.extras.getOrElse(k, 0.0))
    val tracedWall = med(_.wallS)
    val plainWall = Stats.median(samples.filterNot(_.traced).map(_.wallS))
    out += "trace.op_s" -> tracedWall
    out += "trace.overhead_ratio" -> (tracedWall / plainWall - 1.0)
    out += "trace.unattributed_ratio" -> med(s => Stats.unattributed(s.spans.map(_.wallS), s.wallS))
    out.toMap
  }
}
