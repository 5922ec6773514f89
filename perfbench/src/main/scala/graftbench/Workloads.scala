package graftbench

import java.nio.file.{Files, Paths}

import scala.util.hashing.MurmurHash3

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.types.StructType
import org.apache.spark.storage.StorageLevel

import graft.SparkEntry
import graft.fixtures.PageGen.Gold
import graft.io.TableIO
import graft.link.Linker
import graft.model.{Page, SlotFill, Triple}
import graft.pipeline.KGPipeline

/** Order-independent digest of a row set: count plus two 32-bit hash sums. */
final case class Fingerprint(rows: Long, digest: Long)

object Fingerprint {
  def of(rows: Iterator[String]): Fingerprint = {
    var n = 0L
    var sum = 0L
    rows.foreach { s =>
      n += 1
      sum += (MurmurHash3.stringHash(s, 1).toLong << 32) ^
        (MurmurHash3.stringHash(s, 2).toLong & 0xffffffffL)
    }
    Fingerprint(n, sum)
  }

  def ofTriples(ts: Iterable[Triple]): Fingerprint =
    of(ts.iterator.map(_.productIterator.mkString("\u0001")))
}

/** Output quality against planted gold. */
final case class Quality(precision: Double, recall: Double, falsePositives: Seq[String],
                         misses: Seq[String], missesByPred: Map[String, Int])

/** Where a workload keeps its inputs and outputs, and how it reaches Spark. */
final class Ctx(val spark: SparkSession, val seed: Long, val workDir: String) {
  def path(rel: String): String = Paths.get(workDir, rel).toString
  def cores: Int = spark.sparkContext.defaultParallelism
}

/**
 * One benchmark workload. `setup` makes the inputs from the seed and `op`
 * is the timed operation; both are traced when given a [[Tracer]].
 * `fingerprint` digests the last op's output and `reference` gives the
 * fingerprint every op must reproduce, both untimed.
 */
trait Workload {
  def inputs: Map[String, Any]
  /** Untimed ops between setup and measuring, counted in `setup_s`. */
  def warmupOps: Int
  def setup(tr: Option[Tracer]): Unit
  def op(tr: Option[Tracer]): Unit
  def fingerprint(): Fingerprint
  def reference(first: Fingerprint): Fingerprint
  /** Precision and recall of the last op's output, when gold exists. */
  def quality(): Option[Quality]
  /** Layer counters of the last traced op. */
  def extras: Map[String, Double]
}

object Workload {
  def apply(name: String, ctx: Ctx): Workload = name match {
    case "kg_recrawl" => new KgRecrawl(ctx)
    case "ops_curation" => new OpsCuration(ctx)
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  val Names: Seq[String] = Seq("kg_recrawl", "ops_curation")

  /** Renders the report and the oracle query file. */
  val json: ObjectMapper = new ObjectMapper().registerModule(DefaultScalaModule)

  /** Precision and recall of a triple set against (subj, pred, obj) gold,
   *  with a few false positives and misses for the report. */
  def quality(got: Iterable[Triple], gold: Set[Gold]): Quality = {
    val g = got.iterator.map(t => (t.subj, t.pred, t.obj)).toSet
    val w = gold.map(x => (x.subj, x.pred, x.obj))
    val tp = g.intersect(w).size.toDouble
    def sample(xs: Set[(String, String, String)]) = xs.toSeq.map(_.productIterator.mkString(" | ")).sorted.take(10)
    Quality(if (g.isEmpty) 0.0 else tp / g.size, if (w.isEmpty) 0.0 else tp / w.size,
      sample(g -- w), sample(w -- g),
      (w -- g).toSeq.groupBy(_._2).map { case (p, xs) => p -> xs.size })
  }

  /** A generated crawl, cached in memory with four slices per core so
   *  the NLP stage has several task waves, as a stored crawl split into
   *  blocks would. */
  def cachePages(spark: SparkSession, n: Int)(page: Int => Page): Dataset[Page] = {
    import spark.implicits._
    val slices = spark.sparkContext.defaultParallelism * 4
    val ds = spark.range(0, n, 1, slices).map(i => page(i.toInt))
      .persist(StorageLevel.MEMORY_ONLY)
    ds.count()
    ds
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
  }
}

/**
 * Freshness operation: apply one recrawl delta to a stored base crawl.
 * Setup writes the base crawl's `fills_raw` and signature snapshots; every
 * op reads them, redoes NLP for the changed and new pages only, reruns the
 * global tail and writes triples and signatures to a fresh directory.
 */
final class KgRecrawl(ctx: Ctx) extends Workload {
  import ctx.spark
  import spark.implicits._
  val change = Inputs.Change(n = 2000, pct = 5)
  /** Distinct popular pages the Zipf draw picks from. */
  val universe = 500
  /** The second op after setup still runs 10-25% slower than the third
   *  (JIT), so measuring starts at the third. */
  val warmupOps = 2
  def inputs: Map[String, Any] = Map("base_pages" -> change.n,
    "next_pages" -> change.nextSlots.size, "redo_pages" -> change.redo,
    "deleted_pages" -> change.d, "zipf_universe" -> universe)

  private var base: TableIO = _
  private var next: Dataset[Page] = _
  private var opCount = 0
  private var last: Array[Triple] = Array.empty
  private var counters: Map[String, Double] = Map.empty

  /** Builds the base crawl's snapshots: the NLP front and extraction over
   *  every base page, the same work as the front of a full build. */
  def setup(tr: Option[Tracer]): Unit = {
    val (seed, u) = (ctx.seed, universe)
    base = new TableIO(ctx.path("kg_recrawl/base"), spark)
    val basePages = Workload.cachePages(spark, change.n)(
      k => Inputs.recrawlPage(seed, k, 0, u)._1)
    val fills = tr match {
      case None => KGPipeline.mentionFills(spark, KGPipeline.sentences(spark, basePages))
      case Some(t) => Steps.frontTraced(spark, t, basePages)
    }
    base.write("fills_raw", fills.toDF())
    fills.unpersist()
    base.write("signatures", KGPipeline.pageSignatures(basePages))
    basePages.unpersist(blocking = true)
    val slots = change.nextSlots.toArray
    next = Workload.cachePages(spark, slots.length) { i =>
      val (s, v) = slots(i)
      Inputs.recrawlPage(seed, s, v, u)._1
    }
  }

  private def prevFills = base.read("fills_raw").get.as[SlotFill]
  private def prevSig = base.read("signatures").get

  private def opDir = ctx.path(s"kg_recrawl/op-$opCount")

  def op(tr: Option[Tracer]): Unit = {
    opCount += 1
    val out = new TableIO(opDir, spark)
    tr match {
      case None =>
        val inc = KGPipeline.incrementalFillsDelta(spark, prevSig, prevFills, next)
        val raw = out.write("fills_raw", inc.fills.toDF()).as[SlotFill]
        inc.release()
        val bags = KGPipeline.yThenNoisyOrGate(spark, KGPipeline.aggregateBags(spark, raw))
        val linked = KGPipeline.symmetricExpand(spark, Linker.canonicalize(spark, bags))
        out.write("triples", KGPipeline.consistentTriples(spark, linked).toDF(), Seq("pred"))
        out.write("signatures", KGPipeline.pageSignatures(next))
      case Some(t) =>
        counters = Steps.recrawlTraced(spark, t, out, prevSig, prevFills, next,
          change.nextSlots.size.toLong)
    }
    Linker.release()
  }

  def fingerprint(): Fingerprint = {
    last = new TableIO(opDir, spark).read("triples").get.as[Triple].collect()
    Workload.deleteTree(opDir)
    Fingerprint.ofTriples(last)
  }

  /** The increment must equal a full rebuild of the new crawl. */
  def reference(first: Fingerprint): Fingerprint = {
    val full = KGPipeline.run(spark, next).collect()
    Linker.release()
    Fingerprint.ofTriples(full)
  }

  def quality(): Option[Quality] = {
    val gold = change.nextSlots.flatMap { case (s, v) =>
      Inputs.recrawlPage(ctx.seed, s, v, universe)._2 }.toSet
    Some(Workload.quality(last, Inputs.linkOrgs(gold)))
  }

  def extras: Map[String, Double] = counters
}

/**
 * Corpus curation: near-duplicate clustering and suffix-array repeats
 * over a generated document table. The ops are the operator-suite
 * queries behind each function, so their results can be compared with
 * the suite's DuckDB oracles.
 */
final class OpsCuration(ctx: Ctx) extends Workload {
  import ctx.spark
  import spark.implicits._
  val documents = 200
  /** The measured op is the first in the JVM. Curation runs as a batch
   *  job (one operator-suite pass per process, as graft.Verify runs it),
   *  so its user pays the first op's codegen and JIT on every run. That
   *  op also varied less from run to run than the second. */
  val warmupOps = 0
  def inputs: Map[String, Any] = Map("documents" -> documents)
  private def docsDir = ctx.path("ops_curation/tables")
  private var results: Seq[(String, Array[Row], StructType)] = Nil

  def setup(tr: Option[Tracer]): Unit = {
    val seed = ctx.seed
    spark.range(0, documents, 1, ctx.cores).map(k => Inputs.document(seed, k.toInt))
      .write.mode("overwrite").parquet(s"$docsDir/documents.parquet")
  }

  def op(tr: Option[Tracer]): Unit =
    results = OpsCuration.Calls.map { case (layer, fn, q) =>
      // the iterative operators run jobs while they build their result,
      // so the call itself belongs inside the span, not only the collect
      var out: (Array[Row], StructType) = null
      def call(): Long = {
        val df = SparkEntry.queries(q)(spark, docsDir)
        out = (df.collect(), df.schema)
        out._1.length.toLong
      }
      tr match {
        case None => call()
        case Some(t) => t.span(layer, fn)(call())
      }
      (q, out._1, out._2)
    }

  def fingerprint(): Fingerprint =
    Fingerprint.of(results.iterator.flatMap { case (q, rows, _) =>
      rows.iterator.map(r => q + "\u0001" + r.mkString("\u0001")) })

  def reference(first: Fingerprint): Fingerprint = first

  /** Writes the last op's results and the oracle SQL for the DuckDB check
   *  that runs outside this process. */
  def writeForOracle(dir: String): Unit = {
    results.foreach { case (q, rows, schema) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/$q")
    }
    val sql = OpsCuration.Calls.map { case (_, _, q) => q -> SparkEntry.oracleSql(q) }
    Files.write(Paths.get(dir, "oracle_sql.json"),
      Workload.json.writeValueAsBytes(sql.toMap))
  }

  def quality(): Option[Quality] = None
  def extras: Map[String, Double] = Map.empty
}

object OpsCuration {
  /** (layer, function, operator-suite query that calls it). */
  val Calls: Seq[(String, String, String)] = Seq(
    ("neardup", "dedupClusters", "q38_docs_dedup_cluster"),
    ("neardup", "clusterSizeHistogram", "q59_cluster_sizes"),
    ("neardup", "ngramJaccardStar", "q78_jaccard_star"),
    ("suffix", "suffixRanks", "q80_suffix_ranks"),
    ("suffix", "longestRepeats", "q81_longest_repeats"),
    ("suffix", "repeatedSpans", "q82_char_spans"))
}

/** The traced forms of the KG ops: the same library calls, each
 *  materialized inside its own span. */
object Steps {
  import KGPipeline._

  private def persisted[T](ds: Dataset[T]): Dataset[T] = ds.persist(StorageLevel.MEMORY_ONLY)

  /** Bags, link and consistency over one fills stream; returns the
   *  triples Dataset (persisted) and the layer counters. */
  private def tail(spark: SparkSession, t: Tracer, fills: Dataset[SlotFill], nFills: Long)
      : (Dataset[Triple], Long, Map[String, Double]) = {
    var bags, gated, linked: Dataset[SlotFill] = null
    var triples: Dataset[Triple] = null
    var nBags, nGated, nTriples = 0L
    t.span("bags", "aggregateBags") { bags = persisted(aggregateBags(spark, fills)); nBags = bags.count(); nBags }
    t.span("bags", "yThenNoisyOrGate") { gated = persisted(yThenNoisyOrGate(spark, bags)); nGated = gated.count(); nGated }
    t.span("link", "canonicalize") {
      linked = persisted(symmetricExpand(spark, Linker.canonicalize(spark, gated))); linked.count()
    }
    t.span("consistency", "consistentTriples") {
      triples = persisted(consistentTriples(spark, linked)); nTriples = triples.count(); nTriples
    }
    Seq(bags, gated, linked).foreach(_.unpersist())
    (triples, nTriples, Map(
      "bags.merge_ratio" -> nFills.toDouble / math.max(nBags, 1L),
      "bags.gate_pass_ratio" -> nGated.toDouble / math.max(nBags, 1L),
      "link.alias_pairs" -> Linker.lastPairCount.toDouble,
      "link.aliases" -> Linker.lastAliasCount.toDouble,
      "link.distributed" -> (if (Linker.lastDistributed) 1.0 else 0.0)))
  }

  /** The NLP front and extraction, each materialized in its own span;
   *  returns the fills, persisted. */
  def frontTraced(spark: SparkSession, t: Tracer, pages: Dataset[Page]): Dataset[SlotFill] = {
    var sents: Dataset[graft.model.Sentence] = null
    var fills: Dataset[SlotFill] = null
    t.span("nlp", "sentences") { sents = persisted(sentences(spark, pages)); sents.count() }
    t.span("extract", "mentionFills") { fills = persisted(mentionFills(spark, sents)); fills.count() }
    sents.unpersist()
    fills
  }

  def recrawlTraced(spark: SparkSession, t: Tracer, out: TableIO, prevSig: DataFrame,
                    prevFills: Dataset[SlotFill], next: Dataset[Page], nNext: Long)
      : Map[String, Double] = {
    import spark.implicits._
    var inc: IncrementalFills = null
    var fills, raw: Dataset[SlotFill] = null
    var nFills = 0L
    t.span("delta", "incrementalFillsDelta") {
      inc = incrementalFillsDelta(spark, prevSig, prevFills, next)
      fills = persisted(inc.fills); nFills = fills.count(); nFills
    }
    t.span("io", "write fills_raw") { raw = out.write("fills_raw", fills.toDF()).as[SlotFill]; nFills }
    inc.release(); fills.unpersist()
    val (triples, nTriples, c) = tail(spark, t, raw, nFills)
    t.span("io", "write triples") { out.write("triples", triples.toDF(), Seq("pred")); nTriples }
    t.span("io", "write signatures") { out.write("signatures", pageSignatures(next)); nNext }
    triples.unpersist()
    c + ("delta.redo_ratio" -> inc.redoCount.toDouble / nNext)
  }
}
