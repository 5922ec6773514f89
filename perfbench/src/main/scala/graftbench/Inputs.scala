package graftbench

import java.util.SplittableRandom

import graft.fixtures.PageGen
import graft.fixtures.PageGen.Gold
import graft.model.Page
import graft.nlp.TextExtractor

/**
 * Seeded input generators. Every input is a pure function of (seed, index),
 * so the same seed gives byte-identical pages, documents and gold on any
 * host and under any partitioning. The seed picks names and words; the
 * shape of each input (page templates, Zipf popularity, suffix swaps,
 * document lengths and near-copy links) depends on the index only, so runs
 * with different seeds do the same amount of work. The program under test
 * only ever sees the generated pages or documents; gold stays on the
 * benchmark side.
 */
object Inputs {

  /** Seeds select disjoint PageGen index ranges of this width. The width
   *  is a multiple of every modulus PageGen picks templates, sentence
   *  counts, languages and first, last and org name parts by (lcm(1..16),
   *  which the 39 templates divide, and 8000), so a page's shape and its
   *  names' base parts depend on its offset only: the seed changes the
   *  names' letter suffixes, not the amount of work or which names the
   *  pipeline meets. Seeds alias modulo [[SeedRange]]. */
  private val SeedStride = 72072000
  val SeedRange = 28

  def base(seed: Long): Int = ((Math.floorMod(seed, SeedRange.toLong) + 1) * SeedStride).toInt

  /** Stable per-(seed, stream, index) random source. */
  private def rng(seed: Long, stream: Int, k: Long): SplittableRandom =
    new SplittableRandom(seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + k)

  /** Random source for the seed-independent shape of input k. */
  private def shape(stream: Int, k: Long): SplittableRandom = rng(0L, stream, k)

  // ---- kg_recrawl: Zipf-popular entities, org suffix swaps ----

  private val suffixRotation = Map("Inc." -> "Corp.", "Corp." -> "Ltd.", "Ltd." -> "Inc.")
  private val SuffixRe = """ (Inc\.|Corp\.|Ltd\.)""".r

  /** Rotates every org corp suffix (Inc. -> Corp. -> Ltd. -> Inc.). */
  def swapSuffixes(s: String): String =
    SuffixRe.replaceAllIn(s, m => " " + java.util.regex.Matcher.quoteReplacement(
      suffixRotation(m.group(1))))

  /** Zipf(s = 1) rank in [0, universe) from a uniform draw. */
  def zipfRank(u: Double, universe: Int): Int =
    math.min(universe - 1, (math.exp(u * math.log(universe + 1.0)) - 1.0).toInt)

  /** Recrawl page for url slot `slot`, with content variant `variant`
   *  (0 = base crawl content, 1 = changed content). The page joins a
   *  distinct PageGen page with a Zipf-chosen popular one; half of the
   *  pages rotate their org suffixes, so one org appears under several
   *  surface forms across the crawl and the linker has aliases to merge. */
  def recrawlPage(seed: Long, slot: Int, variant: Int, universe: Int): (Page, Seq[Gold]) = {
    val b = base(seed)
    val distinct = b + slot + variant * (SeedStride / 4)
    val r = shape(1 + variant, slot)
    // popular pages come from an even (always English) index range
    val popular = b + SeedStride / 2 + 2 * zipfRank(r.nextDouble(), universe)
    val swap = r.nextBoolean()
    val (own, ownGold) = PageGen.page(distinct)
    val (pop, popGold) = PageGen.page(popular)
    val fix: String => String = if (swap) swapSuffixes else identity
    val text = fix(own.text + " " + pop.text)
    val html = "<html><head><title>t</title></head><body><p>" +
      TextExtractor.escapeHtml(text) + "</p></body></html>"
    val gold = if (own.lang == "en") (ownGold ++ popGold).map(g =>
      Gold(fix(g.subj), g.pred, fix(g.obj))) else Nil
    // changed content keeps the slot's url
    val url = if (variant == 0) own.url else PageGen.page(b + slot)._1.url
    (own.copy(url = url, text = text, html = html.getBytes("UTF-8")), gold)
  }

  /** The recrawl change set for a crawl of `n` url slots at `pct` percent:
   *  slots [0, d) are deleted, [d, 2d) change content, [n, n + d) are new. */
  final case class Change(n: Int, pct: Int) {
    val d: Int = math.max(1, n * pct / 200)
    /** (slot, variant) of every page of the next crawl. */
    def nextSlots: Seq[(Int, Int)] =
      (d until n + d).map(s => (s, if (s < 2 * d) 1 else 0))
    def redo: Int = 2 * d
  }

  /** Gold with every org surface form mapped to the representative the
   *  linker elects among the forms present: forms sharing a name up to
   *  the corp suffix are one org, and the longest form wins, then the
   *  lexicographically smallest. */
  def linkOrgs(gold: Set[Gold]): Set[Gold] = {
    val forms = gold.iterator.flatMap(g => Iterator(g.subj, g.obj))
      .filter(s => SuffixRe.findFirstMatchIn(s).exists(_.end == s.length))
      .toSet
    val rep: Map[String, String] = forms.groupBy(orgStem).values.flatMap { fs =>
      val best = fs.minBy(f => (-f.length, f))
      fs.map(_ -> best)
    }.toMap
    gold.map(g => Gold(rep.getOrElse(g.subj, g.subj), g.pred, rep.getOrElse(g.obj, g.obj)))
  }

  private def orgStem(form: String): String = form.substring(0, form.lastIndexOf(' '))

  // ---- ops_curation: documents shaped like the operator suite's ----

  final case class Doc(doc_id: Long, text: String, lang: String, source: String, n_chars: Long)

  /** The operator suite's document vocabulary: its test documents are
   *  drawn from exactly these 30 words (plus the near-copy marker). */
  private val vocab = Array("a", "agg", "batch", "big", "column", "customer", "data",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark", "stream",
    "table", "the", "value", "vector", "window")
  private val otherLangs = Array("de", "es", "fr", "zh")

  /** Document k, with the statistics of the operator suite's test
   *  documents: 10 to 99 uniformly drawn words, 41% English and the rest
   *  de/es/fr/zh in equal shares, 20 round-robin sources, and one document
   *  in twenty an exact copy of another with " dup" appended (here always
   *  of an earlier one, so a document is a pure function of its index).
   *  The seed only orders each document's words: word sets, lengths and
   *  copies depend on the index, so the MinHash clusters, and with them
   *  the rounds the fixpoint operators run, are the same for every seed. */
  def document(seed: Long, k: Int): Doc = {
    val s = shape(3, k)
    val text =
      if (k > 0 && s.nextInt(20) == 0) document(seed, s.nextInt(k)).text + " dup"
      else {
        val words = Array.fill(10 + s.nextInt(90))(vocab(s.nextInt(vocab.length)))
        val r = rng(seed, 4, k)
        for (i <- words.indices.reverse) {
          val j = r.nextInt(i + 1)
          val w = words(i); words(i) = words(j); words(j) = w
        }
        words.mkString(" ")
      }
    val l = s.nextInt(100)
    val lang = if (l < 41) "en" else otherLangs((l - 41) * otherLangs.length / 59)
    Doc(k.toLong, text, lang, s"src${k % 20}", text.length.toLong)
  }
}
