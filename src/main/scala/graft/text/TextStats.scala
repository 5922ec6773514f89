package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Text-analysis column builders for training-data pipelines: token
 * counting, quality scoring, language-ID heuristic, fingerprinting.
 * All built-in column expressions (whole-stage-codegen'd, no UDFs);
 * mirrored 1:1 by the DuckDB oracles of q13/q14/q16/q17.
 */
object TextStats {

  /** whitespace-run token count. */
  def tokenCount(text: Column): Column =
    regexp_count(text, lit("\\S+")).cast("int")

  /** BPE-ish subword count (q13): word-piece boundaries approximated by
   *  case transitions, digit runs and punctuation — the GPT-2-style
   *  pre-tokenizer shape, kept lookahead-free so DuckDB's RE2 engine
   *  recomputes the identical count for the oracle (leftmost-first
   *  alternation is the same in Java regex and RE2). */
  def subwordCount(text: Column): Column =
    regexp_count(text,
      lit("[A-Z]?[a-z]+|[A-Z]+|\\d+|[^\\sA-Za-z0-9]")).cast("int")

  def alphaChars(text: Column): Column =
    length(regexp_replace(text, "[^a-zA-Z]", ""))

  /** Quality features: alpha ratio, space ratio, mean word length. */
  def quality(df: DataFrame, text: String = "text"): DataFrame = {
    val t = col(text)
    val alpha = alphaChars(t)
    val toks = tokenCount(t)
    df.withColumn("n_tokens", toks)
      .withColumn("alpha_ratio", alpha.cast("double") / length(t))
      .withColumn("mean_word_len",
        alpha.cast("double") / greatest(toks, lit(1)))
      .withColumn("quality_ok",
        col("alpha_ratio") > 0.6 && toks >= 5 && col("mean_word_len") < 15)
  }

  /** Stopword-ladder language id (deterministic; matches q17's oracle). */
  def langId(text: Column): Column = {
    val padded = concat(lit(" "), lower(text), lit(" "))
    def anyOf(ws: String*) = ws.map(w => padded.contains(s" $w "))
      .reduce(_ || _)
    when(text.rlike("[\\u4e00-\\u9fff]"), "zh")
      .when(anyOf("der", "und", "die"), "de")
      .when(anyOf("le", "la", "et"), "fr")
      .when(anyOf("el", "los", "y"), "es")
      .when(anyOf("the", "and", "a"), "en")
      .otherwise("und")
  }

  /** Normalized content fingerprint (md5 of the alnum-normalized text —
   *  deterministic, join-key friendly). */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(text), "[^a-z0-9]", ""))

  /** TRUE rolling-hash fingerprint (q35): the minimum base-31 Rabin-Karp
   *  polynomial hash over all sliding character k-grams of the
   *  ascii-normalized text — the min-sampled member of the
   *  winnowing/MOSS fingerprint family. Exact BIGINT math (k=8 chars at
   *  base 31 stays far below 2^63, so no modulus and no FP), over
   *  lowercased [a-z0-9 ] only so the char-code arithmetic is
   *  engine-independent; NULL for texts with fewer than k normalized
   *  chars. The normalized text is computed once per row and the windows
   *  by the native kernel `rolling_min_hash` (functions/TextExpressions),
   *  linear in the text's length. Mirrored 1:1 by the q35 oracle. */
  def rollingMin(text: Column, k: Int = 8): Column =
    graft.functions.text.rollingMinHash(
      regexp_replace(lower(text), "[^a-z0-9 ]", ""), k)

  /** Gopher-style repetition signals (Rae et al. 2021 §A1.1, public):
   *  per-doc fraction of tokens that are repeats, fraction taken by the
   *  single most-frequent word, and fraction of bigram slots taken by the
   *  most-frequent word bigram. Occurrence fractions, not char fractions,
   *  so every number is a ratio of two integers both engines compute
   *  identically (one IEEE division — no transcendental drift).
   *
   *  Scale shape: two explode→groupBy aggregations, each one shuffle with
   *  map-side partial aggregation, keyed by (doc_id, gram) then doc_id —
   *  the second groupBy and the final join are co-partitioned on doc_id,
   *  so the whole thing is two exchanges regardless of corpus size; no
   *  windows, nothing per-doc quadratic (state per key = one count). */
  def repetitionSignals(docs: DataFrame): DataFrame = {
    val ws = docs.select(col("doc_id"), split(col("text"), " ").as("ws"))
    val uni = ws.select(col("doc_id"), explode(col("ws")).as("w"))
      .groupBy("doc_id", "w").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(
        sum("c").as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        max("c").as("top_word_cnt"))
    // adjacent-word bigrams; sequence(0, -1) would yield [0, -1], so
    // single-token docs are guarded to an empty gram list
    val bigrams = when(size(col("ws")) >= 2,
      transform(sequence(lit(0), size(col("ws")) - 2), i =>
        concat(element_at(col("ws"), i + 1), lit(" "),
          element_at(col("ws"), i + 2))))
      .otherwise(array().cast("array<string>"))
    val big = ws.select(col("doc_id"), explode(bigrams).as("b"))
      .groupBy("doc_id", "b").agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("top_bigram_cnt"))
    uni.join(big, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        col("top_word_cnt"), col("top_bigram_cnt"),
        ((col("n_tokens") - col("n_distinct")).cast("double") /
          col("n_tokens")).as("dup_word_frac"),
        (col("top_word_cnt").cast("double") / col("n_tokens"))
          .as("top_word_frac"),
        when(col("n_tokens") >= 2,
          col("top_bigram_cnt").cast("double") / (col("n_tokens") - 1))
          .as("top_bigram_frac"))
      // Gopher's removal rule shape: kill a doc whose top bigram eats
      // >20% of slots or whose top word eats >30%
      .withColumn("repetition_ok",
        col("top_word_frac") <= 0.3 &&
          coalesce(col("top_bigram_frac") <= 0.2, lit(true)))
  }

  /** Top-k salient terms per document: TF-IDF, ranked INTEGER-EXACTLY by
   *  (tf DESC, df ASC, term ASC) so the ordering never depends on float
   *  rounding (two engines' ln() can disagree in the last ulp; integers
   *  cannot) — the float tfidf = tf·ln((N+1)/(df+1)) ships as an output
   *  column. The plan is two map-side-combinable aggregations (one
   *  shuffle on (doc, term), one on term) + a join back on term (AQE
   *  broadcasts it when the vocabulary is small) + a per-doc window
   *  whose partitions are bounded by a document's distinct-term count —
   *  no global sort, nothing quadratic. N comes from one count() job
   *  (metadata-cheap on parquet). tf feeds both the df aggregate and the
   *  join probe side, so its lineage is evaluated twice — deliberate: at
   *  crawl scale the tf table is corpus-sized, and recomputing a
   *  map-side-combined aggregate is cheaper than caching it (a production
   *  run that wants the reuse writes tf to a table first). */
  def salientTerms(docs: DataFrame, k: Int = 3): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val nDocs = docs.count()
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
    val df_ = tf.groupBy("term").agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tf").desc, col("df").asc, col("term").asc)
    tf.join(df_, "term")
      .withColumn("term_rank", row_number().over(w))
      .filter(col("term_rank") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        // unrounded: the oracle compares floats within 1e-9 and two ln()
        // implementations agree to ~1e-15 relative — rounding would only
        // add boundary risk
        (col("tf") * log((lit(nDocs) + 1.0) / (col("df") + 1.0))).as("tfidf"),
        col("term_rank"))
  }

  /** Corpus vocabulary builder (the BPE / tokenizer-training prep pass):
   *  top-k space-split words by (count DESC, word ASC) — a total order,
   *  so the row set is deterministic at any tie — with each word's
   *  cumulative corpus-coverage fraction. Returns (rank, word, cnt,
   *  coverage): coverage = running integer count sum / total tokens, one
   *  double division of exact integers per row (sub-2^53 ⇒ both engines
   *  bit-agree).
   *
   *  Scale shape: ONE map-side-combinable word-count shuffle over the
   *  exploded corpus; top-k is orderBy+limit (TakeOrdered — per-partition
   *  heaps, never a global sort of the vocabulary); the rank/coverage
   *  window runs over the k returned rows only, and the total-token
   *  scalar is a one-row aggregate joined by broadcast. A 10^10-token
   *  corpus costs one counter per distinct word per task. */
  /** Bigram next-word table (n-gram language-model prep / autocomplete
   *  table): for every word, its top-`topK` immediate successors by the
   *  total order (count DESC, successor ASC), with successors below
   *  `minCount` pruned BEFORE ranking. Directional pairs (w1 → w2),
   *  exact BIGINT counts.
   *
   *  Scale shape: pair generation is the same zero-shuffle slice +
   *  zip_with as `cooccurrence`; the count is one map-side-combinable
   *  shuffle; the rank window is partitioned by w1 and runs AFTER the
   *  minCount prune, so a task holds one word's surviving successor
   *  list, never the corpus (a stopword's fan-out is ≤ |vocab| rows,
   *  already aggregated). */
  def bigramNextWords(docs: DataFrame, topK: Int = 3, minCount: Long = 2,
                      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ws = filter(split(col(textCol), " "), w => w =!= lit(""))
    val n = size(col("ws")) - 1
    val pairs = when(n > 0,
      zip_with(slice(col("ws"), lit(1), n), slice(col("ws"), lit(2), n),
        (a, b) => struct(a.as("w1"), b.as("w2"))))
      .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    val counts = docs.select(ws.as("ws"))
      .select(explode(pairs).as("p"))
      .select(col("p.w1"), col("p.w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minCount)
    val w = Window.partitionBy(col("w1"))
      .orderBy(col("cnt").desc, col("w2").asc)
    counts.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= topK)
      .select(col("w1"), col("w2"), col("cnt"), col("rank"))
  }

  /** EXACT corpus length-distribution quantiles (the length-filter
   *  calibration pass: where to put a min/max-token cut). For each
   *  requested percentile q, the type-1 (ceil-rank) quantile: the
   *  smallest token count with at least ⌈q·n/100⌉ docs at or below it.
   *  The rank test is stated as 100·cum ≥ q·n — all BIGINT, so both
   *  engines bit-agree and no interpolation formula is involved.
   *
   *  Scale shape: the per-doc token count collapses into a LENGTH
   *  HISTOGRAM (one map-side-combinable groupBy on the length value —
   *  cardinality = distinct lengths, not docs), the cumulative sum runs
   *  over those few histogram rows, and each percentile is a constant
   *  bracket test per row ((cum − cnt)·100 < q·n ≤ 100·cum), exploded
   *  from a literal array. A 10^12-doc corpus shuffles one counter per
   *  distinct length — NO global sort of documents, no per-doc window.
   *  Returns (pct, n_tokens) ordered by pct. */
  def lengthQuantiles(docs: DataFrame, qs: Seq[Int] = Seq(50, 90, 99),
                      textCol: String = "text"): DataFrame = {
    require(qs.nonEmpty && qs.forall(p => p >= 1 && p <= 100))
    import org.apache.spark.sql.expressions.Window
    val hist = docs
      .select(size(filter(split(col(textCol), " "), w => w =!= lit("")))
        .cast("long").as("n_tokens"))
      .groupBy("n_tokens").agg(count(lit(1)).as("cnt"))
    val cum = hist.withColumn("cum",
      sum(col("cnt")).over(Window.orderBy(col("n_tokens"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    cum.crossJoin(broadcast(hist.agg(sum(col("cnt")).as("_n"))))
      .withColumn("pct", explode(lit(qs.sorted.distinct.toArray)))
      .filter((col("cum") - col("cnt")) * 100 < col("pct") * col("_n") &&
        col("pct") * col("_n") <= col("cum") * 100)
      .select(col("pct"), col("n_tokens"))
      .orderBy(col("pct"))
  }

  /** Skip-gram co-occurrence counts (word2vec / GloVe / PMI training
   *  prep): for every unordered word pair at distance ≤ `window` token
   *  positions (empty tokens removed before positions are assigned), the
   *  corpus-wide pair count. Pairs are canonicalized (least, greatest) so
   *  (a,b) and (b,a) accumulate together; pairs below `minCount` drop.
   *  Counts are exact BIGINTs — both engines bit-agree.
   *
   *  Scale shape: pair generation is pure array math inside the scan task
   *  (slice + zip_with per offset — no per-doc window function, no
   *  shuffle-by-doc_id), so the ONLY shuffle in the whole plan is the
   *  final map-side-combinable (w1, w2) count: a 10^12-doc corpus is read
   *  once and moves only partial pair counts. */
  def cooccurrence(docs: DataFrame, window: Int = 2, minCount: Long = 1,
                   textCol: String = "text"): DataFrame = {
    require(window >= 1, "window must be >= 1")
    val ws = filter(split(col(textCol), " "), w => w =!= lit(""))
    val pairCols = (1 to window).map { o =>
      val n = size(col("ws")) - o
      when(n > 0,
        zip_with(slice(col("ws"), lit(1), n),
          slice(col("ws"), lit(o + 1), n),
          (a, b) => struct(least(a, b).as("w1"), greatest(a, b).as("w2"))))
        .otherwise(array().cast("array<struct<w1:string,w2:string>>"))
    }
    docs.select(ws.as("ws"))
      .select(explode(concat(pairCols: _*)).as("p"))
      .select(col("p.w1"), col("p.w2"))
      .groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("n_pairs"))
      .filter(col("n_pairs") >= minCount)
  }

  def vocabulary(docs: DataFrame, k: Int = 100,
                 textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = docs
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(col("word") =!= "")
      .groupBy("word").agg(count(lit(1)).as("cnt"))
    val total = counts.agg(sum("cnt").as("_total"))
    val top = counts.orderBy(col("cnt").desc, col("word").asc).limit(k)
    val w = Window.orderBy(col("cnt").desc, col("word").asc)
    top.crossJoin(broadcast(total))
      .withColumn("rank", row_number().over(w))
      .withColumn("coverage",
        sum(col("cnt")).over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)).cast("double") / col("_total"))
      .select(col("rank"), col("word"), col("cnt"), col("coverage"))
  }
}
