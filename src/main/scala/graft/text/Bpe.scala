package graft.text

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.Fixpoint

/**
 * Distributed BPE merge training (Sennrich et al. ACL 2016 — the
 * byte-pair-encoding tokenizer learner every modern LLM data pipeline
 * runs somewhere).
 *
 * Scale-correct formulation: the corpus is touched ONCE, to build the
 * word-frequency table (vocab-bounded — ~10^6 rows for web text, vs
 * 10^12 documents); every merge round then runs over that small table:
 *
 *   1. weighted adjacent-pair counts: explode each word's symbol array
 *      into (left, right, word_count) and sum — map-side combinable,
 *      keyed by the pair;
 *   2. argmax pair by (count DESC, left ASC, right ASC) — a 1-row
 *      collect, deterministic under any partitioning;
 *   3. re-encode the VOCAB's symbol arrays, merging non-overlapping
 *      occurrences left to right (an `aggregate` fold over each word's
 *      symbols — greedy-left semantics, the reference algorithm's
 *      single-round replace).
 *
 * The rounds run through [[graft.ops.Fixpoint]], which cuts each round's
 * plan and owns its cache.
 *
 * No end-of-word marker is appended (toy-alphabet corpora here; adding
 * the classic "</w>" sentinel is a one-line change to `symbolize` and
 * does not alter the dataflow).
 */
object Bpe {

  /** (word, count) table from a corpus — the ONE corpus-wide pass. */
  def wordFreq(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs.select(explode(split(lower(col(textCol)), "\\W+")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy("word").agg(count(lit(1)).as("cnt"))

  /** word -> character symbol array (round-0 encoding). */
  def symbolize(vocab: DataFrame): DataFrame =
    vocab.select(split(col("word"), "").as("syms"), col("cnt"))

  /** Weighted adjacent-pair counts over a symbolized vocab. */
  def pairCounts(symbolized: DataFrame): DataFrame =
    symbolized
      .select(posexplode(expr("slice(syms, 1, size(syms) - 1)"))
        .as(Seq("i", "l")), col("syms"), col("cnt"))
      .select(col("l"), expr("syms[i + 1]").as("r"), col("cnt"))
      .groupBy(col("l"), col("r"))
      .agg(sum(col("cnt")).as("n"))

  /** Greedy left-to-right single-round merge of (l, r) inside each
   *  word's symbol array: fold that joins the pair when the accumulator's
   *  last element is `l` and the next symbol is `r` — non-overlapping,
   *  leftmost-first, exactly the reference replace. */
  private def mergeExpr(l: String, r: String) = {
    val le = l.replace("\\", "\\\\").replace("'", "\\'")
    val re = r.replace("\\", "\\\\").replace("'", "\\'")
    expr(
      s"""aggregate(syms, CAST(array() AS ARRAY<STRING>), (acc, x) ->
         |  CASE WHEN size(acc) > 0 AND element_at(acc, -1) = '$le'
         |            AND x = '$re'
         |       THEN concat(slice(acc, 1, size(acc) - 1),
         |                   array('$le' || '$re'))
         |       ELSE concat(acc, array(x)) END)""".stripMargin)
  }

  /** Train `nMerges` merges; returns (rank, left, right, pair_count)
   *  in training order. Stops early when no pair repeats. */
  def trainMerges(spark: SparkSession, docs: DataFrame, nMerges: Int,
                  textCol: String = "text"): Seq[(Int, String, String, Long)] =
    trainVocab(spark, docs, nMerges, textCol)._1

  /** Like [[trainMerges]] but also returns the trained SEGMENTATION
   *  table (word, syms, cnt) — the final symbolization of every corpus
   *  word, which IS the encoder: segmenting a corpus with trained merges
   *  is a join of its words against this table ([[encode]]), one corpus
   *  pass, never nMerges re-walks of the text. The caller unpersists the
   *  returned DataFrame when done. */
  def trainVocab(spark: SparkSession, docs: DataFrame, nMerges: Int,
                 textCol: String = "text")
      : (Seq[(Int, String, String, Long)], DataFrame) = {
    // the most frequent pair if it repeats; the one action per round, so
    // it also materializes the round's re-encoded vocab
    def best(syms: DataFrame): Option[(String, String, Long)] =
      pairCounts(syms).orderBy(col("n").desc, col("l").asc, col("r").asc)
        .limit(1).collect().headOption
        .map(t => (t.getString(0), t.getString(1), t.getLong(2)))
        .filter(_._3 >= 2)
    val out = Seq.newBuilder[(Int, String, String, Long)]
    // state: (vocab symbols, its best pair)
    val vocab = Fixpoint.run(spark, "bpe", nMerges) { r =>
      val syms = r.cache(symbolize(wordFreq(docs, textCol))
        .withColumn("word", concat_ws("", col("syms"))))
      val top = best(syms)
      ((syms, top), top.isEmpty)
    } { case ((syms, top), r) =>
      val (l, rt, n) = top.get
      out += ((r.index, l, rt, n))
      val next = r.cache(syms.select(mergeExpr(l, rt).as("syms"), col("cnt"),
        col("word")))
      val nextTop = best(next)
      ((next, nextTop), nextTop.isEmpty)
    } { case ((syms, _), _) => syms }
    (out.result(), vocab)
  }

  /** Segment a corpus with a trained segmentation table
   *  ([[trainVocab]]'s second result): per doc, subword counts and the
   *  segmented word stream. One corpus pass + one join keyed on the word
   *  (the vocab side is dictionary-sized — Spark broadcasts it when it
   *  fits, shuffles otherwise); out-of-vocabulary words fall back to
   *  their character split, the reference encoder's behavior for unseen
   *  words with no applicable merges. */
  def encode(docs: DataFrame, vocab: DataFrame,
             textCol: String = "text"): DataFrame = {
    val words = docs.select(col("doc_id"),
      posexplode(split(lower(col(textCol)), "\\W+")).as(Seq("pos", "word")))
      .filter(length(col("word")) > 0)
    words
      .join(vocab.select(col("word"), col("syms")), Seq("word"), "left")
      .withColumn("syms",
        coalesce(col("syms"), split(col("word"), "")))
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_words"),
        sum(size(col("syms"))).as("n_subwords"),
        array_join(flatten(transform(array_sort(collect_list(
          struct(col("pos"), col("syms")))), s => s("syms"))), " ")
          .as("subword_stream"))
  }
}
