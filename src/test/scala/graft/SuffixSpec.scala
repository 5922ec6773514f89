package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import graft.text.SuffixOps

/** SuffixOps on both of its paths: below the driver gate (the default on
 *  these fixtures) the suffix array is built in memory on the driver;
 *  under [[DriverGate.closed]] the doubling rounds run as Spark jobs.
 *  Every case checks that both paths return the same schema and rows. */
class SuffixSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** The rows of `f` on the driver path and on the rounds, by path name,
   *  after checking that both have the same schema. */
  private def bothPaths(f: => DataFrame): Seq[(String, Array[Row])] = {
    def rows(df: DataFrame) = try df.collect() finally df.unpersist()
    val (driver, rounds) = (f, DriverGate.closed(f))
    assert(driver.schema == rounds.schema)
    Seq("driver" -> rows(driver), "rounds" -> rows(rounds))
  }

  test("suffix ranks: the banana suffix array, dense and complete") {
    val d = Seq((0L, "banana")).toDF("doc_id", "text")
    bothPaths(SuffixOps.suffixRanks(spark, d)).foreach { case (path, raw) =>
      info(s"$path: " + raw.map(_.toString).mkString(" | "))
      val got = raw.map(r => r.getLong(1) -> r.getLong(2)).toMap
      // suffixes sorted: a(5) < ana(3) < anana(1) < banana(0) < na(4) < nana(2)
      assert(got == Map(5L -> 1L, 3L -> 2L, 1L -> 3L, 0L -> 4L,
        4L -> 5L, 2L -> 6L), path)
    }
  }

  test("suffix ranks: equal suffixes across docs share a dense rank") {
    val d = Seq((0L, "ab"), (1L, "ab")).toDF("doc_id", "text")
    bothPaths(SuffixOps.suffixRanks(spark, d)).foreach { case (path, raw) =>
      val got = raw.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
      // "ab" (x2) < "b" (x2): dense ranks 1,1,2,2
      assert(got == Map((0L, 0L) -> 1L, (1L, 0L) -> 1L,
        (0L, 1L) -> 2L, (1L, 1L) -> 2L), path)
    }
  }

  /** Brute-force suffix ranks: every code-point suffix of every doc,
   *  dense-ranked in UTF-8 byte order — Spark's string order. (Java's
   *  String order is UTF-16's, which differs past U+FFFF.) */
  private def bruteRanks(docs: Seq[(Long, String)]): Map[(Long, Long), Long] = {
    val all = docs.flatMap { case (id, t) =>
      val cps = t.codePoints().toArray
      cps.indices.map(i => (id, i.toLong, new String(cps, i, cps.length - i)))
    }
    val ranks = all.map(_._3).distinct
      .map(s => s -> s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      .sortWith((a, b) => java.util.Arrays.compareUnsigned(a._2, b._2) < 0)
      .zipWithIndex.map { case ((s, _), i) => s -> (i + 1L) }.toMap
    all.map { case (id, off, s) => (id, off) -> ranks(s) }.toMap
  }

  /** suffixRanks equals `want` on both paths; a failure names the path
   *  and a few wrong positions. */
  private def assertRanks(docs: Seq[(Long, String)],
                          want: Map[(Long, Long), Long]): Unit =
    bothPaths(SuffixOps.suffixRanks(spark, docs.toDF("doc_id", "text")))
      .foreach { case (path, rows) =>
        val got = rows.map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
        val bad = want.filter { case (pos, r) => !got.get(pos).contains(r) }
        val same = got.size == want.size && bad.isEmpty // no macro dump of the maps
        assert(same, s"$path: ${got.size} ranks for " +
          s"${want.size} positions, ${bad.size} wrong, e.g. " +
          bad.take(3).map { case (pos, r) => s"$pos: ${got.get(pos)} != $r" })
      }

  test("suffix ranks == brute-force dense rank on a multi-doc fixture") {
    val docs = Seq((0L, "the cat sat on the mat"), (1L, "the cat ran"),
      (2L, "a mat on the floor"), (3L, ""), (4L, "zz"), (5L, null))
    // the empty and null docs have no positions, so their absence is
    // part of the match
    assertRanks(docs, bruteRanks(docs.filter(_._2 != null)))
  }

  test("suffix ranks == brute force across several range partitions") {
    // 400 docs x 400 chars = 160,000 positions: past the 131,072 rows per
    // sort task, so every range sort runs on 2 of the session's 8
    // shuffle partitions. Exact copies and one-char mutations of 50 base
    // texts give equal suffixes across docs and repeats that differ only
    // after 16, 32, ... characters, so every doubling round runs.
    val rnd = new scala.util.Random(7)
    val bases = Array.fill(50)(Array.fill(400)("ab c"(rnd.nextInt(4))).mkString)
    val docs = (0 until 400).map { i =>
      val t = bases(i % 50).toCharArray
      if (i % 3 != 0) t(rnd.nextInt(400)) = 'x'
      (i.toLong, new String(t))
    }
    assert(docs.map(_._2.length).sum > 131072)
    assertRanks(docs, bruteRanks(docs))
  }

  test("suffix ranks: unicode docs equal a UTF-8-ordered code-point brute force") {
    // 2-byte (é, ж), 3-byte (世, ﬀ) and 4-byte (😀, 𝕏) code points. The
    // shared 24-code-point stretch ties the 16-code-point seed, so the
    // first four docs' leading suffixes differ only after it. ﬀ (U+FB00)
    // sorts before 😀 in UTF-8 but after it in UTF-16 (surrogates are
    // 0xD8xx), so a Java String sort would order them the other way.
    val shared = "aé世😀жﬀ𝕏b" * 3
    val rnd = new scala.util.Random(11)
    val alphabet = Array("a", "é", "ж", "世", "ﬀ", "😀", "𝕏")
    val texts = Seq(s"$shared😀 end", s"${shared}ﬀ end", s"x$shared😀",
      s"${shared}é") ++
      Seq.fill(8)(Seq.fill(40)(alphabet(rnd.nextInt(alphabet.length))).mkString)
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
    val want = bruteRanks(docs)
    // the fixture separates the two orders: bytes put doc 1's leading
    // suffix first, Java's String order doc 0's
    assert(want((1L, 0L)) < want((0L, 0L)) && texts(0) < texts(1))
    assertRanks(docs, want)
  }

  /** longestRepeats' (span, lcp, n_pairs) rows on both paths, in order. */
  private def repeats(docs: DataFrame, k: Int, cap: Int = 200)
      : Seq[(String, List[(String, Long, Long)])] =
    bothPaths(SuffixOps.longestRepeats(spark, docs, k, cap)).map { case (path, rows) =>
      path -> rows.map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toList
    }

  test("longest repeats: SA adjacency finds ana/na in banana") {
    // a nullable and a non-null text column
    Seq(Seq((0L, "banana")).toDF("doc_id", "text"),
      spark.range(1).select(col("id").as("doc_id"), lit("banana").as("text")))
      .foreach { d =>
        repeats(d, k = 10).foreach { case (path, got) =>
          // adjacent-pair LCPs: (a,ana)=1, (ana,anana)=3, (na,nana)=2
          assert(got == List(("ana", 3L, 1L), ("na", 2L, 1L)), path)
        }
      }
  }

  test("longest repeats: tied LCPs order spans by UTF-8 bytes; an LCP at the cap") {
    // "ﬀﬀ" (U+FB00, 3 bytes) and "😀😀" (U+1F600, 4 bytes) both repeat,
    // so their pairs tie at lcp 2 and k = 4 keeps only the first: ﬀ in
    // Spark's byte order, 😀 in Java's UTF-16 order (surrogate 0xD83D).
    // The 𝕏abc pair shares exactly cap = 4 code points.
    val docs = Seq((0L, "ﬀﬀ1"), (1L, "ﬀﬀ2"), (2L, "😀😀1"), (3L, "😀😀2"),
      (4L, "𝕏abc9"), (5L, "𝕏abc8")).toDF("doc_id", "text")
    repeats(docs, k = 4, cap = 4).foreach { case (path, got) =>
      assert(got == List(("𝕏abc", 4L, 1L), ("abc", 3L, 1L), ("bc", 2L, 1L),
        ("ﬀﬀ", 2L, 1L)), path)
    }
  }

  test("longest repeats: cross-document span, adjacency across partitions") {
    // the repeated clause appears in three docs -> 2 adjacent pairs at
    // the full clause LCP; repartitioning must not lose boundary pairs
    val clause = "officials declined to comment"
    val docs = Seq(
      (0L, s"early on, $clause today"),
      (1L, s"$clause again"),
      (2L, s"but $clause."),
      (3L, "something entirely different here")
    ).toDF("doc_id", "text").repartition(7)
    val got = repeats(docs, k = 5)
    assert(got(0)._2 == got(1)._2)
    assert(got(0)._2.nonEmpty)
    val top = got(0)._2.head
    // the top span carries the shared clause (suffixes starting at the
    // space BEFORE it legitimately share one char more)
    assert(top._1.contains(clause), s"top span ${top._1} lacks the planted clause")
    assert(top._2 >= clause.length)
  }

  test("repeatedSpans: fixed-length exact counts") {
    val docs = Seq(
      (0L, "abcdefghij-REPEATED-SPAN-HERE-xyz"),
      (1L, "zz REPEATED-SPAN-HERE-abcdefghij"),
      (2L, "nothing in common")).toDF("doc_id", "text")
    val got = SuffixOps.repeatedSpans(spark, docs, minLen = 18, k = 10)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got.contains("REPEATED-SPAN-HERE"))
    assert(got("REPEATED-SPAN-HERE") == 2L)
    // every reported span really occurs >= 2 times
    assert(got.values.forall(_ >= 2L))
  }

  test("repeatedSpans: hash-first two-pass == direct span group-by") {
    // r6: the count pass shuffles 16-byte md5 fingerprints and only
    // duplicated span TEXT ever crosses an exchange; this pins the
    // rewritten plan row-for-row against the direct group-by-text form
    import org.apache.spark.sql.functions._
    val docs = Seq(
      (0L, "the cat sat on the mat and the cat sat on the hat"),
      (1L, "the cat sat on the mat again said the cat sat on."),
      (2L, "completely unrelated text with no long repeats at all"),
      (3L, "the cat sat on the mat and the cat sat on the hat")
    ).toDF("doc_id", "text")
    val minLen = 12
    val got = SuffixOps.repeatedSpans(spark, docs, minLen, k = 1000)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted
    val want = docs
      .select(explode(expr(
        s"""transform(sequence(0, greatest(length(text) - $minLen, 0)),
            i -> substring(text, i + 1, $minLen))""")).as("span"))
      .filter(length(col("span")) >= minLen)
      .groupBy(col("span")).agg(count(lit(1)).as("n"))
      .filter(col("n") >= 2)
      .collect().map(r => (r.getString(0), r.getLong(1))).sorted
    assert(got.sameElements(want))
  }

  test("suffixRanks: empty and all-empty-text inputs return empty") {
    // longestRepeats too, and an all-null-text input
    Seq(Seq.empty[(Long, String)], Seq((0L, ""), (1L, "")), Seq((0L, null: String)))
      .map(_.toDF("doc_id", "text")).foreach { d =>
        bothPaths(SuffixOps.suffixRanks(spark, d)).foreach { case (path, rows) =>
          assert(rows.isEmpty, path)
        }
        repeats(d, k = 5).foreach { case (path, rows) => assert(rows.isEmpty, path) }
      }
  }

  // r6: the native suffix_lcp kernel (functions/LcpExpression.scala)
  // replaced the O(cap^2) higher-order LCP; these pin its code-point
  // semantics (Spark's substring "character" = code point, NOT Java
  // char) on multi-byte text, kernel-level and end-to-end.
  test("suffix LCP kernel: code-point semantics on multi-byte text") {
    import org.apache.spark.unsafe.types.UTF8String
    // reference: LCP over code-point arrays (what the HOF form computed
    // via substring equality), capped
    def ref(a: String, oa: Int, b: String, ob: Int, cap: Int): Int = {
      val ca = a.codePoints().toArray.drop(oa)
      val cb = b.codePoints().toArray.drop(ob)
      ca.zip(cb).take(cap).takeWhile { case (x, y) => x == y }.length
    }
    // 2-byte (é, ж), 3-byte (世), 4-byte/supplementary (😀, 𝕏) chars
    val cases = Seq(
      ("café 😀 world", 0, "café 😀 würld", 0, 200),
      ("café 😀 world", 5, "x café 😀 world", 7, 200), // same suffix, offsets differ
      ("жжжab", 0, "жжжac", 0, 200),
      ("世界世界世", 0, "世界世界x", 0, 200),
      ("𝕏𝕏𝕏", 0, "𝕏𝕏y", 0, 200),
      ("abc", 0, "abc", 0, 2),      // cap smaller than the match
      ("abc", 2, "abc", 2, 200),    // short tails
      ("a", 1, "a", 0, 200),        // offset past the end -> empty suffix
      ("😀a", 0, "😀b", 0, 200))    // mismatch right after a 4-byte char
    cases.foreach { case (a, oa, b, ob, cap) =>
      val got = graft.functions.LcpKernel.lcpAt(
        UTF8String.fromString(a), oa.toLong,
        UTF8String.fromString(b), ob.toLong, cap)
      assert(got == ref(a, oa, b, ob, cap),
        s"lcpAt($a, $oa, $b, $ob, $cap): got $got, want ${ref(a, oa, b, ob, cap)}")
    }
  }

  test("longest repeats: unicode corpus equals the HOF-form twin") {
    import spark.implicits._
    val clause = "мир 世界 😀 peace"
    val docs = Seq(
      (0L, s"начало $clause конец"),
      (1L, s"$clause und mehr"),
      (2L, s"unrelated text"),
      (3L, s"x $clause")).toDF("doc_id", "text").repartition(5)
    val paths = repeats(docs, k = 50)
    assert(paths(0)._2 == paths(1)._2)
    val got = paths(0)._2.sorted
    // the old HOF form over the same suffix ranks (capped at the same
    // 200 chars): prefix equality is monotone, so the count of
    // prefix-equal lengths IS the LCP
    val ranks = SuffixOps.suffixRanks(spark, docs)
    val withSuffix = ranks
      .join(docs.select(col("doc_id"), col("text").as("_t")), Seq("doc_id"))
      .select(col("rank"),
        substring(expr("substring(_t, off + 1)"), 1, 200).as("sfx"))
      .orderBy(col("rank")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val pairs = withSuffix.sliding(2).filter(_.length == 2)
      .map { case Array((_, a), (_, b)) => (a, b) }.toSeq
    def lcp(a: String, b: String): Int = {
      val ca = a.codePoints().toArray
      val cb = b.codePoints().toArray
      ca.zip(cb).takeWhile { case (x, y) => x == y }.length
    }
    def cpPrefix(s: String, n: Int): String = {
      val it = s.codePoints().toArray.take(n)
      new String(it, 0, it.length)
    }
    val want = pairs.map { case (a, b) => (a, lcp(a, b)) }
      .filter(_._2 >= 2)
      .map { case (a, l) => (cpPrefix(a, l), l.toLong) }
      .groupBy(identity).map { case ((s, l), g) => (s, l, g.size.toLong) }
      .toSeq.sortBy(t => (-t._2, t._1)).take(50).sorted
    assert(got == want.toList, s"native $got != HOF twin ${want.toList}")
    assert(got.exists(_._1.contains("世界")), "no unicode span surfaced")
  }
}
