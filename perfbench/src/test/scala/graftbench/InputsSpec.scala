package graftbench

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.fixtures.PageGen.Gold
import graft.link.Linker
import graft.model.{NER, Page, Provenance, SlotFill}

class InputsSpec extends AnyFunSuite {

  private def bytes(p: Page): Seq[Any] =
    Seq(p.url, p.warc_ts, p.html.toSeq, p.text, p.lang)

  test("the same seed gives byte-identical pages, documents and gold") {
    for (k <- Seq(0, 1, 19, 777)) {
      for (variant <- Seq(0, 1)) {
        val (c, gc) = Inputs.recrawlPage(7L, k, variant, 500)
        val (d, gd) = Inputs.recrawlPage(7L, k, variant, 500)
        assert(bytes(c) == bytes(d) && gc == gd)
      }
      assert(Inputs.document(7L, k) == Inputs.document(7L, k))
    }
  }

  test("different seeds give different inputs") {
    assert(Inputs.recrawlPage(1L, 5, 0, 500)._1.text != Inputs.recrawlPage(2L, 5, 0, 500)._1.text)
    assert((0 until 20).map(Inputs.document(1L, _)) != (0 until 20).map(Inputs.document(2L, _)))
  }

  test("documents have the operator suite's document statistics") {
    val docs = (0 until 4000).map(Inputs.document(9L, _))
    val texts = docs.map(_.text).toSet
    val (dups, plain) = docs.partition(_.text.endsWith(" dup"))
    assert(plain.forall(d => (10 to 99).contains(d.text.split(" ").length)))
    assert(docs.flatMap(_.text.split(" ")).toSet.size == 31)
    assert(dups.forall(d => texts.contains(d.text.stripSuffix(" dup"))))
    assert(math.abs(dups.size / 4000.0 - 0.05) < 0.01)
    assert(math.abs(docs.count(_.lang == "en") / 4000.0 - 0.41) < 0.03)
    assert(docs.forall(d => d.n_chars == d.text.length && d.source == s"src${d.doc_id % 20}"))
  }

  test("seeds reorder document words but keep word sets, lengths and copies") {
    for (k <- 0 until 300) {
      val (a, b) = (Inputs.document(1L, k).text, Inputs.document(2L, k).text)
      assert(a.split(" ").sorted.sameElements(b.split(" ").sorted))
    }
  }

  test("recrawl pages change content but keep their url") {
    val (a, _) = Inputs.recrawlPage(3L, 42, 0, 500)
    val (b, _) = Inputs.recrawlPage(3L, 42, 1, 500)
    assert(a.url == b.url && a.text != b.text)
  }

  test("suffix swaps rotate Inc. -> Corp. -> Ltd. -> Inc., possessives too") {
    assert(Inputs.swapSuffixes("Acme Tools Inc. hired him.") == "Acme Tools Corp. hired him.")
    assert(Inputs.swapSuffixes("Acme Tools Corp.'s website") == "Acme Tools Ltd.'s website")
    assert(Inputs.swapSuffixes("Acme Tools Ltd.") == "Acme Tools Inc.")
    assert(Inputs.swapSuffixes("Acme Tools Group") == "Acme Tools Group")
  }

  test("swapped pages rename orgs in text and gold alike") {
    val pages = (0 until 200).map(Inputs.recrawlPage(5L, _, 0, 100))
    for ((p, gold) <- pages; g <- gold; name <- Seq(g.subj, g.obj)
         if name.endsWith("Inc.") || name.endsWith("Corp.") || name.endsWith("Ltd."))
      assert(p.text.contains(name), s"$name not in ${p.url}")
  }

  test("org gold maps every surface form to the longest, then smallest") {
    val gold = Set(
      Gold("Alpha Beta Corp.", "org:website", "https://alpha"),
      Gold("Alpha Beta Inc.", "org:founded", "1990"),
      Gold("Gamma Delta Ltd.", "org:founded", "1970"),
      Gold("Gamma Delta Inc.", "org:website", "https://gamma"),
      Gold("Jane Doe", "per:employee_or_member_of", "Alpha Beta Inc."),
      Gold("Omega Ltd.", "org:founded", "2000"))
    assert(Inputs.linkOrgs(gold) == Set(
      Gold("Alpha Beta Corp.", "org:website", "https://alpha"),
      Gold("Alpha Beta Corp.", "org:founded", "1990"),
      Gold("Gamma Delta Inc.", "org:founded", "1970"),
      Gold("Gamma Delta Inc.", "org:website", "https://gamma"),
      Gold("Jane Doe", "per:employee_or_member_of", "Alpha Beta Corp."),
      Gold("Omega Ltd.", "org:founded", "2000")))
  }

  test("the org gold mapping agrees with the linker's representatives") {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.shuffle.partitions", "2").config("spark.ui.enabled", "false")
      .getOrCreate()
    try {
      import spark.implicits._
      val names = Seq("Alpha Beta Corp.", "Alpha Beta Inc.", "Alpha Beta Ltd.",
        "Gamma Delta Ltd.", "Gamma Delta Inc.", "Omega Sigma Corp.")
      val prov = Provenance("d", "u", 0, 0, 1, 2, 3)
      val fills = names.map(n => SlotFill(n, NER.ORGANIZATION, "org:founded", "1990", "DATE", 0.9, prov))
      val linked = Linker.canonicalize(spark, spark.createDataset(fills)).collect()
        .map(_.subj).toSet
      Linker.release()
      val mapped = Inputs.linkOrgs(names.map(Gold(_, "org:founded", "1990")).toSet).map(_.subj)
      assert(linked == mapped)
    } finally spark.stop()
  }
}
