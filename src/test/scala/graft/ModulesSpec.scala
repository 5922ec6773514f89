package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.evaluate.Evaluate
import graft.link.GraphOps
import graft.sources.Readers
import graft.io.OfficialOutput
import graft.train.Trainer

class ModulesSpec extends AnyFunSuite {

  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("multimodal: real PNG decodes to dimensions + channel means; fallback flagged") {
    import graft.multimodal.Multimodal
    // synthesize a real 8x4 PNG: left half pure red, right half pure blue
    val img = new java.awt.image.BufferedImage(8, 4,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 4; x <- 0 until 8)
      img.setRGB(x, y, if (x < 4) 0xFF0000 else 0x0000FF)
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    val png = bos.toByteArray
    val rows = Seq(
      Multimodal.MediaRow(1L, png, "image/png", png.length),
      Multimodal.MediaRow(2L, Array[Byte](1, 2, 3, 4),
        "application/octet-stream", 4))
    val out = Multimodal.extractFeatures(spark, rows.toDS())
      .collect().sortBy(_.media_id)
    val ok = out(0)
    assert(ok.decoded && ok.width == 8 && ok.height == 4)
    // half red + half blue: meanR == meanB == 127.5, meanG == 0
    assert(math.abs(ok.features(0) - 127.5f) < 0.51f)
    assert(ok.features(1) == 0f)
    assert(math.abs(ok.features(2) - 127.5f) < 0.51f)
    assert(ok.features.length == 19)
    val fb = out(1)
    assert(!fb.decoded && fb.width == -1 && fb.features.length == 19)
    assert(math.abs(fb.features.drop(3).sum - 1.0f) < 1e-5) // histogram L1
  }

  test("multimodal: real WAV decode via javax.sound.sampled; fallback flagged") {
    import graft.multimodal.Multimodal
    // hand-rolled constant-amplitude PCM16 WAV: id=6 -> 8000 Hz mono,
    // frames = 400 + (6%5)*80 = 480, every sample = 1000 + (6*131)%15000
    val wav = Multimodal.syntheticWav(6L)
    val rows = Seq(
      Multimodal.MediaRow(6L, wav, "audio/wav", wav.length),
      Multimodal.MediaRow(7L, Array[Byte](9, 9, 9, 9),
        "application/octet-stream", 4))
    val out = Multimodal.extractAudio(spark, rows.toDS())
      .collect().sortBy(_.media_id)
    val ok = out(0)
    assert(ok.decoded && ok.sample_rate == 8000 && ok.channels == 1)
    assert(ok.frames == 480L && ok.duration_ms == 60L)
    assert(ok.amp_rms == (1000 + 6 * 131 % 15000).toDouble) // exact: constant signal
    val fb = out(1)
    assert(!fb.decoded && fb.sample_rate == -1 && fb.amp_rms == -1.0)
    // a NON-constant signal: RMS of alternating +/-v is still v, but a
    // square wave with differing magnitudes must mix them — decode a
    // 4-frame WAV with samples (3, 4, 3, 4): rms = sqrt((9+16+9+16)/4)
    val bb = java.nio.ByteBuffer.allocate(44 + 8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + 8)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16).putShort(1).putShort(1)
      .putInt(8000).putInt(16000).putShort(2).putShort(16)
      .put("data".getBytes("US-ASCII")).putInt(8)
    Seq(3, 4, 3, 4).foreach(v => bb.putShort(v.toShort))
    val mixed = Multimodal.extractAudioOne(
      Multimodal.MediaRow(8L, bb.array(), "audio/wav", bb.array().length))
    assert(mixed.decoded && mixed.frames == 4L)
    assert(math.abs(mixed.amp_rms - math.sqrt(12.5)) < 1e-12)
  }

  test("multimodal: RVID frame sampling touches first/mid/last frames only") {
    import graft.multimodal.Multimodal
    // id=9 -> w=4+4=8... (9%5=4), h=4+0=4 (9%3=0), n=2+(9%7)%4=4
    val v = Multimodal.syntheticRawVideo(9L)
    val got = Multimodal.extractVideoOne(
      Multimodal.MediaRow(9L, v, "video/x-rvid", v.length))
    assert(got.decoded && got.width == 8 && got.height == 4)
    assert(got.n_frames == 4 && got.n_sampled == 4)
    assert(got.first_r == (9 * 11) % 256 && got.first_g == (9 * 13) % 256)
    assert(got.last_r == (9 * 11 + 3 * 7) % 256)
    assert(got.last_b == (9 * 17 + 3 * 29) % 256)
    // sampling is BOUNDED: a 100-frame clip probes MaxSampledFrames
    // evenly spaced frames including both endpoints
    val idx = Multimodal.sampleIndices(100)
    assert(idx.length == Multimodal.MaxSampledFrames)
    assert(idx.head == 0 && idx.last == 99 && idx.sameElements(idx.sorted))
    // truncated payload -> fallback, never a partial decode
    val bad = Multimodal.extractVideoOne(
      Multimodal.MediaRow(10L, v.dropRight(1), "video/x-rvid", v.length - 1))
    assert(!bad.decoded && bad.n_sampled == 0)
  }

  test("Evaluate.prf computes P/R/F1") {
    val got = Seq(("A", "p", "x"), ("A", "p", "y"), ("B", "q", "z"))
      .toDF("subj", "pred", "obj")
    val gold = Seq(("A", "p", "x"), ("B", "q", "z"), ("C", "r", "w"))
      .toDF("subj", "pred", "obj")
    val row = Evaluate.prf(spark, got, gold).collect()(0)
    assert(row.getAs[Long]("correct") == 2)
    assert(math.abs(row.getAs[Double]("precision") - 2.0 / 3) < 1e-9)
    assert(math.abs(row.getAs[Double]("recall") - 2.0 / 3) < 1e-9)
  }

  test("Evaluate.thresholdSweep: precision rises, recall falls with t") {
    val scored = Seq(("A", "p", "x", 0.95), ("A", "p", "y", 0.55),
      ("B", "p", "z", 0.15)).toDF("subj", "pred", "obj", "score")
    val gold = Seq(("A", "p", "x")).toDF("subj", "pred", "obj")
    val sweep = Evaluate.thresholdSweep(spark, scored, gold).collect()
    val at09 = sweep.find(_.getAs[Double]("threshold") == 0.9).get
    assert(at09.getAs[Long]("responses") == 1 &&
      at09.getAs[Long]("correct") == 1)
    val at01 = sweep.find(_.getAs[Double]("threshold") == 0.1).get
    assert(at01.getAs[Long]("responses") == 3)
  }

  test("TextStats: subword splits and the rolling-hash min window") {
    import graft.text.TextStats
    val df = Seq(
      (1L, "HTMLParser ABc foo2bar x-ray"), // camel/case/digit/punct splits
      (2L, "abcdefgh!"),                    // exactly one normalized window
      (3L, "zzzzzzzz aaaaaaaa"),            // min must pick the low window
      (4L, "short")                         // < 8 normalized chars -> null
    ).toDF("doc_id", "text")
    val out = df.select($"doc_id",
        TextStats.subwordCount($"text").as("sw"),
        TextStats.rollingMin($"text").as("rm"))
      .collect().map(r => r.getLong(0) ->
        (r.getInt(1), if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
    // HTMLP|arser AB|c foo|2|bar x|-|ray (greedy leftmost-first, the
    // same split RE2 produces for the oracle)
    assert(out(1L)._1 == 10)
    // independent plain-Scala recomputation of the polynomial min
    def roll(text: String): Option[Long] = {
      val t = text.toLowerCase.replaceAll("[^a-z0-9 ]", "")
      if (t.length < 8) None
      else Some((0 to t.length - 8).map(j =>
        (0 until 8).map(i => t(j + i).toLong * math.pow(31, 7 - i).toLong)
          .sum).min)
    }
    assert(out(2L)._2 == roll("abcdefgh!"))
    assert(out(3L)._2 == roll("zzzzzzzz aaaaaaaa"))
    assert(out(4L)._2.isEmpty)
  }

  test("GraphOps.transitiveClosure completes bounded chains") {
    val edges = Seq(
      ("A", "org:subsidiaries", "B", 1.0),
      ("B", "org:subsidiaries", "C", 1.0),
      ("C", "org:subsidiaries", "D", 1.0),
      ("A", "per:spouse", "E", 1.0)) // non-transitive pred: untouched
      .toDF("subj", "pred", "obj", "score")
    val closed = GraphOps.transitiveClosure(spark, edges, depth = 3)
      .collect().map(r => (r.getString(0), r.getString(2))).toSet
    assert(closed.contains(("A", "C")) && closed.contains(("B", "D")))
    assert(closed.contains(("A", "D"))) // depth-3 path
    assert(!closed.exists(_._2 == "E"))
  }

  test("GraphOps.connectedComponents finds min-label components") {
    val edges = Seq(("a", "b"), ("b", "c"), ("x", "y")).toDF("src", "dst")
    val comp = GraphOps.connectedComponents(spark, edges).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(comp("a") == "a" && comp("b") == "a" && comp("c") == "a")
    assert(comp("x") == "x" && comp("y") == "x")
  }

  test("GraphOps.connectedComponentsStar == min-label on a mixed graph") {
    // chain + triangle + isolated self-loop + star: every shape at once
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "d"),
      ("p", "q"), ("q", "r"), ("r", "p"),
      ("z", "z"),
      ("h", "h1"), ("h", "h2"), ("h", "h3")).toDF("src", "dst")
    def labels(df: DataFrame) =
      df.collect().map(r => (r.getString(0), r.getString(1))).toSet
    // the rounds (driver gate at 0) and the driver union-find
    val star = labels(DriverGate.closed(GraphOps.connectedComponentsStar(spark, edges)))
    val local = labels(GraphOps.connectedComponentsStar(spark, edges))
    val minl = labels(GraphOps.connectedComponents(spark, edges))
    assert(star == minl)
    assert(local == minl)
    assert(star.contains(("z", "z"))) // self-loop-only vertex keeps a label
  }

  test("GraphOps.connectedComponentsStar converges on a long chain in O(log n) rounds") {
    // diameter 120: min-label propagation would need ~120 rounds (its
    // default cap of 50 fails loudly); the star alternation contracts it
    // within its 30-round cap — the web-scale alias-chain case
    val n = 120
    val edges = (0 until n).map(i => (f"v$i%03d", f"v${i + 1}%03d"))
      .toDF("src", "dst")
    val comp = DriverGate.closed(GraphOps.connectedComponentsStar(spark, edges))
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(comp.length == n + 1)
    assert(comp.forall(_._2 == "v000")) // one component, min label
  }

  test("Readers: query XML, gold key and KB TSV round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("graft-readers")
    val xml = """<?xml version="1.0"?><kbpslotfill>
      <query id="SF13_ENG_001"><name>John Smith</name><docid>doc-1</docid>
      <enttype>PER</enttype><ignore>per:age per:title</ignore></query>
      <query id="SF13_ENG_002"><name>Acme Corp</name><docid>doc-2</docid>
      <enttype>ORG</enttype></query></kbpslotfill>"""
    val xmlPath = dir.resolve("q.xml")
    java.nio.file.Files.write(xmlPath, xml.getBytes("UTF-8"))
    val qs = Readers.queryXml(spark, xmlPath.toString).collect()
    assert(qs.length == 2)
    assert(qs(0).name == "John Smith" && qs(0).ent_type == "PERSON")
    assert(qs(0).ignored_preds == Seq("per:age", "per:title"))
    assert(qs(1).ent_type == "ORGANIZATION" && qs(1).ignored_preds.isEmpty)

    val goldPath = dir.resolve("gold.tsv")
    java.nio.file.Files.write(goldPath,
      "x\tSF13_ENG_001\tx\tper:title\tx\tx\tx\tx\tengineer\tx\t1\nx\tSF13_ENG_001\tx\tper:age\tx\tx\tx\tx\t44\tx\t-1\n"
        .getBytes("UTF-8"))
    val gold = Readers.goldKey(spark, goldPath.toString).collect()
    assert(gold.count(_.getAs[Boolean]("correct")) == 1)

    val kbPath = dir.resolve("kb.tsv")
    java.nio.file.Files.write(kbPath,
      "John Smith\tper:title\tengineer\n".getBytes("UTF-8"))
    assert(Readers.kbTuples(spark, kbPath.toString).count() == 1)
  }

  test("OfficialOutput rows: sorted, canonical names, provenance attached") {
    val (pages, _) = graft.fixtures.PageGen.corpus(20)
    val triples = graft.pipeline.KGPipeline.run(spark,
      spark.createDataset(pages))
    val rows = OfficialOutput.rows(triples, "graft-r1").collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getAs[String]("run_id") == "graft-r1"))
    assert(rows.forall(r => r.getAs[String]("provenance").contains(":")))
    // sorted by (subj, pred, slot_value)
    val keys = rows.map(r => (r.getAs[String]("subj"),
      r.getAs[String]("pred"), r.getAs[String]("slot_value")))
    assert(keys.sameElements(keys.sorted))
  }

  test("S5/S6 gazetteer + cluster file scans parse the reference formats") {
    import graft.sources.GazetteerFiles
    val dir = java.nio.file.Files.createTempDirectory("graft-gaz")
    def w(name: String, content: String) = {
      val p = dir.resolve(name)
      java.nio.file.Files.writeString(p, content)
      p.toString
    }
    val cities = GazetteerFiles.cities(spark,
      w("kbp_cities.tab", "Paris\tIDF\tFR\t2100000\nAustin\tTX\tUS\t950000"))
    val regions = GazetteerFiles.codeToName(spark,
      w("kbp_regions.tab", "Ile-de-France\tIDF\nTexas\tTX"))
    val countries = GazetteerFiles.codeToName(spark,
      w("kbp_countries.tab", "France\tFR\nUnited States\tUS"))
    val resolved = GazetteerFiles.resolvedCities(cities, regions, countries)
    assert(resolved("Paris") == ("Ile-de-France", "France"))
    assert(resolved("Austin") == ("Texas", "United States"))
    val clusters = GazetteerFiles.wordClusters(spark,
      w("clusters.tsv", "founded\tc41\ncreated\tc41"))
    assert(clusters("founded") == "c41" && clusters("created") == "c41")
    val names = GazetteerFiles.commonNames(spark,
      w("common_names.txt", "John\nMary\n"))
    assert(names == Set("John", "Mary"))
  }

  test("S6 committed word-cluster file loads; featurizer consults it with " +
       "a hash fallback for OOV") {
    import graft.nlp.Gazetteers
    import graft.sources.GazetteerFiles
    // the committed resource parses through the S6 file reader too
    val committed = GazetteerFiles.wordClusters(spark,
      "src/main/resources/graft/word_clusters.tsv")
    assert(committed.size > 1000)
    assert(committed == Gazetteers.wordClusterFile)
    // semantically-coherent classes: months share a cluster, and it is not
    // the titles cluster
    assert(Gazetteers.wordCluster("january") ==
      Gazetteers.wordCluster("march"))
    assert(Gazetteers.wordCluster("engineer") ==
      Gazetteers.wordCluster("lawyer"))
    assert(Gazetteers.wordCluster("january") !=
      Gazetteers.wordCluster("engineer"))
    // case-folded lookup; OOV words take the deterministic hash bucket
    assert(Gazetteers.wordCluster("January") ==
      Gazetteers.wordCluster("january"))
    val oov = Gazetteers.wordCluster("zzxqvw")
    assert(oov.startsWith("c") && oov == Gazetteers.wordCluster("zzxqvw"))
  }

  test("Trainer: A5 alternate-value forms for known-slot matching") {
    import graft.train.Trainer
    assert(Trainer.alternateValues("1985-03-02").contains("1985-XX-XX"))
    assert(Trainer.alternateValues("1985-XX-XX").isEmpty)
    assert(Trainer.alternateValues("John Quincy Smith")
      .contains("John Smith"))
    assert(Trainer.alternateValues("Dr. John Smith Jr.")
      .contains("John Smith"))
    assert(Trainer.alternateValues("John Smith").isEmpty) // 2 tokens: no alt
  }

  test("Trainer: threshold + subsample + one-vs-all LR learns a trigger") {
    val (pages, gold) = graft.fixtures.PageGen.corpus(30)
    val kb = gold.toSeq.map(g => (g.subj, g.pred, g.obj))
      .toDF("subj", "pred", "obj")
      // train on the canonical (pre-official-rename) relation name space
      .withColumn("pred", when($"pred" === "per:employee_or_member_of",
        "per:employee_of").otherwise($"pred"))
    val weights = Trainer.train(spark, spark.createDataset(pages), kb,
      Seq("per:title"))
    assert(weights.contains("per:title"))
    assert(weights("per:title").coefficients.numNonzeros > 0)
    // the tuned threshold is at least the global default and no training
    // negative crosses it
    assert(weights("per:title").threshold >= 0.5)
  }

  test("RelationFilter keeps best pair per (sentence, relation)") {
    import graft.model.{NER, Provenance, SlotFill}
    val p1 = Provenance("d", "u", 0, 0, 1, 2, 3)
    val fills = Seq(
      SlotFill("A", NER.PERSON, "per:title", "engineer", NER.TITLE, 0.9, p1),
      SlotFill("B", NER.PERSON, "per:title", "lawyer", NER.TITLE, 0.7, p1),
      SlotFill("A", NER.PERSON, "per:spouse", "C D", NER.PERSON, 0.8, p1))
    val out = GraphOps.relationFilter(spark, spark.createDataset(fills))
      .collect()
    assert(out.length == 2)
    assert(out.exists(f => f.pred == "per:title" && f.obj == "engineer"))
  }
}
