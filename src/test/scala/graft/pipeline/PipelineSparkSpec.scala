package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Operator-level Spark tests: planted-duplicate recovery for every
  * dedup variant, ANN neighbor recovery, entity linking, streaming
  * extraction equivalence with batch, and plan-shape assertions
  * (broadcast where intended, parquet column pruning).
  */
class PipelineSparkSpec extends AnyFunSuite with graft.TempRoots {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = try { if (spark != null) spark.stop() } finally super.afterAll()

  private def docs(rows: (Long, String, String)*): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toSeq.toDF("doc_id", "text", "source")
  }

  test("distributed BPE encode matches the driver-side reference and trainer round-trips") {
    val d = docs(
      (1L, "spark spark merge", "a"),
      (2L, "filter window", "a"),
      (3L, "", "b"),
      (4L, null, "b")
    )
    val merges = Bpe.train(d, numMerges = 8, maxTypes = 100)
    assert(merges.nonEmpty)
    val rank = merges.zipWithIndex.toMap
    val expected = Map(
      1L -> Seq("spark", "spark", "merge").map(w => Bpe.encodeWord(w, rank).length.toLong).sum,
      2L -> Seq("filter", "window").map(w => Bpe.encodeWord(w, rank).length.toLong).sum,
      3L -> 0L,
      4L -> 0L)
    val got = Bpe.tokenCounts(d, merges).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("bpe_tokens")).toMap
    assert(got == expected)
    // trained-vocab greedy segmenter: total subwords per doc >= word count
    // (every word splits into >=1 piece); empty AND NULL text count zero
    // (the oracle convention: coalesce(..., 0) on both sides)
    val g = d.select(col("doc_id"), TextOps.subwordCount(col("text"), Bpe.trainedVocabPattern).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(g(1L) >= 3 && g(2L) >= 2 && g(3L) == 0 && g(4L) == 0)
    val pt = d.select(col("doc_id"), TextOps.bpePretokenCount(col("text")).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(pt(4L) == 0 && pt(3L) == 0)
    val sw = d.select(col("doc_id"), TextOps.subwordCount(col("text"), TextOps.subwordPattern).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sw(4L) == 0)
  }

  test("exact dedup groups identical normalized texts") {
    val d = docs(
      (1L, "Hello   World", "a"),
      (2L, "hello world", "a"),
      (3L, "something else entirely", "b")
    )
    val out = Dedup.exact(d).collect()
    val dup = out.find(_.getAs[Long]("n_copies") == 2).get
    assert(dup.getAs[Long]("keep_id") == 1L)
    assert(out.length == 2)
  }

  test("minhash LSH finds a planted near-duplicate pair") {
    val base = (1 to 40).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 38).map(i => s"tok$i").mkString(" ") + " other words"
    val noise = (100 to 140).map(i => s"zzz$i").mkString(" ")
    val d = docs((1L, base, "s"), (2L, nearDup, "s"), (3L, noise, "s"))
    val pairs = Dedup.minhashLsh(d, threshold = 0.5).collect()
    assert(pairs.exists(r => r.getAs[Long]("a") == 1L && r.getAs[Long]("b") == 2L), pairs.mkString(","))
    assert(!pairs.exists(r => r.getAs[Long]("b") == 3L || r.getAs[Long]("a") == 3L))
  }

  test("jaccard prefix join equals brute-force trigram Jaccard exactly (completeness)") {
    // same trigram semantics as Dedup.shingleRows, computed independently
    def tris(text: String): Set[String] = {
      val ws = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      val n = math.max(ws.length - 2, 1)
      (0 until n).map(i => ws.slice(i, i + 3).mkString(" ")).filter(_.nonEmpty).toSet
    }
    // chains of heavily-overlapping docs (neighbors qualify), plus a
    // short doc (single sub-width shingle) and noise that must not pair
    val rows = (1 to 24).map { i =>
      (i.toLong, (i to i + 20).map(k => s"w${k / 3}").mkString(" "), "s")
    } ++ Seq(
      (40L, "tiny doc", "s"), (41L, "tiny doc", "s"),
      (42L, (500 to 540).map(k => s"z$k").mkString(" "), "s"))
    val d = docs(rows: _*)
    val sets = rows.map { case (id, text, _) => id -> tris(text) }.filter(_._2.nonEmpty).toMap
    val expected = (for {
      a <- sets.keys; b <- sets.keys if a < b
      ic = (sets(a) & sets(b)).size
      un = sets(a).size + sets(b).size - ic
      if ic * 2 >= un
    } yield (a, b) -> ic.toDouble / un).toMap
    assert(expected.nonEmpty)
    val got = Dedup.jaccardPrefixJoin(d).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b")) -> r.getAs[Double]("jaccard")).toMap
    assert(got.keySet == expected.keySet,
      s"missing=${expected.keySet -- got.keySet} extra=${got.keySet -- expected.keySet}")
    expected.foreach { case (k, j) => assert(math.abs(got(k) - j) < 1e-4, s"$k: ${got(k)} vs $j") }
  }

  test("simhash finds a planted near-duplicate and separates noise") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 58).map(i => s"tok$i").mkString(" ") + " xq yq"
    val noise = (200 to 260).map(i => s"qqq$i").mkString(" ")
    val d = docs((1L, base, "s"), (2L, nearDup, "s"), (3L, noise, "s"))
    val pairs = Dedup.simhash(d, maxHamming = 6).collect()
    assert(pairs.exists(r => r.getAs[Long]("a") == 1L && r.getAs[Long]("b") == 2L), pairs.mkString(","))
    assert(!pairs.exists(r => r.getAs[Long]("b") == 3L || r.getAs[Long]("a") == 3L))
  }

  test("ngram jaccard is symmetric-free (a<b) and respects the threshold") {
    val d = docs(
      (1L, "alpha beta gamma delta", "s"),
      (2L, "alpha beta gamma epsilon", "s"),
      (3L, "totally different words here", "s")
    )
    val pairs = Dedup.ngramJaccard(d, threshold = 0.5).collect()
    assert(pairs.length == 1)
    assert(pairs(0).getAs[Long]("a") == 1L && pairs(0).getAs[Long]("b") == 2L)
    assert(pairs(0).getAs[Double]("jaccard") == 0.6)
  }

  test("brute-force cosine ANN recovers the planted nearest neighbor") {
    val s = spark
    import s.implicits._
    val vecs = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f), 0),
      (2L, Array(0.9f, 0.1f, 0.0f), 0), // near 1
      (3L, Array(0.0f, 1.0f, 0.0f), 1),
      (4L, Array(0.0f, 0.0f, 1.0f), 2)
    ).toDF("vec_id", "embedding", "label")
    val out = Similarity.bruteCosine(vecs, vecs.where($"vec_id" === 1), k = 1).collect()
    assert(out.length == 1)
    assert(out(0).getAs[Long]("corpus_id") == 2L)
  }

  test("LSH cosine ANN finds high-similarity neighbors") {
    val s = spark
    import s.implicits._
    val vecs = (0 until 50).map { i =>
      val base = Array.tabulate(16)(j => math.sin(i * 17 + j).toFloat)
      (i.toLong, base, i % 5)
    }.toDF("vec_id", "embedding", "label")
    // every vector should at least find itself bucketed with SOMETHING
    val out = Similarity.lshCosine(vecs, k = 3, planes = 4, tables = 4)
    assert(out.count() > 0)
  }

  test("multi-probe LSH (radius 1) candidates are a superset of exact-bucket candidates") {
    val s = spark
    import s.implicits._
    val vecs = (0 until 60).map { i =>
      val base = Array.tabulate(16)(j => math.sin(i * 17 + j).toFloat)
      (i.toLong, base, i % 5)
    }.toDF("vec_id", "embedding", "label")
    def pairs(r: Int) = Similarity.lshCosine(vecs, k = 60, planes = 6, tables = 2, probeRadius = r)
      .select("query_id", "corpus_id").collect()
      .map(x => (x.getLong(0), x.getLong(1))).toSet
    val exact = pairs(0)
    val probed = pairs(1)
    // flip mask 0 keeps every exact-bucket pair; the extra flips only add
    assert(exact.subsetOf(probed), s"missing: ${exact.diff(probed).take(5)}")
    assert(probed.size > exact.size) // radius-1 genuinely reaches more pairs here
  }

  test("IVF ANN recovers the same top neighbor as brute force for in-list queries") {
    val s = spark
    import s.implicits._
    // 3 well-separated clusters of 20 vectors each
    val vecs = (0 until 60).map { i =>
      val c = i % 3
      val base = Array.tabulate(8)(j => (if (j == c) 10.0 else 0.0).toFloat)
      val jitter = Array.tabulate(8)(j => (math.sin(i * 13 + j) * 0.5).toFloat)
      (i.toLong, base.zip(jitter).map { case (a, b) => a + b }, c)
    }.toDF("vec_id", "embedding", "label")
    val queries = vecs.where($"vec_id" < 3)
    val ivf = Similarity.ivfCosine(vecs, queries, k = 1, nLists = 6, nProbe = 2)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("corpus_id")).toMap
    val brute = Similarity.bruteCosine(vecs, queries, k = 1)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("corpus_id")).toMap
    assert(ivf == brute, s"ivf=$ivf brute=$brute")
  }

  test("entity linking links page tokens to alias-dictionary entities via broadcast join") {
    val s = spark
    import s.implicits._
    val pages = Seq(
      ("http://p1", "the widget connects to the grommet", "en")
    ).toDF("url", "text", "lang")
    val triples = Seq(
      ("http://p1", "http://ex.org/vocab/Widget", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", "x", "iri", null, null),
      ("http://p1", "http://ex.org/vocab/Grommet", "http://www.w3.org/1999/02/22-rdf-syntax-ns#type", "x", "iri", null, null)
    ).toDF("url", "subj", "pred", "obj", "objKind", "lang", "datatype")
    val aliases = KgPipeline.entityAliases(triples)
    val links = KgPipeline.linkMentions(pages, aliases).collect()
    assert(links.map(_.getAs[String]("entity")).toSet ==
      Set("http://ex.org/vocab/Widget", "http://ex.org/vocab/Grommet"))
    // plan shape: the alias side must be broadcast
    val plan = KgPipeline.linkMentions(pages, aliases).queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("canonicalize merges near-identical entity aliases") {
    val s = spark
    import s.implicits._
    val aliases = Seq(
      ("http://a.org/AcmeCorporation", "acmecorporation"),
      ("http://b.org/AcmeCorporationX", "acmecorporationx"),
      ("http://c.org/Unrelated", "unrelated")
    ).toDF("entity", "alias")
    val cm = KgPipeline.canonicalize(aliases).collect()
    val canonOf = cm.map(r => r.getString(0) -> r.getString(1)).toMap
    assert(canonOf("http://a.org/AcmeCorporation") == canonOf("http://b.org/AcmeCorporationX"))
    assert(canonOf("http://c.org/Unrelated") == "http://c.org/Unrelated")
  }

  test("multimodal feature extraction is deterministic and flags corrupt assets") {
    val assets = Multimodal.syntheticAssets(spark, 64, 4)
    val f1 = Multimodal.extractFeatures(assets).collect().sortBy(_.asset_id)
    val f2 = Multimodal.extractFeatures(assets).collect().sortBy(_.asset_id)
    assert(f1.map(_.features.toSeq) sameElements f2.map(_.features.toSeq))
    assert(f1.exists(!_.ok)) // the planted corrupt (empty-payload) assets
    assert(f1.filter(_.ok).forall(_.features.length == 8))
    val video = f1.find(a => a.ok && a.kind == "video").get
    assert(video.frames >= 1)
  }

  test("exportRdfXml chunks hub subjects with bounded memory and round-trips") {
    val s = spark
    import s.implicits._
    val hub = (1 to 25).map(i =>
      ("u", "http://ex.org/hub", s"http://ex.org/vocab/p$i", s"val$i", "literal", null: String, null: String))
    val solo = Seq(
      ("u", "http://ex.org/solo", "http://ex.org/vocab/p1", "http://ex.org/obj", "iri", null: String, null: String))
    val edges = (hub ++ solo).toDF("url", "subj", "pred", "obj", "objKind", "lang", "datatype")
    val lines = KgPipeline.exportRdfXml(edges, maxChunk = 10).collect().filter(_.nonEmpty)
    // hub (25 triples / chunk 10) → 3 description elements, solo → 1;
    // a hub subject is never materialized whole in one task
    assert(lines.length == 4, lines.mkString("\n"))
    // globally-consistent prefixes with no driver coordination: wrap the
    // independently-encoded lines in one root and re-parse
    val ns = "http://ex.org/vocab/"
    val doc =
      s"""<rdf:RDF xmlns:rdf="${graft.rdf.Vocab.rdfNs}" xmlns:${KgPipeline.nsPrefix(ns)}="$ns">""" +
        lines.mkString + "</rdf:RDF>"
    val g = graft.xml.RdfXmlParser.parse(doc).toOption.get
    assert(g.triples.size == 26)
    assert(g.triples.count(_.s == graft.rdf.Iri("http://ex.org/hub")) == 25)
    assert(g.triples.contains(graft.rdf.Triple(
      graft.rdf.Iri("http://ex.org/solo"), graft.rdf.Iri("http://ex.org/vocab/p1"),
      graft.rdf.Iri("http://ex.org/obj"))))
  }

  test("writeRdfXml emits valid standalone documents that re-parse to the input graph") {
    val s = spark
    import s.implicits._
    val edges = (1 to 30).map(i =>
      ("u", s"http://ex.org/s${i % 7}", s"http://ex.org/vocab/p${i % 5}", s"val$i", "literal",
        null: String, null: String))
      .toDF("url", "subj", "pred", "obj", "objKind", "lang", "datatype")
    val dir = freshRoot("graft_writerdf").toString + "/out"
    KgPipeline.writeRdfXml(edges, dir, maxChunk = 4)
    val files = new java.io.File(dir).listFiles().filter(_.getName.endsWith(".txt"))
    assert(files.nonEmpty)
    val reparsed = files.flatMap { f =>
      val content = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      if (content.isEmpty) Set.empty[graft.rdf.Triple]
      else graft.xml.RdfXmlParser.parse(content).fold(e => fail(e.message + "\n" + content), _.triples)
    }.toSet
    assert(reparsed.size == 30)
    assert(reparsed.contains(graft.rdf.Triple(
      graft.rdf.Iri("http://ex.org/s1"), graft.rdf.Iri("http://ex.org/vocab/p1"),
      graft.rdf.Lit.plain("val1"))))
  }

  test("writeRdfXml keeps non-ASCII property names: rdf-charmod-uris/test002 re-parses to its .nt") {
    val s = spark
    import s.implicits._
    val rel = "rdf-charmod-uris/test002"
    def fixture(ext: String): Array[Byte] =
      java.nio.file.Files.readAllBytes(SyntheticPages.fixtureRoot.resolve(rel + ext))
    val golden = graft.rdf.NTriples.parse(new String(fixture(".nt"), "UTF-8"))
    val triples = Extract.run(s.createDataset(Seq(SyntheticPages.page(rel + ".rdf", fixture(".rdf"), 0, 0))))
      .flatMap(_.triple).toDF()
    val out = freshRoot("graft_charmod").resolve("out")
    KgPipeline.writeRdfXml(triples, out.toString)
    val reparsed = out.toFile.listFiles().filter(_.getName.endsWith(".txt")).toSeq.flatMap { f =>
      val content = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      graft.xml.RdfXmlParser.parse(content).fold(e => fail(e.message + "\n" + content), _.triples)
    }.toSet
    assert(golden.size == 2 && reparsed == golden, reparsed)
  }

  test("streaming extraction equals batch extraction on the same pages") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = s.sqlContext

    val pages = SyntheticPages.fixtureFiles().take(30).zipWithIndex.map { case ((rel, b), i) =>
      SyntheticPages.page(rel, b, copy = 1, rowIdx = i.toLong)
    } :+ {
      // a page carrying the microdata + JSON-LD island formats: the
      // streaming path must extract them identically (same triplesOf)
      val html =
        """<html><body>
          |<div itemscope itemtype="http://schema.org/Person" itemid="http://e/px">
          |<span itemprop="name">Px</span></div>
          |<script type="application/ld+json">{"@context":"https://schema.org","@id":"http://e/jx","name":"Jx"}</script>
          |</body></html>""".stripMargin
      Page("http://test.example/islands", new java.sql.Timestamp(0L),
        html.getBytes("UTF-8"), "", "en")
    }
    val mem = MemoryStream[Page]
    mem.addData(pages)
    val q = StreamingExtract.triples(mem.toDF())
      .writeStream.format("memory").queryName("stream_triples").outputMode("append").start()
    q.processAllAvailable()
    q.stop()
    val streamed = s.sql("SELECT url, subj, pred, obj FROM stream_triples").collect().toSet

    val batch = Extract.run(s.createDataset(pages)).flatMap(_.triple)
      .select("url", "subj", "pred", "obj").collect().toSet
    assert(streamed == batch)
    assert(streamed.nonEmpty)
    // the island page's microdata AND JSON-LD triples flow through both paths
    val islandSubjects = streamed.collect {
      case r if r.getString(0) == "http://test.example/islands" => r.getString(1)
    }
    assert(islandSubjects.contains("http://e/px"), islandSubjects.toString)
    assert(islandSubjects.contains("http://e/jx"), islandSubjects.toString)
  }

  test("streaming exact dedup emits each fingerprint once across batches (custom state)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = s.sqlContext
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = StreamingExtract.streamingExactDedup(
      mem.toDF().toDF("doc_id", "text", "event_ts"))
      .toDF("fp", "keep_id")
      .writeStream.format("memory").queryName("stream_dedup").outputMode("append").start()
    // batch 1: two copies of A (normalized-equal), one B
    mem.addData(Seq((5L, "Hello   World", ts), (9L, "hello world", ts), (2L, "other text", ts)))
    q.processAllAvailable()
    // batch 2: another copy of A (must be suppressed by state), new C
    mem.addData(Seq((1L, "HELLO WORLD", ts), (7L, "third thing", ts)))
    q.processAllAvailable()
    q.stop()
    val out = s.sql("SELECT fp, keep_id FROM stream_dedup").collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(out.length == 3, out.mkString(","))
    val byFp = out.toMap
    // A's keeper is the min doc_id of the FIRST batch it appeared in (5),
    // not the later duplicate (1)
    assert(byFp.values.toSet == Set(5L, 2L, 7L), out.mkString(","))
  }

  test("streaming near-dup finds a planted pair ACROSS micro-batches and rejects noise") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = s.sqlContext
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    val base = "the quick brown fox jumps over the lazy dog again and again while the cat watches quietly from the warm windowsill"
    val nearDup = base.replace("warm", "cold") // one word differs → high word-shingle overlap
    val noise = "completely unrelated text about spark catalyst optimizer rules and parquet column pruning strategies"
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = StreamingExtract.streamingNearDup(
      mem.toDF().toDF("doc_id", "text", "event_ts"), threshold = 0.5)
      .toDF("a", "b", "jaccard")
      .writeStream.format("memory").queryName("stream_neardup").outputMode("append").start()
    mem.addData(Seq((1L, base, ts), (3L, noise, ts)))
    q.processAllAvailable()
    // the near-dup arrives in a LATER micro-batch — only cross-batch
    // state can pair it with doc 1
    mem.addData(Seq((2L, nearDup, ts)))
    q.processAllAvailable()
    q.stop()
    val out = s.sql("SELECT DISTINCT a, b, jaccard FROM stream_neardup").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(out.length == 1, out.mkString(","))
    assert(out.head._1 == 1L && out.head._2 == 2L && out.head._3 >= 0.5, out.head.toString)
  }

  test("streaming near-dup consumer contract: .distinct() equals the batch minhashLsh pair set") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = s.sqlContext
    val ts = java.sql.Timestamp.valueOf("2024-01-01 00:00:00")
    // three clearly-separated near-dup clusters + unrelated noise: every
    // planted pair has word-shingle jaccard >> 0.5, noise ~0, so BOTH
    // hash families (streaming FNV minhash, batch xxhash64 minhash)
    // recover exactly the planted pairs and verify identical exact
    // jaccard values
    def doc(vocab: String, n: Int, twist: Int): String =
      (1 to n).map(i => if (i == twist) s"${vocab}X$i" else s"$vocab$i").mkString(" ")
    val docs: Seq[(Long, String)] =
      Seq(1L -> doc("alpha", 40, 0), 2L -> doc("alpha", 40, 39), 3L -> doc("alpha", 40, 2)) ++
        Seq(10L -> doc("beta", 50, 0), 11L -> doc("beta", 50, 49)) ++
        Seq(20L -> doc("gamma", 35, 0), 21L -> doc("gamma", 35, 34)) ++
        (30L to 39L).map(i => i -> doc(s"noise${i}z", 30, 0))
    val mem = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = StreamingExtract.streamingNearDup(
      mem.toDF().toDF("doc_id", "text", "event_ts"), threshold = 0.5)
      .toDF("a", "b", "jaccard")
      .writeStream.format("memory").queryName("stream_neardup_contract").outputMode("append").start()
    // split across micro-batches so cross-batch state pairing is exercised
    docs.grouped(6).foreach { g =>
      mem.addData(g.map { case (id, t) => (id, t, ts) })
      q.processAllAvailable()
    }
    q.stop()
    val raw = s.sql("SELECT a, b, jaccard FROM stream_neardup_contract").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // the documented contract: duplicates across bands are possible; the
    // consumer's .distinct() yields the canonical pair set
    val streamed = raw.distinct.map { case (a, b, j) => (a, b) -> j }.toMap
    val batch = Dedup.minhashLsh(docs.toDF("doc_id", "text"), threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(batch.keySet == Set((1L, 2L), (1L, 3L), (2L, 3L), (10L, 11L), (20L, 21L)), batch.toString)
    assert(streamed.keySet == batch.keySet, s"streamed=${streamed.keySet} batch=${batch.keySet}")
    // exact-jaccard verify agrees per pair (both sides compute the true
    // shingle-set jaccard; rounding modes differ at the 4th decimal)
    streamed.foreach { case (k, j) => assert(math.abs(j - batch(k)) < 1e-3, s"$k: $j vs ${batch(k)}") }
  }

  test("connected components labels every node with its component minimum") {
    val s = spark
    import s.implicits._
    // two components {1,2,3,7} (chain + branch) and {10,11}; 5 isolated (absent)
    val edges = Seq((2L, 1L), (2L, 3L), (3L, 7L), (10L, 11L)).toDF("a", "b")
    val out = KgPipeline.connectedComponents(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L, 10L -> 10L, 11L -> 10L))
  }

  test("connected components converges on a 60-node path graph (diameter >> old 25-round cap)") {
    val s = spark
    import s.implicits._
    // a pure chain is the worst case for O(diameter) min-label
    // propagation; large-star/small-star must close it in O(log n)
    // rounds without tripping the iteration cap
    val chain = (1L until 60L).map(i => (i + 1, i)).toDF("a", "b")
    val out = KgPipeline.connectedComponents(chain).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(out.keySet == (1L to 60L).toSet)
    assert(out.values.forall(_ == 1L), out.toString)
  }

  test("connected components on string node ids uses lexicographic minima (oracle semantics)") {
    val s = spark
    import s.implicits._
    val edges = Seq(("b", "c"), ("c", "aa"), ("z", "y")).toDF("a", "b")
    val out = KgPipeline.connectedComponents(edges).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out == Map("aa" -> "aa", "b" -> "aa", "c" -> "aa", "y" -> "y", "z" -> "y"))
  }

  test("connectedComponentsDelta merges touched components only and equals the full recompute") {
    val s = spark
    import s.implicits._
    // base: {a,b,c} labeled a, {d,e} labeled d, isolated f labeled f
    val baseLabels = Seq(("a", "a"), ("b", "a"), ("c", "a"),
      ("d", "d"), ("e", "d"), ("f", "f")).toDF("node", "component")
    // delta: c-e merges the two big components; b-a is a same-component
    // no-op; g-h is a brand-new pair; z attaches to f
    val delta = Seq(("c", "e"), ("b", "a"), ("g", "h"), ("f", "z")).toDF("a", "b")
    val got = KgPipeline.connectedComponentsDelta(baseLabels, delta).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(got == Map("a" -> "a", "b" -> "a", "c" -> "a", "d" -> "a", "e" -> "a",
      "f" -> "f", "z" -> "f", "g" -> "g", "h" -> "g"), got.toString)
    // definitional equivalence: full CC over (base-label graph ∪ delta)
    val fullEdges = baseLabels.where($"node" =!= $"component")
      .select($"node".as("a"), $"component".as("b"))
      .unionByName(delta)
    val full = KgPipeline.connectedComponents(fullEdges).collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    // full CC never sees edge-less nodes; delta keeps isolated f — align
    assert(got.filter { case (k, _) => full.contains(k) } == full, s"$got vs $full")
  }

  test("coherenceRank: votes flip the prior winner only when a related candidate co-occurs") {
    val s = spark
    import s.implicits._
    val mentions = Seq((1L, "paris"), (1L, "france"), (2L, "paris")).toDF("doc", "mention")
    val candidates = Seq(
      ("paris", "e_paris_tx", 5L), ("paris", "e_paris_fr", 4L),
      ("france", "e_france", 9L)).toDF("mention", "ent", "prior")
    val related = Seq(("e_paris_fr", "e_france"), ("e_france", "e_paris_fr")).toDF("a", "b")
    val got = KgPipeline.coherenceRank(mentions, candidates, related)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getAs[Long]("score"))).toSet
    assert(got == Set(
      // doc 1: the france mention votes for the French Paris: 4*10+25 = 65 > 50
      (1L, "paris", "e_paris_fr", 65L),
      (1L, "france", "e_france", 115L), // 9*10 + vote from e_paris_fr
      // doc 2: no co-occurring mention — prior winner stays
      (2L, "paris", "e_paris_tx", 50L)), got.toString)
  }

  test("wordpieceSegment: longest match wins at each position, single-char fallback, order preserved") {
    val s = spark
    import s.implicits._
    val words = Seq("thing", "zebra", "x", "ingestion").toDF("word")
    val got = Bpe.wordpieceSegment(words).collect()
      .map(r => (r.getString(0), r.getString(1), r.getAs[Long]("ntok"))).toSet
    assert(got == Set(
      // 'th' beats 't'; 'ing' (3) beats 'in' (2) at position 2
      ("thing", "th,ing", 2L),
      // no unit matches z/e/b; 'ra' closes
      ("zebra", "z,e,b,ra", 4L),
      ("x", "x", 1L),
      // greedy: 'ing' then 'es' then 'tio' (3 beats 'ti'), stranding 'n'
      ("ingestion", "ing,es,tio,n", 4L)), got.toString)
  }

  test("cdcSummary: totals reconcile with the census and the corpus; identical docs halve to ~50% saved") {
    val s = spark
    import s.implicits._
    val t = (0 until 300).map(i => ('a' + (i * 7 + i / 3) % 26).toChar).mkString
    val docs = Seq((1L, t), (2L, t), (3L, "abc")).toDF("doc_id", "text")
    val row = Dedup.cdcSummary(docs, width = 8, maskBits = 3).collect().head
    val (nCh, nDist, total, saved, ppm) = (row.getLong(0), row.getLong(1),
      row.getLong(2), row.getLong(3), row.getLong(4))
    // chunk chars tile the corpus exactly (300 + 300 + 3)
    assert(total == 603L, row.toString)
    // identical docs 1/2: at least one full copy of t is redundant
    // (within-t chunk collisions can only add savings)
    assert(saved >= 300L && saved < 603L, row.toString)
    // the ppm is the truncating quotient of the row's own sums
    assert(ppm == saved * 1000000L / total, row.toString)
    assert(nCh > nDist && nDist >= 1, row.toString)
  }

  test("editDistance1Pairs: sub/ins/del all found via deletion blocking; transposition collides but verify drops it") {
    val s = spark
    import s.implicits._
    val words = Seq("cat", "cut", "cats", "at", "dog", "ab", "ba", "cat").toDF("word")
    val got = Dedup.editDistance1Pairs(words).collect()
      .map(r => (r.getString(0), r.getString(1), r.getAs[Long]("dist"))).toSet
    assert(got == Set(
      ("cat", "cut", 1L),   // substitution: shared delete-at-2 variant "ct"
      ("cat", "cats", 1L),  // insertion: "cat" is in "cats"'s neighborhood
      ("at", "cat", 1L),    // deletion
      ("ab", "at", 1L)),    // substitution at 2 via shared "a"
      got.toString)
    // "ab"/"ba" (distance 2, a transposition) shares variant "a" — a
    // candidate the blocking overshoots and the verify must drop
    assert(!got.exists(p => p._1 == "ab" && p._2 == "ba"), got.toString)
  }

  test("cdcChunkCensus: short-doc whole-text chunk exact; content-defined boundaries re-sync after a prepend shift") {
    val s = spark
    import s.implicits._
    // varied text (no repeated windows): with maskBits=3 the ~300
    // distinct windows make a zero-boundary draw astronomically
    // unlikely (0.88^292), unlike a repeated motif whose ~45 distinct
    // windows can all miss the mask
    val t = (0 until 300).map(i => ('a' + (i * 7 + i / 3) % 26).toChar).mkString
    val docs = Seq(
      (1L, t),
      (2L, "x" + t),     // one-char prepend: CDC re-syncs after the first
                         // content boundary — fixed-width chunking would
                         // share nothing with doc 1
      (3L, "abc"), (4L, "abc") // below window width: whole-text chunks
    ).toDF("doc_id", "text")
    val got = Dedup.cdcChunkCensus(docs, width = 8, maskBits = 3).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    // md5("abc") = 900150983cd24fb0... — the short-doc pair, exact
    val abc = got.filter(_._1 == "900150983cd2")
    assert(abc.toSeq == Seq(("900150983cd2", 3L, 2L, 2L, 3L)), got.mkString(";"))
    // every duplicated chunk reports >= 2 copies and positive savings
    assert(got.forall(r => r._3 >= 2 && r._5 == (r._3 - 1) * r._2), got.mkString(";"))
    // the CDC property: despite the 1-char shift, docs 1 and 2 share
    // at least one content-aligned chunk (n_docs == 2 beyond the abc pair)
    assert(got.exists(r => r._1 != "900150983cd2" && r._4 == 2L), got.mkString(";"))
  }

  test("greedy-vs-viterbi gap: greedy cost >= optimum, excess exact where longest-match loses") {
    val s = spark
    import s.implicits._
    val words = Seq("ingestion", "thing", "x").toDF("word")
    val greedy = Bpe.wordpieceSegment(words)
      .select(col("word"),
        expr("aggregate(split(tokens, ','), 0L, (s, t) -> s + IF(length(t) = 1, 100L, 70L * length(t) + 10L))").as("greedy_cost"))
    val got = Bpe.viterbiSegmentCensus(words).join(greedy, Seq("word"))
      .select(col("word"), col("greedy_cost"), col("min_cost"),
        (col("greedy_cost") - col("min_cost")).as("excess"))
      .collect().map(r => (r.getString(0), r.getAs[Long]("greedy_cost"),
        r.getAs[Long]("min_cost"), r.getAs[Long]("excess"))).toSet
    assert(got == Set(
      // greedy ing|es|tio|n = 690 (tio strands the final n); optimal
      // ing|es|ti|on = 220+150+150+150 = 670
      ("ingestion", 690L, 670L, 20L),
      // greedy th|ing = 370 IS the optimum (t|hi ties midway but loses by the end)
      ("thing", 370L, 370L, 0L),
      ("x", 100L, 100L, 0L)), got.toString)
  }

  test("int8QuantCensus: exact micro-unit errors, underflow count, zero-vector scale guard") {
    val s = spark
    import s.implicits._
    val emb = Seq(
      (1L, Seq(0.001f, -0.0005f, 0.0f)), // a=[1000,500,0]: 500->q63->recon496, err 4
      (2L, Seq(1.0f, 0.000001f)),        // a=[1000000,1]: 1 quantizes to 0 -> underflow
      (3L, Seq(0.0f, 0.0f))              // zero vector: scale clamps to 1, all zero
    ).toDF("vec_id", "embedding")
    val got = Similarity.int8QuantCensus(emb).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toSet
    assert(got == Set(
      (1L, 3L, 1000L, 4L, 4L, 0L),
      (2L, 2L, 1000000L, 1L, 1L, 1L),
      (3L, 2L, 1L, 0L, 0L, 0L)), got.toString)
  }

  test("viterbiSegmentCensus: global min cost beats greedy; ties counted; duplicates collapse") {
    val s = spark
    import s.implicits._
    val words = Seq("ter", "ingo", "xq", "a", "ation", "ter").toDF("word")
    val got = Bpe.viterbiSegmentCensus(words).collect()
      .map(r => (r.getString(0), r.getAs[Long]("len"),
        r.getAs[Long]("min_cost"), r.getAs[Long]("n_best"))).toSet
    assert(got == Set(
      // te+r == t+er tie at 250 (three singles would be 300)
      ("ter", 3L, 250L, 2L),
      // ing(220)+o(100): the trigram lane reaching back 3 positions
      ("ingo", 4L, 320L, 1L),
      // no unit covers anything: pure single-char fallback
      ("xq", 2L, 200L, 1L),
      ("a", 1L, 100L, 1L),
      // ati|on (220+150) ties at|ion (150+220); at+io+n is 400
      ("ation", 5L, 370L, 2L)), got.toString)
  }

  test("eccentricity: per-seed exact BFS depth; cap-equals-ecc legal; truncation throws") {
    val s = spark
    import s.implicits._
    val path = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("a", "b")
    val got = GraphOps.eccentricity(path, Seq(1L, 3L).toDF("node"), maxHops = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == Set((1L, 4L, 5L), (3L, 2L, 5L)), got.toString)
    // cap exactly equal to the true eccentricity: no throw
    val exact = GraphOps.eccentricity(path, Seq(3L).toDF("node"), maxHops = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact == Set((3L, 2L)))
    // cap below the true eccentricity: must throw, never truncate
    intercept[IllegalStateException] {
      GraphOps.eccentricity(path, Seq(1L).toDF("node"), maxHops = 2).collect()
    }
  }

  test("degreeCensus: whole-bit buckets partition the degree table") {
    val s = spark
    import s.implicits._
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L), (2L, 3L)).toDF("a", "b")
    val got = GraphOps.degreeCensus(star).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got == Set(
      (2L, 1L, 4L, 4L, 4L),  // hub: deg 4 -> bucket 2
      (1L, 2L, 2L, 2L, 4L),  // nodes 2,3: deg 2 -> bucket 1
      (0L, 2L, 1L, 1L, 2L)), // leaves 4,5: deg 1 -> bucket 0
      got.toString)
  }

  test("modularityCensus: exact numerator 4me_c - d_c^2; reversed dups canonicalize; self-loops and unlabeled-only labels drop") {
    val s = spark
    import s.implicits._
    // two triangles bridged by one edge: m = 7, each side d_sum = 7,
    // e_in = 3 -> mod_num = 4*7*3 - 49 = 35 per community
    val edges = Seq(
      ("a1", "a2"), ("a2", "a1"), // reversed duplicate canonicalizes away
      ("a2", "a3"), ("a1", "a3"), ("a3", "a3"), // self-loop drops
      ("b1", "b2"), ("b2", "b3"), ("b1", "b3"),
      ("a1", "b1")).toDF("a", "b")
    val labels = Seq(
      ("a1", 0L), ("a2", 0L), ("a3", 0L),
      ("b1", 1L), ("b2", 1L), ("b3", 1L),
      ("z9", 2L)).toDF("node", "community") // label without edges: no census row
    val got = GraphOps.modularityCensus(edges, labels)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4))).toSet
    assert(got == Set((0L, 3L, 3L, 7L, 35L), (1L, 3L, 3L, 7L, 35L)), got.toString)
  }

  test("assortativityStats: exact sums on the bridged-triangles graph; dups/self-loops canonicalize away") {
    val s = spark
    import s.implicits._
    // two triangles bridged by a1-b1 (the modularity fixture): degrees
    // a1=b1=3, rest 2; per-edge (du*dv, du+dv, du^2+dv^2) sum to
    // (41, 34, 86) over the 7 canonical edges
    val edges = Seq(
      ("a1", "a2"), ("a2", "a1"), ("a2", "a3"), ("a1", "a3"), ("a3", "a3"),
      ("b1", "b2"), ("b2", "b3"), ("b1", "b3"), ("a1", "b1")).toDF("a", "b")
    val got = GraphOps.assortativityStats(edges).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == Seq((7L, 41L, 34L, 86L)), got.toString)
  }

  test("kAnonymityViolations: only groups below k report, with their sizes") {
    val s = spark
    import s.implicits._
    val rows = Seq(
      ("s1", "en"), ("s1", "en"), ("s1", "en"), // size 3: fine at k=3
      ("s1", "fr"), ("s1", "fr"),               // size 2: violates
      ("s2", "en")).toDF("source", "lang")      // size 1: violates
    val got = Curation.kAnonymityViolations(rows, Seq("source", "lang"), k = 3L)
      .collect().map(r => (r.getString(0), r.getString(1), r.getAs[Long]("n"))).toSet
    assert(got == Set(("s1", "fr", 2L), ("s2", "en", 1L)), got.toString)
  }

  test("blockingQuality: contingency pair counts, recall and reduction ppm") {
    val s = spark
    import s.implicits._
    // gold groups {1,3,5} and {2,4,6}; blocks {1,4,5} and {2,3,6}
    val items = (1L to 6L).map(i => (i, i % 2, (i / 2) % 2)).toDF("id", "gold_key", "block_key")
    val got = Curation.blockingQuality(items).collect().head
    // gold 3+3=6, cand 3+3=6, covered cells {1,5} and {2,6} -> 2
    assert((got.getLong(0), got.getLong(1), got.getLong(2), got.getLong(3),
      got.getLong(4), got.getLong(5)) == (6L, 6L, 6L, 2L, 333333L, 600000L), got.toString)
  }

  test("mixDrift: full-outer surfaces over-represented, untargeted, and absent sources") {
    val s = spark
    import s.implicits._
    val df = Seq("s1", "s1", "s1", "s2").toDF("source")
    val targets = Seq(("s1", 500000L), ("s3", 200000L)).toDF("source", "target_ppm")
    val got = Curation.mixDrift(df, targets).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toSet
    assert(got == Set(
      ("s1", 3L, 750000L, 500000L, 250000L),
      ("s2", 1L, 250000L, 0L, 250000L),
      ("s3", 0L, 0L, 200000L, -200000L)), got.toString)
  }

  test("freqSpectrum: frequency-of-frequencies with token mass") {
    val s = spark
    import s.implicits._
    val docs = Seq("a a b", "b c", "d").toDF("text")
    // freqs: a=2, b=2, c=1, d=1 -> spectrum (1,2,2), (2,2,4)
    val spec = CorpusOps.freqSpectrum(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(spec == Set((1L, 2L, 2L), (2L, 2L, 4L)), spec.toString)
  }

  test("agreementKappa: po/pe/kappa ppm, incl. the negative-kappa sign case") {
    val s = spark
    import s.implicits._
    // perfect disagreement on a balanced binary label: po=0,
    // pe=500000 -> kappa = -1000000 (the sign-cased lane)
    val anti = Seq(("x", "y"), ("y", "x"), ("x", "y"), ("y", "x")).toDF("a", "b")
    val g1 = Curation.agreementKappa(anti).collect().head
    assert((g1.getLong(0), g1.getLong(1), g1.getLong(2), g1.getLong(3)) ==
      (4L, 0L, 500000L, -1000000L), g1.toString)
    // 3/4 agreement, unbalanced marginals: po=750000,
    // pe = (3*4 + 1*0)/16 = 750000 -> kappa 0
    val part = Seq(("x", "x"), ("x", "x"), ("x", "x"), ("y", "x")).toDF("a", "b")
    val g2 = Curation.agreementKappa(part).collect().head
    assert((g2.getLong(0), g2.getLong(1), g2.getLong(2), g2.getLong(3)) ==
      (4L, 750000L, 750000L, 0L), g2.toString)
    // perfect agreement: kappa 1000000
    val same = Seq(("x", "x"), ("y", "y")).toDF("a", "b")
    val g3 = Curation.agreementKappa(same).collect().head
    assert((g3.getLong(1), g3.getLong(3)) == (1000000L, 1000000L), g3.toString)
  }

  test("SparkEntry.entry (driver smoke contract) returns triples") {
    val df = graft.SparkEntry.entry(spark)
    assert(df.limit(5).count() > 0)
    assert(df.columns.toSet == Set("url", "subj", "pred", "obj", "objKind", "lang", "datatype"))
  }

  test("bucketed graph tables join co-located — no shuffle in the plan") {
    val s = spark
    import s.implicits._
    val edges = (1 to 200).map(i => (s"http://ex/s${i % 40}", s"http://ex/p${i % 5}", s"o$i"))
      .toDF("subj", "pred", "obj")
    val nodes = (0 until 40).map(i => (s"http://ex/s$i", i.toLong)).toDF("subj", "outDegree")
    KgPipeline.materializeBucketed(edges, "graft_edges_t")
    KgPipeline.materializeBucketed(nodes, "graft_nodes_t")
    val prevThreshold = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force SMJ to expose the shuffle question
      val joined = s.table("graft_edges_t").join(s.table("graft_nodes_t"), "subj")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan)
      assert(!plan.contains("Exchange"), plan) // bucket-aligned: shuffle-free
      assert(joined.count() == 200)
    } finally {
      s.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      s.sql("DROP TABLE IF EXISTS graft_edges_t")
      s.sql("DROP TABLE IF EXISTS graft_nodes_t")
    }
  }

  test("export boundaries mangle scoped bnode labels NCName/PN_CHARS-safe (strict check)") {
    val s = spark
    import s.implicits._
    val scope = "0123456789abcdef0123456789abcdef"
    val edges = Seq(
      ("u", s"_:b0@$scope", "http://ex.org/vocab/p1", "val", "literal", null: String, null: String),
      ("u", s"_:b0@$scope", "http://ex.org/vocab/p2", s"_:bx1@$scope", "bnode", null: String, null: String))
      .toDF("url", "subj", "pred", "obj", "objKind", "lang", "datatype")
    val lines = KgPipeline.exportRdfXml(edges, selfContained = true).collect().filter(_.nonEmpty)
    val nodeIds = lines.flatMap("""rdf:nodeID="([^"]+)"""".r.findAllMatchIn(_).map(_.group(1)))
    // every exported rdf:nodeID passes the STRICT NCName production —
    // the reference encoder's guarantee (encoder.ex:253-270), not the
    // decoder's lax bug-compat check
    assert(nodeIds.nonEmpty)
    assert(nodeIds.forall(graft.rdf.Iris.isStrictNCName), nodeIds.mkString(","))
    // bijective: the two distinct internal labels stay distinct
    assert(nodeIds.toSet.size == 2, nodeIds.mkString(","))
    // N-Triples sink: '@' never appears in an exported blank-node label
    val nt = graft.sources.RdfSources.toNTriplesLines(edges).as[String].collect()
    assert(nt.length == 2)
    assert(nt.forall(l => !l.contains("@")), nt.mkString("\n"))
    val labels = nt.flatMap("""_:(\S+)""".r.findAllMatchIn(_).map(_.group(1)))
    assert(labels.forall(graft.rdf.Iris.isStrictNCName), labels.mkString(","))
    assert(labels.toSet.size == 2)
  }

  test("lax-admitted bnode labels (spaces, bad start, non-ASCII) still export as strict NCNames") {
    val s = spark
    import s.implicits._
    // the lax decoder admits all of these as nodeIDs; the export mangle
    // must cover them, not just the internal 'b<n>@<scope>' shape
    // "b\n" pins the \z anchor: java's $ matches before a trailing
    // newline, which would leak a raw newline into the N-Triples line
    // "b0." pins the trailing-dot rule: legal NCName tail, but illegal
    // as the FINAL char of an N-Triples BLANK_NODE_LABEL → md5 branch
    val weird = Seq("a b", "0start", "ümläut", "pct%25", "b0@scope", "", "b\n", "b0.")
    val edges = weird.zipWithIndex.map { case (l, i) =>
      (s"u$i", s"_:$l", "http://ex.org/vocab/p", s"v$i", "literal", null: String, null: String)
    }.toDF("url", "subj", "pred", "obj", "objKind", "lang", "datatype")
    val nt = graft.sources.RdfSources.toNTriplesLines(edges).as[String].collect()
    assert(nt.length == weird.size)
    val labels = nt.map("""^_:(\S+) """.r.findFirstMatchIn(_).get.group(1))
    assert(labels.forall(graft.rdf.Iris.isStrictNCName), labels.mkString(","))
    assert(labels.toSet.size == weird.size) // injective across all shapes
    // the SQL column mangle and the Scala mangle must agree exactly
    // (RDF/XML export uses the Scala path, the N-Triples sink the SQL one)
    assert(labels.toSeq == weird.map(graft.rdf.Iris.ncSafeLabel))
  }

  test("embedding near-dup recovers a planted high-cosine pair and rejects noise") {
    val s = spark
    import s.implicits._
    val dim = 16
    def vec(seed: Int): Array[Float] =
      Array.tabulate(dim)(j => math.sin(seed * 31 + j * 7).toFloat)
    val planted = vec(1).zipWithIndex.map { case (v, j) => v + math.sin(j).toFloat * 0.05f }
    val vecs = ((1L, vec(1), 0) +: (2L, planted, 0) +:
      (3L to 100L).map(i => (i, vec(i.toInt * 13 + 5), 1))).toDF("vec_id", "embedding", "label")
    val pairs = Similarity.embeddingNearDup(vecs, threshold = 0.9, planes = 8, tables = 4)
      .collect()
    assert(pairs.exists(r => r.getAs[Long]("a") == 1L && r.getAs[Long]("b") == 2L),
      pairs.mkString(","))
    assert(pairs.forall(_.getAs[Double]("cos") >= 0.9))
  }

  test("repetition stats: known duplicate-word, top-word and top-bigram shares") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "spam spam spam eggs"), // 4 words, 2 distinct; top word 3/4; top bigram "spam spam" 2/3
      (2L, "all words unique here"), // no repetition; bigrams all 1/3
      (3L, "solo"), // 1 word: no bigrams
      (4L, "") // empty: all zeros
    ).toDF("doc_id", "text")
    val out = Curation.repetitionStats(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out(1L) == ((2L * 10000 / 4, 3L * 10000 / 4, 2L * 10000 / 3)), out(1L).toString)
    assert(out(2L) == ((0L, 2500L, 3333L)), out(2L).toString)
    assert(out(3L) == ((0L, 10000L, 0L)), out(3L).toString)
    assert(out(4L) == ((0L, 0L, 0L)), out(4L).toString)
  }

  test("text normalization: NFC composes, controls strip, whitespace collapses; plan is shuffle-free") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "Cafe\u0301 du parc"), // decomposed accent -> composed: 13 chars -> 12
      (2L, "bell\u0007 and\u0000null"), // C0 controls stripped
      (3L, "  too\t\tmany   spaces\r\n"), // collapse + trim
      (4L, "already clean"), // unchanged
      (5L, "")
    ).toDF("doc_id", "text")
    val out = Curation.normalizeText(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out(1L) == (("Caf\u00e9 du parc", 1L, 13L, 12L)), out(1L).toString)
    assert(out(2L) == (("bell andnull", 1L, 14L, 12L)), out(2L).toString)
    assert(out(3L) == (("too many spaces", 1L, 22L, 15L)), out(3L).toString)
    assert(out(4L) == (("already clean", 0L, 13L, 13L)), out(4L).toString)
    assert(out(5L) == (("", 0L, 0L, 0L)), out(5L).toString)
    // projection-only plan: no shuffle, no UDF boxing
    val plan = Curation.normalizeText(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.toLowerCase.contains("batchevalpython"), plan)
  }

  test("URL canonicalization: case, default ports, empty path, fragment; domain rollup groups") {
    val s = spark
    import s.implicits._
    val urls = Seq(
      (1L, "HtTpS://WWW.News.Example.COM:443/a/b/p?id=1&ref=x#top", 100L),
      (2L, "HTTP://site.ORG:80/path#frag", 200L),
      (3L, "https://Api.Site.Net:8443?x=1", 300L), // non-default port KEPT, empty path
      (4L, "http://www.site.org/path", 400L), // same canonical target as doc 2
      (5L, "ftp://Files.example.com:21/pub", 500L), // unknown scheme: port kept
      (6L, "http://h.example/p#sec?tab=2", 600L), // '?' INSIDE the fragment: no query
      (7L, "//cdn.example.com/lib.js", 700L), // protocol-relative: unparseable
      (8L, "mailto:someone@example.org", 800L) // no authority: unparseable
    ).toDF("doc_id", "url", "n_chars")
    val out = Curation.canonicalizeUrls(urls).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getString(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(out(1L) == (("https://www.news.example.com/a/b/p?id=1&ref=x", "news.example.com", 3L, 1L, 1L)), out(1L).toString)
    assert(out(2L) == (("http://site.org/path", "site.org", 1L, 0L, 1L)), out(2L).toString)
    assert(out(3L) == (("https://api.site.net:8443/?x=1", "api.site.net:8443", 1L, 1L, 1L)), out(3L).toString)
    assert(out(4L) == (("http://www.site.org/path", "site.org", 1L, 0L, 1L)), out(4L).toString)
    assert(out(5L) == (("ftp://files.example.com:21/pub", "files.example.com:21", 1L, 0L, 1L)), out(5L).toString)
    // the fragment (and the '?' inside it) is dropped, not resurrected
    assert(out(6L) == (("http://h.example/p", "h.example", 1L, 0L, 1L)), out(6L).toString)
    // unparseable: verbatim passthrough, NULL domain, parsed = 0
    assert(out(7L) == (("//cdn.example.com/lib.js", null, 0L, 0L, 0L)), out(7L).toString)
    assert(out(8L) == (("mailto:someone@example.org", null, 0L, 0L, 0L)), out(8L).toString)
    // rollup: docs 2 and 4 share site.org; unparseable rows excluded
    val stats = Curation.domainStats(urls).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(stats("site.org") == ((2L, 600L, 2L, 0L)), stats.toString)
    assert(stats("news.example.com") == ((1L, 100L, 1L, 1L)))
    assert(stats.size == 5 && !stats.contains(null) && !stats.contains(""), stats.toString)
    // both are single-pass: canonicalize is shuffle-free, rollup has
    // exactly one exchange (the domain groupBy)
    val cPlan = Curation.canonicalizeUrls(urls).queryExecution.executedPlan.toString
    assert(!cPlan.contains("Exchange"), cPlan)
    val dPlan = Curation.domainStats(urls).queryExecution.executedPlan.toString
    assert(dPlan.split("Exchange").length == 2, dPlan)
  }

  test("crawlSchedule: dense per-domain slots, two-phase rank == naive window, dedup + exclusions") {
    val s = spark
    import s.implicits._
    val urls = (1L to 300L).map(i => (i, s"http://d${i % 3}.example.org/p/$i"))
      .toDF("doc_id", "url")
      // a duplicate url (dedup to one slot) and an unparseable one (excluded)
      .union(Seq((900L, "http://d0.example.org/p/3"), (901L, "//cdn.example.org/x")).toDF("doc_id", "url"))
    val out = Curation.crawlSchedule(urls, delayMs = 250L)
    val rows = out.collect().map(r =>
      (r.getAs[String]("url"), r.getAs[String]("domain"), r.getAs[Long]("slot"), r.getAs[Long]("sched_ms")))
    assert(rows.length == 300) // 300 distinct parseable urls
    // slots are dense 0..n-1 within each domain; sched = slot * delay
    rows.groupBy(_._2).foreach { case (dom, rs) =>
      assert(rs.map(_._3).sorted.toSeq == (0L until rs.length).toSeq, dom)
      assert(rs.forall(r => r._4 == r._3 * 250L))
    }
    // the bucketed decomposition cancels exactly: equal to the naive window
    val naive = out.select(col("url"), col("domain"))
      .withColumn("slot", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("domain"))
          .orderBy(md5(col("url")), col("url"))).cast("bigint") - 1)
    val got = out.select("url", "slot").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val want = naive.collect().map(r => r.getAs[String]("url") -> r.getAs[Long]("slot")).toMap
    assert(got == want)
  }

  test("snapshotDiff: four statuses, whitespace-normalized identity, word-set jaccard bp") {
    val s = spark
    import s.implicits._
    val oldS = Seq(
      (1L, "alpha beta gamma"),     // unchanged
      (2L, "one two three four"),   // changed: one word swapped (j = 3/5 = 6000bp)
      (3L, "gone forever"),         // removed
      (5L, "same words here"),      // whitespace-only edit: fp normalizes -> UNCHANGED
      (6L, "... ---")               // changed vs other punctuation: empty word sets -> 10000
    ).toDF("doc_id", "text")
    val newS = Seq(
      (1L, "alpha beta gamma"),
      (2L, "one two three five"),
      (4L, "brand new page"),       // added
      (5L, "same  words\there"),
      (6L, "!!! ???")
    ).toDF("doc_id", "text")
    val got = Curation.snapshotDiff(oldS, newS).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("status"), Option(r.getAs[java.lang.Long]("jaccard_bp")).map(_.toLong)))).toMap
    assert(got == Map(
      1L -> (("unchanged", None)),
      2L -> (("changed", Some(6000L))),
      3L -> (("removed", None)),
      4L -> (("added", None)),
      5L -> (("unchanged", None)),
      6L -> (("changed", Some(10000L)))), got.toString)
  }

  test("robotsFilter: longest-match REP verdicts, '*' groups only, defaults, comments") {
    val s = spark
    import s.implicits._
    val robots = Seq(
      ("site.org",
        """# header comment
          |User-agent: googlebot
          |Disallow: /g/
          |
          |User-agent: *
          |Crawl-delay: 2
          |Disallow: /a/4  # inline comment
          |Allow: /a/4/p
          |Disallow: /b/
          |
          |User-agent: evilbot
          |Disallow: /""".stripMargin),
      ("open.org", "User-agent: spider\nDisallow: /") // no '*' group at all
    ).toDF("domain", "robots_txt")
    val frontier = Seq(
      "http://site.org/a/4/p",   // Disallow /a/4 matches, Allow /a/4/p longer -> allowed
      "http://site.org/a/42/p",  // Disallow /a/4 matches, Allow /a/4/p does NOT -> blocked
      "http://site.org/a/7",     // nothing matches -> allowed, empty rule
      "http://site.org/b/x",     // Disallow /b/ -> blocked
      "http://site.org/g/x",     // googlebot group does not apply to '*' -> allowed
      "http://open.org/b/x",     // robots has no '*' group -> allowed
      "http://nowhere.net/b/x",  // no robots.txt row -> allowed
      "//rel.example/b/x"        // unparseable: excluded
    ).toDF("url")
    val got = Curation.robotsFilter(frontier, robots).collect()
      .map(r => r.getAs[String]("url") ->
        ((r.getAs[String]("matched_rule"), r.getAs[Long]("allowed")))).toMap
    assert(got == Map(
      "http://site.org/a/4/p" -> (("/a/4/p", 1L)),
      "http://site.org/a/42/p" -> (("/a/4", 0L)),
      "http://site.org/a/7" -> (("", 1L)),
      "http://site.org/b/x" -> (("/b/", 0L)),
      "http://site.org/g/x" -> (("", 1L)),
      "http://open.org/b/x" -> (("", 1L)),
      "http://nowhere.net/b/x" -> (("", 1L))), got.toString)
  }

  test("duplicate spans: corpus-wide window dups merge into maximal per-doc spans") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "a b c d e f g"), // shares windows "a b c","b c d" with doc 2
      (2L, "x y a b c d q"),
      (3L, "p q r s t u v w"), // all windows unique -> zeros
      (4L, "m n o m n o m n o"), // within-doc repetition: every window dup
      (5L, "short one"), // fewer words than the window width
      (6L, "a b c z1 z2 z3 z4 z5 z6 b c d") // two non-adjacent dup spans
    ).toDF("doc_id", "text")
    val out = Curation.dupSpans(docs, width = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))))
      .toMap
    // doc 1: dup starts {1,2} merge -> one span covering words 1..4
    assert(out(1L) == ((7L, 5L, 2L, 1L, 4L, 4L * 10000 / 7)), out(1L).toString)
    // doc 2: dup starts {3,4} -> one span covering words 3..6
    assert(out(2L) == ((7L, 5L, 2L, 1L, 4L, 4L * 10000 / 7)), out(2L).toString)
    assert(out(3L) == ((8L, 6L, 0L, 0L, 0L, 0L)), out(3L).toString)
    // doc 4: "m n o" repeated — every window occurs >= 2x corpus-wide
    // (positions 1,4,7 alone repeat the same hash), one span covers all
    assert(out(4L) == ((9L, 7L, 7L, 1L, 9L, 10000L)), out(4L).toString)
    assert(out(5L) == ((2L, 0L, 0L, 0L, 0L, 0L)), out(5L).toString)
    // doc 6: dup starts {1,10}, gap 9 > width -> TWO spans of 3 words each
    assert(out(6L) == ((12L, 10L, 2L, 2L, 6L, 6L * 10000 / 12)), out(6L).toString)
  }

  test("dedup rewrite cuts every duplicated span from the token stream, keeps the rest in order") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "a b c d e f g"), // span [1,4] dup with doc 2 -> keep e f g
      (2L, "x y a b c d q"), // span [3,6] -> keep x y q
      (3L, "p q r s t u v w"), // no dups -> unchanged
      (4L, "m n o m n o m n o"), // fully covered -> empty
      (5L, "short one"), // below window width -> unchanged
      (6L, "a b c z1 z2 z3 z4 z5 z6 b c d") // two spans [1,3] and [10,12]
    ).toDF("doc_id", "text")
    val out = Curation.dedupRewrite(docs, width = 3).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == (("e f g", 3L, 4L)), out(1L).toString)
    assert(out(2L) == (("x y q", 3L, 4L)), out(2L).toString)
    assert(out(3L) == (("p q r s t u v w", 8L, 0L)), out(3L).toString)
    assert(out(4L) == (("", 0L, 9L)), out(4L).toString)
    assert(out(5L) == (("short one", 2L, 0L)), out(5L).toString)
    assert(out(6L) == (("z1 z2 z3 z4 z5 z6", 6L, 6L)), out(6L).toString)
  }

  test("sourcePercentile: two-phase bucketed rank equals the naive per-source window") {
    val d = docs(
      (1L, "a a a a", "A"),  // diversity 2500
      (2L, "a b", "A"),      // 10000, ties with doc 4 -> doc_id breaks
      (3L, "a b b", "A"),    // 6666
      (4L, "x", "A"),        // 10000
      (5L, "solo doc", "B")) // single-doc source -> pct 0
    val out = Curation.sourcePercentile(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    assert(out(1L) == ((2500L, 1L, 4L, 0L)), out.toString)
    assert(out(3L) == ((6666L, 2L, 4L, 3333L)), out.toString)
    assert(out(2L) == ((10000L, 3L, 4L, 6666L)), out.toString)
    assert(out(4L) == ((10000L, 4L, 4L, 10000L)), out.toString)
    assert(out(5L) == ((10000L, 1L, 1L, 0L)), out.toString)
    // the decomposition must cancel for ANY bucket width (the q63 rule)
    val w1 = Curation.sourcePercentile(d, bucketWidth = 1).collect().map(_.toSeq).toSet
    val w9999 = Curation.sourcePercentile(d, bucketWidth = 9999).collect().map(_.toSeq).toSet
    assert(w1 == w9999)
  }

  test("anchor terms: per-target-domain anchor-word top-k with deterministic ties") {
    val s = spark
    import s.implicits._
    val pages = Seq(
      ("u1", "<a href=\"https://t.example.net/x\">Best Spark guide</a>"),
      ("u2", "<a href=\"HTTPS://WWW.T.example.net:443/y\" rel=\"nofollow\">spark tips</a>"),
      ("u3", "<a href=\"https://other.org/z\">spark</a> and <a href=\"mailto:x\">junk</a>")
    ).toDF("url", "html")
    val out = Curation.anchorTerms(pages, k = 2).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3)))).toMap
    // t.example.net: spark x2 (case/www/port fold), then best/guide/tips tie at 1 -> "best" wins rank 2
    assert(out(("t.example.net", "spark")) == ((2L, 1L)), out.toString)
    assert(out(("t.example.net", "best")) == ((1L, 2L)), out.toString)
    assert(out(("other.org", "spark")) == ((1L, 1L)), out.toString)
    assert(!out.keys.exists(_._2 == "junk"), out.toString) // mailto target has no domain
  }

  test("link graph: href scan + domain canonicalization on both endpoints, page-collapsed counts") {
    val s = spark
    import s.implicits._
    val pages = Seq(
      ("https://www.A.example.com:443/p1",
        "<a href=\"https://b.example.net/x\">b</a> txt <a href=\"HTTP://B.example.net:80/y\">b2</a>"),
      ("https://a.example.com/p2",
        "<a href=\"https://b.example.net/z\">b</a><a href=\"https://a.example.com/self\">me</a>"),
      ("//cdn.x.com/lib.js", "<a href=\"https://b.example.net/x\">src unparseable</a>"),
      ("https://c.example.org/p", "no links here")
    ).toDF("url", "html")
    val out = Curation.linkGraph(pages).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    // www/port/case all normalize away; two pages, three links to b
    assert(out(("a.example.com", "b.example.net")) == ((3L, 2L, 0L)), out.toString)
    assert(out(("a.example.com", "a.example.com")) == ((1L, 1L, 1L)), out.toString)
    assert(out.size == 2, out.keys.toString) // unparseable src and linkless page drop
  }

  test("containment join finds subset pairs symmetric Jaccard misses, exact bp verify") {
    val s = spark
    import s.implicits._
    val w20 = (1 to 20).map(i => s"w$i").mkString(" ")
    val d = Seq(
      (1L, w20),                                    // the long container
      (2L, (1 to 6).map(i => s"w$i").mkString(" ")), // its prefix: contained 100%
      (3L, "x1 x2 x3 x4 x5 x6 x7"),                 // unrelated
      (4L, ((1 to 10) ++ Seq(99) ++ (12 to 20)).map(i => s"w$i").mkString(" ")) // 1 word edit
    ).toDF("doc_id", "text")
    val out = Dedup.containmentPrefixJoin(d, tNum = 4, tDen = 5, shingleWidth = 2).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    // (1,2): bigrams of the prefix are a strict subset — containment 100%,
    // while Jaccard is 5/19 ≈ 0.26, far below any near-dup threshold
    assert(out(( 1L, 2L)) == ((5L, 19L, 5L, 10000L)), out.toString)
    // (1,4): one mid-word edit kills 2 + 2 bigrams: ic=17, min sz 19
    assert(out((1L, 4L)) == ((17L, 19L, 19L, 17L * 10000L / 19L)), out.toString)
    // (2,4): doc 2's 5 bigrams all survive in doc 4's first half
    assert(out((2L, 4L)) == ((5L, 5L, 19L, 10000L)), out.toString)
    assert(out.size == 3, out.keys.toString) // nothing touches doc 3
  }

  test("perceptual-hash image near-dup recovers planted twins, never crosses groups") {
    val assets = Multimodal.syntheticImageCorpus(spark, 96, partitions = 4)
    val hashes = Multimodal.imagePhash(assets)
    // corrupt payloads (id % 16 == 15) flag, not crash
    val flagged = hashes.where(!col("ok")).collect().map(_.getLong(0)).toSet
    assert(flagged == (0L until 96L).filter(_ % 16 == 15).toSet, flagged.toString)
    val pairs = Multimodal.phashNearDup(hashes, maxHamming = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getAs[Number](2).intValue()))
    // near-dups only ever come from the same planted group
    assert(pairs.forall { case (a, b, _) => a / 3 == b / 3 }, pairs.filterNot(p => p._1 / 3 == p._2 / 3).take(5).toSeq.toString)
    val pairSet = pairs.map(p => (p._1, p._2)).toSet
    for (g <- 0L until 32L) {
      val (i0, i1, i2) = (3 * g, 3 * g + 1, 3 * g + 2)
      def okId(i: Long) = i % 16 != 15
      // lossless re-encode twin: hamming 0, always found
      if (okId(i0) && okId(i1))
        assert(pairSet.contains((i0, i1)), s"missing identical pair in group $g")
      // even groups: the noise twin pairs with both
      if (g % 2 == 0 && okId(i2)) {
        if (okId(i0)) assert(pairSet.contains((i0, i2)), s"missing noise pair (bmp) g=$g")
        if (okId(i1)) assert(pairSet.contains((i1, i2)), s"missing noise pair (png) g=$g")
      }
      // odd groups: the unrelated member never pairs
      if (g % 2 == 1) assert(!pairSet.contains((i0, i2)) && !pairSet.contains((i1, i2)), s"false pair g=$g")
    }
    // identical-pixel pairs report hamming 0
    assert(pairs.filter(p => p._1 % 3 == 0 && p._2 == p._1 + 1).forall(_._3 == 0))
  }

  test("audio fingerprint near-dup recovers planted twins through the shared pigeonhole") {
    val assets = Multimodal.syntheticAudioCorpus(spark, 96, partitions = 4)
    val pairs = Multimodal.phashNearDup(Multimodal.audioFingerprint(assets), maxHamming = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.forall { case (a, b) => a / 3 == b / 3 }, pairs.filterNot(p => p._1 / 3 == p._2 / 3).take(5).toString)
    for (g <- 0L until 32L) {
      val (i0, i1, i2) = (3 * g, 3 * g + 1, 3 * g + 2)
      def okId(i: Long) = i % 16 != 15
      if (okId(i0) && okId(i1)) assert(pairs.contains((i0, i1)), s"missing exact-dup pair g=$g")
      if (g % 2 == 0 && okId(i2)) {
        if (okId(i0)) assert(pairs.contains((i0, i2)), s"missing dither pair g=$g")
      }
      if (g % 2 == 1) assert(!pairs.contains((i0, i2)) && !pairs.contains((i1, i2)), s"false pair g=$g")
    }
  }

  test("video near-dup recovers re-encode and noise twins with min-hamming pair collapse") {
    val assets = Multimodal.syntheticVideoCorpus(spark, 96, partitions = 4)
    val rows = Multimodal.videoNearDup(assets, maxHamming = 4).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getAs[Number](2).intValue()).toMap
    val pairs = rows.keySet
    assert(pairs.forall { case (a, b) => a / 3 == b / 3 }, pairs.filterNot(p => p._1 / 3 == p._2 / 3).take(5).toString)
    // one row per pair (min-hamming collapse), never per frame combination
    assert(rows.keys.toSeq.distinct.size == rows.size)
    for (g <- 0L until 32L) {
      val (i0, i1, i2) = (3 * g, 3 * g + 1, 3 * g + 2)
      def okId(i: Long) = i % 16 != 15
      if (okId(i0) && okId(i1)) assert(pairs.contains((i0, i1)), s"missing mjpeg twin g=$g")
      if (g % 2 == 0 && okId(i0) && okId(i2)) assert(pairs.contains((i0, i2)), s"missing noise twin g=$g")
      if (g % 2 == 1) assert(!pairs.contains((i0, i2)) && !pairs.contains((i1, i2)), s"false pair g=$g")
    }
  }

  test("posting blocks: per-(term, block) delta-encoded doc gaps with tf payloads") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (0L, "a b"), (1L, "a"), (3L, "a a"), (4L, "a"), (9L, "b b b")
    ).toDF("doc_id", "text")
    val out = CorpusOps.postingBlocks(d, blockSize = 4).collect()
      .map(r => (r.getString(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getString(4), r.getString(5)))).toMap
    assert(out(("a", 0L)) == ((3L, 0L, "1,2", "1,1,2")), out.toString)
    assert(out(("a", 1L)) == ((1L, 4L, "", "1")), out.toString)
    assert(out(("b", 0L)) == ((1L, 0L, "", "1")), out.toString)
    assert(out(("b", 2L)) == ((1L, 9L, "", "3")), out.toString)
    assert(out.size == 4)
  }

  test("priority sample matches an independent JVM-md5 replay and plans as a partial top-k") {
    val s = spark
    import s.implicits._
    // distinct-word counts vary 1..20 so weights genuinely differ
    val d = (0L until 200L)
      .map(i => (i, (0L to i % 20).map(j => s"w$j").mkString(" ")))
      .toDF("doc_id", "text")
    val fn = CorpusOps.prioritySample(d, k = 25)
    val got = fn.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // independent replay: JVM MD5, same nibble decode, same formula
    val md = java.security.MessageDigest.getInstance("MD5")
    def hex(x: String) = md.synchronized {
      md.reset(); md.digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
    val expected = (0L until 200L).map { i =>
      val w = (i % 20) + 1 + 1 // distinct words + 1
      val u = hex(s"ps|$i").take(6).foldLeft(0L)((a, c) => a * 16 + Character.digit(c, 16))
      (i, w, u, u * (1L << 20) / w)
    }.sortBy(t => (t._4, t._1)).take(25)
    assert(got.toSeq == expected.toSeq, got.take(5).toSeq.toString)
    // weighted: the kept set's mean weight exceeds the corpus mean
    // (weights 2..21 uniform -> corpus mean 11.5; u/w favors large w)
    assert(got.map(_._2).sum.toDouble / got.length > 11.5, got.map(_._2).toSeq.toString)
    // scale contract: partial top-k, not a global sort
    val plan = fn.queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("line dedup removes every duplicated line except its first (doc_id, line_idx) occurrence") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "a b c d e f"), // all three lines are corpus keepers
      (2L, "c d a b x"),   // "c d" and "a b" lose to doc 1 -> keep "x"
      (3L, "a b a b"),     // both lines lose to doc 1 -> empty
      (4L, ""),            // empty doc
      (6L, "q q q q")      // within-doc dup: first line kept, second cut
    ).toDF("doc_id", "text")
    val out = Curation.lineDedup(d, width = 2).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out(1L) == ((6L, 3L, 0L, "a b c d e f")), out(1L).toString)
    assert(out(2L) == ((5L, 3L, 2L, "x")), out(2L).toString)
    assert(out(3L) == ((4L, 2L, 2L, "")), out(3L).toString)
    assert(out(4L) == ((0L, 0L, 0L, "")), out(4L).toString)
    assert(out(6L) == ((4L, 2L, 1L, "q q")), out(6L).toString)
  }

  test("nb classifier: held-out docs classify by planted tokens; OOV ignored; integer bits") {
    val s = spark
    import s.implicits._
    // train: 3 ham ("alpha beta"), 3 spam ("alpha crypto win");
    // held-out: one of each, plus an OOV-bearing ham doc
    val rows = Seq(
      (1L, "alpha beta gamma", 0L, 1L), (2L, "beta gamma alpha", 0L, 1L),
      (3L, "gamma alpha beta", 0L, 1L),
      (4L, "alpha crypto win", 1L, 1L), (5L, "crypto win alpha", 1L, 1L),
      (6L, "win crypto beta", 1L, 1L),
      (7L, "beta gamma gamma", 0L, 0L),          // held-out ham
      (8L, "crypto win crypto win", 1L, 0L),     // held-out spam
      (9L, "alpha beta zzzunseen", 0L, 0L))      // OOV token must not crash/shift class
      .toDF("doc_id", "text", "label", "is_train")
    val out = CorpusOps.nbClassifyBits(rows).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4)))).toMap
    assert(out.size == 9)
    // every doc classified correctly, including held-out and OOV
    Seq(1L, 2L, 3L, 7L, 9L).foreach(id => assert(out(id)._3 == 0L, s"doc $id: ${out(id)}"))
    Seq(4L, 5L, 6L, 8L).foreach(id => assert(out(id)._3 == 1L, s"doc $id: ${out(id)}"))
    // bits are non-negative integers and the verdict matches the min
    out.values.foreach { case (b0, b1, pred) =>
      assert(b0 >= 0 && b1 >= 0)
      assert(pred == (if (b1 < b0) 1L else 0L))
    }
  }

  test("rendezvous shards: reshard moves only ~1/(k+1) of keys, all to the NEW shard, shuffle-free") {
    val s = spark
    import s.implicits._
    val docs = (0L until 2000L).map(i => (i, s"t$i", "src")).toDF("doc_id", "text", "source")
    val out = Curation.rendezvousShards(docs, k = 8).collect()
    assert(out.forall(r => r.getLong(1) >= 0 && r.getLong(1) < 8))
    // HRW invariant: a moved key can only land on the ADDED shard
    assert(out.filter(_.getLong(3) == 1L).forall(_.getLong(2) == 8L))
    // unmoved keys keep their shard verbatim
    assert(out.filter(_.getLong(3) == 0L).forall(r => r.getLong(1) == r.getLong(2)))
    // moved share ~ 1/9 of 2000 ≈ 222 (md5 uniformity)
    val moved = out.count(_.getLong(3) == 1L)
    assert(moved > 140 && moved < 310, moved.toString)
    // shards are balanced within a loose uniform band
    val byShard = out.groupBy(_.getLong(1)).view.mapValues(_.length)
    assert(byShard.values.forall(n => n > 150 && n < 350), byShard.toMap.toString)
    // scale contract: pure projection, no exchange
    val plan = Curation.rendezvousShards(docs, k = 8).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("main content: link-dense and short blocks class boilerplate; ordered rebuild") {
    val s = spark
    import s.implicits._
    val d = Seq(
      // nav (density 12*10000/13 >= 5000) + long content + mixed-under-threshold
      ("u1", "<div><a href=\"/\">home</a> <a href=\"/a\">about us</a></div>\n" +
        "<p>the quick brown fox jumps</p>\n" +
        "<p>see <a href=\"/s\">wiki</a> for more details</p>"),
      ("u2", "<p>tiny</p>"), // short rule: 4 chars < 10 -> boiler, content ''
      ("u3", "<p>second block here ok</p>\n<p>first block stays first</p>")
    ).toDF("url", "html")
    val out = Curation.mainContent(d).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    assert(out("u1") == ((3L, 1L, "the quick brown fox jumps see wiki for more details")), out("u1").toString)
    assert(out("u2") == ((1L, 1L, "")), out("u2").toString)
    // order is the block index, not the collect order
    assert(out("u3") == ((2L, 0L, "second block here ok first block stays first")), out("u3").toString)
  }

  test("template lines: per-source frequency rule strips ALL copies, sources isolated") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "nav bar a b", "s1"), // "nav bar" in 3/4 s1 docs -> template
      (2L, "nav bar c d", "s1"),
      (3L, "nav bar e f", "s1"),
      (4L, "x y", "s1"),         // 1-doc line survives (minDocs)
      (5L, "nav bar g h", "s2"), // s2's own census: 2/2 docs -> template
      (6L, "nav bar nav bar", "s2") // BOTH copies removed (remove-all, not keep-first)
    ).toDF("doc_id", "text", "source")
    val out = Curation.templateLines(d, width = 2).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out(1L) == (("s1", 2L, 1L, "a b")), out(1L).toString)
    assert(out(4L) == (("s1", 1L, 0L, "x y")), out(4L).toString)
    assert(out(5L) == (("s2", 2L, 1L, "g h")), out(5L).toString)
    assert(out(6L) == (("s2", 2L, 2L, "")), out(6L).toString)
  }

  test("stratified sample is deterministic, quota-bounded and filter-only (no shuffle)") {
    val s = spark
    import s.implicits._
    val docs = (0L until 2000L).map(i => (i, s"text $i", s"src${i % 4}")).toDF("doc_id", "text", "source")
    val quotas = Map("src0" -> 0, "src1" -> 25, "src2" -> 100)
    val a = Curation.stratifiedSample(docs, quotas, defaultPct = 50).collect()
    val b = Curation.stratifiedSample(docs, quotas, defaultPct = 50).collect()
    assert(a.map(_.getLong(0)).sorted.sameElements(b.map(_.getLong(0)).sorted)) // deterministic
    val bySource = a.groupBy(_.getString(1)).view.mapValues(_.length).toMap
    assert(!bySource.contains("src0")) // 0% quota keeps nothing
    assert(bySource("src2") == 500) // 100% keeps everything
    // 25% / 50% quotas keep roughly that share (md5 buckets are uniform)
    assert(math.abs(bySource("src1") - 125) < 50, bySource.toString)
    assert(math.abs(bySource("src3") - 250) < 60, bySource.toString)
    // buckets always within quota
    assert(a.forall(r => r.getLong(2) < quotas.getOrElse(r.getString(1), 50)))
    // scale contract: one filtered projection, no exchange in the plan
    val plan = Curation.stratifiedSample(docs, quotas).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), plan)
  }

  test("decontamination: trigram overlap vs the eval slice, in basis points, eval grams broadcast") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (0L, "a b c d"), // eval (0 % 97 == 0): grams {a b c, b c d}
      (97L, "q q q"), // eval: gram {q q q}
      (1L, "a b c x"), // grams {a b c, b c x}: 1 of 2 contaminated
      (2L, "a b c d e"), // grams {a b c, b c d, c d e}: 2 of 3
      (3L, "zz yy"), // < 3 words: no grams
      (4L, "q q q"), // exact eval leak: 1 of 1
      (5L, "u v w x") // grams {u v w, v w x}: clean
    ).toDF("doc_id", "text")
    val out = Curation.decontaminate(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out.keySet == Set(1L, 2L, 3L, 4L, 5L)) // eval docs excluded
    assert(out(1L) == ((2L, 1L, 5000L)), out(1L).toString)
    assert(out(2L) == ((3L, 2L, 6666L)), out(2L).toString)
    assert(out(3L) == ((0L, 0L, 0L)), out(3L).toString)
    assert(out(4L) == ((1L, 1L, 10000L)), out(4L).toString)
    assert(out(5L) == ((2L, 0L, 0L)), out(5L).toString)
    // scale contract: the eval-gram membership test must be a broadcast
    // semi join — the corpus is never shuffled on the gram key
    val plan = Curation.decontaminate(docs).queryExecution.executedPlan.toString
    assert(plan.contains("LeftSemi") && plan.contains("Broadcast"), plan)
  }

  test("cluster representatives: highest-quality member per near-dup component, min-id tiebreak") {
    val s = spark
    import s.implicits._
    // two planted near-dup groups (identical texts cluster under
    // MinHash-LSH) plus singletons that never enter the pair graph
    val rich = "the quick brown fox jumps over the lazy dog and runs to a creek of cool water near the old mill"
    val poor = "the quick brown fox jumps over the lazy dog and runs to a creek of cool water near the old mill!!!!!!!!!!!!!!!!!!!!!!!!!!!!!!"
    val docs = Seq(
      (10L, rich), (11L, rich), (12L, poor), // group A: 10/11 tie on quality, 10 wins
      (20L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (21L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"), // group B
      (30L, "completely unrelated text about spark catalyst optimizer internals")
    ).toDF("doc_id", "text")
    val reps = Curation.clusterRepresentatives(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(reps.keySet == Set(10L, 20L)) // component labels = min member id
    val (repA, membersA) = reps(10L)
    assert(membersA == 3L && repA == 10L) // quality tie between 10/11 -> min id; 12 penalized for punct spam
    assert(reps(20L) == ((20L, 2L)))
  }

  test("PII masking: emails, IPv4s and phone runs redacted in order; lookalikes survive") {
    val s = spark
    import s.implicits._
    val docs = Seq(
      (1L, "reach me at jane.doe+spam@sub.example.org or bob@x.io thanks"),
      (2L, "server 192.168.0.1 and 10.0.255.7 but not 1.2.3 or a.b.c.d"),
      (3L, "call +1-555-867-5309 or 020 7946 0958 now"),
      (4L, "mixed: admin@corp.net at 172.16.4.20 tel +44 20 7946 0958"),
      (5L, "clean text with no contact details at all"),
      (6L, "not-an-email @missing.local and half@tld. dot")
    ).toDF("doc_id", "text")
    val out = Curation.maskPii(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(out(1L) == ((2L, 0L, 0L, "reach me at <EMAIL> or <EMAIL> thanks")), out(1L).toString)
    assert(out(2L)._1 == 0L && out(2L)._2 == 2L, out(2L).toString)
    assert(out(2L)._4.contains("<IP> and <IP>") && out(2L)._4.contains("not 1.2.3 or a.b.c.d"))
    assert(out(3L) == ((0L, 0L, 2L, "call <PHONE> or <PHONE> now")), out(3L).toString)
    assert(out(4L) == ((1L, 1L, 1L, "mixed: <EMAIL> at <IP> tel <PHONE>")), out(4L).toString)
    assert(out(5L) == ((0L, 0L, 0L, "clean text with no contact details at all")), out(5L).toString)
    assert(out(6L)._1 == 0L, out(6L).toString) // no local part / no TLD letters: not an email
    // projection-only plan: no shuffle, no UDF
    val plan = Curation.maskPii(docs).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.toLowerCase.contains("batchevalpython"), plan)
  }

  test("md5-hyperplane embedding LSH twin recovers a planted pair with exact integer verdicts") {
    val s = spark
    import s.implicits._
    val dim = 16
    def vec(seed: Int): Array[Float] =
      Array.tabulate(dim)(j => math.sin(seed * 31 + j * 7).toFloat)
    val planted = vec(1).zipWithIndex.map { case (v, j) => v + math.sin(j).toFloat * 0.05f }
    val vecs = ((1L, vec(1), 0) +: (2L, planted, 0) +:
      (3L to 80L).map(i => (i, vec(i.toInt * 13 + 5), 1))).toDF("vec_id", "embedding", "label")
    // cos(v1, planted) ≈ 0.999 → rational threshold 9/10
    val out = Similarity.embeddingNearDupMd5(vecs, thresholdNum = 9, thresholdDen = 10,
      planes = 6, tables = 4).collect()
    assert(out.exists(r => r.getAs[Long]("a") == 1L && r.getAs[Long]("b") == 2L), out.mkString(","))
    // every emitted pair satisfies the rational threshold exactly
    out.foreach { r =>
      val (dot, n2a, n2b) = (BigInt(r.getAs[Long]("dot")), BigInt(r.getAs[Long]("n2a")), BigInt(r.getAs[Long]("n2b")))
      assert(dot >= 0 && dot * dot * 100 >= n2a * n2b * 81, r.toString)
    }
  }

  test("dsirScore ranks target-like raw docs above off-target ones, integer-exact") {
    val s = spark
    import s.implicits._
    // targetModulus = 5: docs 5,10,15 are the target slice, all about
    // "quantum flux capacitors"; raw doc 1 shares that vocabulary, raw
    // doc 2 is about something else entirely
    val docs = Seq(
      (5L, "quantum flux capacitor quantum flux"),
      (10L, "flux capacitor array quantum energy"),
      (15L, "quantum capacitor flux design"),
      (1L, "quantum flux capacitor prototype"),
      (2L, "banana smoothie recipe with yogurt"),
      (3L, "")
    ).toDF("doc_id", "text")
    val out = CorpusOps.dsirScore(docs, targetModulus = 5).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    // only raw docs are scored
    assert(out.keySet == Set(1L, 2L, 3L))
    // the target-like doc beats the off-target doc on mean ratio
    assert(out(1L)._3 > out(2L)._3, s"${out(1L)} vs ${out(2L)}")
    // empty doc: zero features, zero scores
    assert(out(3L) == ((0L, 0L, 0L)))
    // feature count = unigrams + bigrams
    assert(out(1L)._1 == 4L + 3L)
  }

  test("semDedupMd5 assigns every vector one cluster and prunes a planted duplicate greedily") {
    val s = spark
    import s.implicits._
    val dim = 16
    def vec(seed: Int): Array[Float] =
      Array.tabulate(dim)(j => math.sin(seed * 31 + j * 7).toFloat)
    // vec 2 is a near-copy of vec 1 (cos ≈ 0.999); the rest are spread out
    val planted = vec(1).zipWithIndex.map { case (v, j) => v + math.sin(j).toFloat * 0.02f }
    val vecs = ((1L, vec(1), 0) +: (2L, planted, 0) +:
      (3L to 60L).map(i => (i, vec(i.toInt * 13 + 5), 1))).toDF("vec_id", "embedding", "label")
    val out = Similarity.semDedupMd5(vecs, k = 4, thresholdNum = 9, thresholdDen = 10).collect()
    // exactly one row per vector (the argmax anti-join is a strict total order)
    assert(out.length == 60, s"expected 60 rows, got ${out.length}")
    assert(out.map(_.getAs[Long]("vec_id")).distinct.length == 60)
    val byId = out.map(r => r.getAs[Long]("vec_id") ->
      ((r.getAs[Long]("cluster"), r.getAs[Long]("keep")))).toMap
    // near-identical vectors land in the same cluster; the lower id
    // survives, the higher id is pruned (greedy keep-first)
    assert(byId(1L)._1 == byId(2L)._1, s"planted pair split: ${byId(1L)} vs ${byId(2L)}")
    assert(byId(1L)._2 == 1L && byId(2L)._2 == 0L, s"${byId(1L)} / ${byId(2L)}")
    // clusters are medoid vec_ids drawn from the corpus
    val ids = (1L to 60L).toSet
    assert(out.map(_.getAs[Long]("cluster")).forall(ids.contains))
  }

  test("kmeansInt separates planted clusters, deterministically, one row per vector") {
    val s = spark
    import s.implicits._
    val dim = 16
    // two tight planted groups on disjoint axes
    def member(group: Int, i: Int): Array[Float] =
      Array.tabulate(dim)(j => ((if (j / 8 == group) 4.0 else 0.0) + math.sin(i * 11 + j) * 0.1).toFloat)
    val vecs = (0 until 40).map(i => (i.toLong, member(i % 2, i), i % 2))
      .toDF("vec_id", "embedding", "label")
    val out = Similarity.kmeansInt(vecs, k = 2, iters = 3).collect()
    assert(out.length == 40)
    assert(out.map(_.getAs[Long]("vec_id")).distinct.length == 40)
    val byGroup = out.groupBy(_.getAs[Long]("vec_id") % 2)
      .map { case (g, rows) => g -> rows.map(_.getAs[Long]("cluster")).toSet }
    // each planted group maps to exactly one cluster, and they differ
    assert(byGroup(0L).size == 1 && byGroup(1L).size == 1 && byGroup(0L) != byGroup(1L),
      s"cluster split: $byGroup")
    // deterministic: a second run yields the identical row set (incl. d2)
    val again = Similarity.kmeansInt(vecs, k = 2, iters = 3).collect()
    assert(out.map(_.toString).sorted.sameElements(again.map(_.toString).sorted))
  }

  test("kmeansInt keeps an emptied cluster's centroid instead of shrinking k") {
    val s = spark
    import s.implicits._
    // all points identical: every vector ties to centroid 0 (tie-break
    // on c), cluster 1 goes empty and must survive the recompute
    val same = Array.tabulate(8)(j => (j + 1).toFloat / 10)
    val vecs = (0L to 9L).map(i => (i, same, 0)).toDF("vec_id", "embedding", "label")
    val out = Similarity.kmeansInt(vecs, k = 2, iters = 3).collect()
    assert(out.length == 10)
    assert(out.forall(_.getAs[Long]("cluster") == 0L))
    assert(out.forall(_.getAs[Long]("d2") == 0L))
  }

  test("pqAdcMd5 keeps clustered neighbors together and encodes deterministically") {
    val s = spark
    import s.implicits._
    // three well-separated clusters in 16 dims (m=4 subspaces of 4):
    // cluster c lives on axes {4c..4c+3}, so every subspace separates
    val vecs = (0 until 90).map { i =>
      val c = i % 3
      val base = Array.tabulate(16)(j => (if (j / 4 == c) 5.0 else 0.0).toFloat)
      val jitter = Array.tabulate(16)(j => (math.sin(i * 17 + j) * 0.3).toFloat)
      (i.toLong, base.zip(jitter).map { case (a, b) => a + b }, c)
    }.toDF("vec_id", "embedding", "label")
    val queries = vecs.where($"vec_id" < 3)
    // codebookSize 9: the deterministic md5 draw over these 90 ids
    // needs 9 picks before every cluster donates a codeword
    val out = Similarity.pqAdcMd5(vecs, queries, m = 4, codebookSize = 9, k = 5, dim = 16)
      .collect()
    // every query gets exactly k ranked neighbors, and all of them are
    // from the query's own cluster (PQ codes preserve the separation)
    val byQuery = out.groupBy(_.getAs[Long]("query_id"))
    assert(byQuery.keySet == Set(0L, 1L, 2L))
    byQuery.foreach { case (q, rows) =>
      assert(rows.length == 5, s"query $q: ${rows.length} rows")
      rows.foreach { r =>
        val cid = r.getAs[Long]("corpus_id")
        assert(cid % 3 == q % 3, s"query $q pulled cross-cluster neighbor $cid")
      }
    }
    // deterministic: a second run yields the identical ranked set
    val again = Similarity.pqAdcMd5(vecs, queries, m = 4, codebookSize = 9, k = 5, dim = 16)
      .collect().map(_.toString).sorted
    assert(again.sameElements(out.map(_.toString).sorted))
  }

  test("IVF quantizer sample-training is deterministic and preserves brute-force agreement") {
    val s = spark
    import s.implicits._
    val vecs = (0 until 60).map { i =>
      val c = i % 3
      val base = Array.tabulate(8)(j => (if (j == c) 10.0 else 0.0).toFloat)
      val jitter = Array.tabulate(8)(j => (math.sin(i * 13 + j) * 0.5).toFloat)
      (i.toLong, base.zip(jitter).map { case (a, b) => a + b }, c)
    }.toDF("vec_id", "embedding", "label")
    val queries = vecs.where($"vec_id" < 3)
    // force the sampling path: cap below corpus size; clustered data
    // still trains separable centroids from the hash-mod sample
    val ivf = Similarity.ivfCosine(vecs, queries, k = 1, nLists = 3, nProbe = 2, trainCap = 30L)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("corpus_id")).toMap
    val brute = Similarity.bruteCosine(vecs, queries, k = 1)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("corpus_id")).toMap
    assert(ivf == brute, s"ivf=$ivf brute=$brute")
    // the explicit metadata-derived modulus (the 100 TB path, where no
    // count() pre-pass exists) selects the same hash-mod sample as the
    // stats-derived one → identical quantizer → identical results
    val ivfMod = Similarity.ivfCosine(vecs, queries, k = 1, nLists = 3, nProbe = 2, trainMod = 2L)
      .collect().map(r => r.getAs[Long]("query_id") -> r.getAs[Long]("corpus_id")).toMap
    assert(ivfMod == ivf, s"ivfMod=$ivfMod ivf=$ivf")
  }

  test("GPT-2-style pre-tokenizer count matches the known segmentation") {
    val s = spark
    import s.implicits._
    // "It's a test-case 42  end" → It|'s| a| test|-|case| 42|␣␣|end = 9
    val d = Seq((1L, "It's a test-case 42  end")).toDF("doc_id", "text")
    val n = d.select(TextOps.bpePretokenCount(col("text")).as("n")).head().getLong(0)
    assert(n == 9L)
  }

  test("md5-simhash pair recovery finds planted near-dups within hamming 3") {
    val base = (1 to 60).map(i => s"tok$i").mkString(" ")
    val nearDup = (1 to 59).map(i => s"tok$i").mkString(" ") + " zz"
    val noise = (200 to 260).map(i => s"qqq$i").mkString(" ")
    val d = docs((1L, base, "s"), (2L, nearDup, "s"), (3L, noise, "s"))
    val pairs = Dedup.simhashMd5Pairs(d).collect()
    assert(pairs.exists(r => r.getAs[Long]("a") == 1L && r.getAs[Long]("b") == 2L), pairs.mkString(","))
    assert(!pairs.exists(r => r.getAs[Long]("b") == 3L || r.getAs[Long]("a") == 3L))
  }

  test("exportRdfXml surfaces unencodable chunks as XML comments, not silent loss") {
    val s = spark
    import s.implicits._
    // predicate local part "123" is not an NCName → RDF/XML cannot
    // express it; the chunk must surface as a greppable comment
    val edges = Seq(
      ("u", "http://ex.org/s", "urn:isbn:123", "v", "literal", null: String, null: String))
      .toDF("url", "subj", "pred", "obj", "objKind", "lang", "datatype")
    val lines = KgPipeline.exportRdfXml(edges).collect().filter(_.nonEmpty)
    assert(lines.length == 1)
    assert(lines(0).startsWith("<!-- graft:skipped 1 triples"), lines(0))
  }

  test("sequence packing: per-source prefix sums, chunk spans and offsets are exact") {
    val s = spark
    import s.implicits._
    // source "a": 3+1, 6+1, 2+1 tokens -> starts 0, 4, 11; seqLen 8
    val d = Seq(
      (1L, "w w w", "a"),
      (2L, "w w w w w w", "a"),
      (3L, "w w", "a"),
      (10L, "x x x x x x x x x", "b") // 10 tokens spanning chunks 0 and 1
    ).toDF("doc_id", "text", "source")
    val out = CorpusOps.packChunks(d, seqLen = 8).collect()
      .map(r => r.getLong(0) -> ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7))))
      .toMap
    // (n_tokens, start_tok, chunk_first, chunk_last, chunk_offset, n_chunks)
    assert(out(1L) == ((4L, 0L, 0L, 0L, 0L, 1L)), out(1L).toString)
    assert(out(2L) == ((7L, 4L, 0L, 1L, 4L, 2L)), out(2L).toString)
    assert(out(3L) == ((3L, 11L, 1L, 1L, 3L, 1L)), out(3L).toString)
    // source "b" packs independently: its stream starts at 0
    assert(out(10L) == ((10L, 0L, 0L, 1L, 0L, 2L)), out(10L).toString)
    // scale contract: ONE exchange (the per-source window shuffle) —
    // never a corpus-global single-partition sort
    val plan = CorpusOps.packChunks(d).queryExecution.executedPlan.toString
    assert(plan.split("Exchange").length == 2, plan)
    assert(!plan.contains("SinglePartition"), plan)
  }

  test("bigram-LM fluency: corpus frequencies, mean and hapax share are exact") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "the cat sat"), // bigrams: "the cat" (x2 corpus-wide), "cat sat" (x1)
      (2L, "the cat ran"), // "the cat" (x2), "cat ran" (x1)
      (3L, "zz"), // single word: no bigrams
      (4L, "") // empty: no bigrams
    ).toDF("doc_id", "text")
    val out = CorpusOps.bigramLm(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // (n_bigrams, cnt_sum, mean_cnt_x100, hapax_bp)
    assert(out(1L) == ((2L, 3L, 150L, 5000L)), out(1L).toString)
    assert(out(2L) == ((2L, 3L, 150L, 5000L)), out(2L).toString)
    assert(out(3L) == ((0L, 0L, 0L, 0L)), out(3L).toString)
    assert(out(4L) == ((0L, 0L, 0L, 0L)), out(4L).toString)
  }

  test("surprisal bits: exact floor(log2(N/cnt)) per token, integer mean, empty docs zero") {
    val s = spark
    import s.implicits._
    // corpus: "the" x8, "rare" x1, "mid" x3, "x9" x4 -> N = 16
    // k(the) = floor(log2(16/8)) = 1; k(mid) = floor(log2(16 div 3 = 5)) = 2
    // k(x9) = floor(log2(4)) = 2; k(rare) = floor(log2(16)) = 4
    val d = Seq(
      (1L, "the the the the mid x9 x9 rare"),   // bits = 4*1 + 2 + 2*2 + 4 = 14, ntok 8
      (2L, "the the the the mid mid x9 x9"),    // bits = 4*1 + 2*2 + 2*2 = 12, ntok 8
      (3L, ""),                                  // no tokens
      (4L, "!!!")                                // tokenizes to nothing
    ).toDF("doc_id", "text")
    val out = CorpusOps.surprisalBits(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // (n_tokens, surprisal_bits, mean_centibits)
    assert(out(1L) == ((8L, 14L, 175L)), out(1L).toString)
    assert(out(2L) == ((8L, 12L, 150L)), out(2L).toString)
    assert(out(3L) == ((0L, 0L, 0L)), out(3L).toString)
    assert(out(4L) == ((0L, 0L, 0L)), out(4L).toString)
  }

  test("bigram-LM bits: add-one smoothed conditionals on the train half, unseen backoff, empties zero") {
    val s = spark
    import s.implicits._
    // Train half = even doc_ids: doc 0 "a b a b", doc 2 "a c".
    // Model: c2("a b")=2, c2("b a")=1, c2("a c")=1; c1(a)=3, c1(b)=1; V=|{a,b,c}|=3.
    // k = floor(log2((c1+V) div (c2+1))):
    //   "a b" -> (3+3) div 3 = 2 -> 1;  "b a" -> (1+3) div 2 = 2 -> 1
    //   "a c" -> (3+3) div 2 = 3 -> 1;  "b x" (unseen bigram, seen ctx) -> 4 div 1 = 4 -> 2
    //   "z z" (unseen ctx) -> (0+3) div 1 = 3 -> 1
    val d = Seq(
      (0L, "a b a b"), // bits 1+1+1=3, nbg 3, mean 100
      (2L, "a c"),     // bits 1, nbg 1, mean 100
      (1L, "a b x"),   // score-only: 1 + 2 = 3, nbg 2, mean 150
      (5L, "z z"),     // score-only, fully unseen: 1, nbg 1, mean 100
      (3L, "")         // no bigrams
    ).toDF("doc_id", "text")
    val out = CorpusOps.bigramLmBits(d).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
      .toMap
    // (n_bigrams, lm_bits, mean_centibits)
    assert(out(0L) == ((3L, 3L, 100L)), out(0L).toString)
    assert(out(2L) == ((1L, 1L, 100L)), out(2L).toString)
    assert(out(1L) == ((2L, 3L, 150L)), out(1L).toString)
    assert(out(5L) == ((1L, 1L, 100L)), out(5L).toString)
    assert(out(3L) == ((0L, 0L, 0L)), out(3L).toString)
  }

  test("tf-idf top-k: integer tf-over-df scores, deterministic ties, k bound") {
    val s = spark
    import s.implicits._
    val d = Seq(
      (1L, "apple apple apple banana common"),
      (2L, "banana banana cherry common"),
      (3L, "common cherry date")
    ).toDF("doc_id", "text")
    val out = CorpusOps.tfIdfTopK(d, k = 2).collect()
      .map(r => (r.getLong(0), r.getLong(5)) -> ((r.getString(1), r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // doc 1: apple tf=3 df=1 -> 3000000; banana tf=1 df=2 -> 500000
    assert(out((1L, 1L)) == (("apple", 3L, 1L, 3000000L)), out.toString)
    assert(out((1L, 2L)) == (("banana", 1L, 2L, 500000L)), out.toString)
    // doc 2: banana tf=2 df=2 -> 1000000; cherry tf=1 df=2 -> 500000
    assert(out((2L, 1L)) == (("banana", 2L, 2L, 1000000L)), out.toString)
    assert(out((2L, 2L)) == (("cherry", 1L, 2L, 500000L)), out.toString)
    // doc 3: date tf=1 df=1 -> 1000000; cherry ties with common on
    // score? cherry 1/2 -> 500000, common 1/3 -> 333333: no tie; date first
    assert(out((3L, 1L)) == (("date", 1L, 1L, 1000000L)), out.toString)
    assert(out((3L, 2L)) == (("cherry", 1L, 2L, 500000L)), out.toString)
    // k bound holds
    assert(out.keys.forall(_._2 <= 2L))
  }

  test("quality filter: each Gopher rule sets its own reason bit; clean doc keeps") {
    val s = spark
    import s.implicits._
    // 36 words: 30 distinct 5-letter + the*2 + a + and + 2 distinct
    // 4-letter -> mwl = 1680/36 = 46 in [40,52]; 3 stopword types;
    // top word "the" 2/36 = 555bp; all 35 bigrams distinct = 285bp
    val clean = "the apple brick cloud dance eagle flame grape house igloo jolly koala " +
      "lemon mango night ocean piano queen river stone the tiger under vivid whale " +
      "xenon yacht zebra a amber blaze crisp dwell and gold mist"
    val docs = Seq(
      (1L, clean),
      (2L, "the cat and dog"), // short: words + meanlen + topword + topbigram
      (3L, Seq.fill(40)("buy").mkString(" ")), // spam: meanlen+stop+dup+topword+topbigram
      (4L, clean + " # # # #"), // symbol rule alone: 4*10000/36 = 1111bp > 1000
      (5L, "") // empty: words + meanlen + stopwords
    ).toDF("doc_id", "text")
    val out = Curation.qualityFilter(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == ((36L, 0L, 1L)), out(1L).toString)
    assert(out(2L) == ((4L, 1L + 2L + 16L + 32L, 0L)), out(2L).toString)
    assert(out(3L) == ((40L, 2L + 4L + 8L + 16L + 32L, 0L)), out(3L).toString)
    assert(out(4L) == ((36L, 64L, 0L)), out(4L).toString)
    assert(out(5L) == ((0L, 1L + 2L + 4L, 0L)), out(5L).toString)
  }

  test("source overlap: near-dup pairs roll up per unordered source pair, intra vs cross") {
    val s = spark
    import s.implicits._
    val t1 = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val t2 = "red orange yellow green blue indigo violet umber sepia ochre teal cyan"
    val docs = Seq(
      (1L, t1, "cc1"), (2L, t1, "cc1"), (3L, t1, "cc2"), // T1 clique spans sources
      (4L, t2, "cc2"), (5L, t2, "cc2"), // T2 pair intra-cc2
      (6L, "completely unrelated text about catalyst whole stage codegen", "cc3")
    ).toDF("doc_id", "text", "source")
    val out = Curation.sourceOverlap(docs).collect()
      .map(r => (r.getString(0), r.getString(1)) -> ((r.getLong(2), r.getLong(3), r.getLong(4))))
      .toMap
    // identical texts -> jaccard 1.0 -> 10000bp; clique (1,2,3) gives one
    // intra-cc1 pair and two cross pairs; (4,5) one intra-cc2 pair
    assert(out == Map(
      ("cc1", "cc1") -> ((1L, 1L, 10000L)),
      ("cc1", "cc2") -> ((2L, 0L, 10000L)),
      ("cc2", "cc2") -> ((1L, 1L, 10000L))), out.toString)
  }

  test("extraction plan prunes the parquet scan to url+html") {
    val s = spark
    import s.implicits._
    val dir = freshRoot("graft_prune").toString
    SyntheticPages.pages(s, 1, 2).write.parquet(s"$dir/pages")
    val plan = Extract.run(s.read.parquet(s"$dir/pages").as[Page])
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<url:string,html:binary>"), plan)
  }

  test("minhash LSH shingle stage prunes the documents parquet scan to doc_id+text") {
    // the PlanAudit scan contract cannot see this scan (the pipeline
    // eagerly checkpoints it into an RDD leaf) — this pin covers it
    val s = spark
    import s.implicits._
    val dir = freshRoot("graft_prune_lsh").toString
    Seq((1L, "alpha beta gamma", "en", "s", 15L), (2L, "beta gamma delta", "en", "s", 15L))
      .toDF("doc_id", "text", "lang", "source", "n_chars").write.parquet(s"$dir/documents")
    val plan = Dedup.md5ShingleSetPlan(s.read.parquet(s"$dir/documents"), 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema: struct<doc_id:bigint,text:string>"), plan)
  }

  test("pairwiseErMetrics: contingency identity matches hand-computed pairwise P/R") {
    val s = spark
    import s.implicits._
    // gold {a,b,c} + {d,e}; pred {a,b} + {c,d} + {e}
    val assign = Seq(
      ("a", "p1", "g1"), ("b", "p1", "g1"), ("c", "p2", "g1"),
      ("d", "p2", "g2"), ("e", "p3", "g2")).toDF("id", "pred", "gold")
    val r = Curation.pairwiseErMetrics(assign).collect().head
    // tp=1 (a-b); pred pairs=2 -> fp=1 (c-d); gold pairs=4 -> fn=3
    assert((r.getLong(0), r.getLong(1), r.getLong(2)) == ((1L, 1L, 3L)), r.toString)
    assert(r.getLong(3) == 500000L && r.getLong(4) == 250000L, r.toString)
    // perfect clustering: P = R = 1
    val perfect = Curation.pairwiseErMetrics(
      assign.select($"id", $"gold".as("pred"), $"gold")).collect().head
    assert(perfect.getLong(3) == 1000000L && perfect.getLong(4) == 1000000L)
  }
}
