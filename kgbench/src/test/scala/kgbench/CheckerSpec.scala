package kgbench

import graft.pipeline.{KgPipeline, StageCache}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._
import scala.util.Random

/** The checker must accept a real pipeline run over a small generated
  * workload and reject each of several corruptions of that run's output.
  */
class CheckerSpec extends AnyFunSuite with BeforeAndAfterAll {

  private val work = Files.createTempDirectory("kgbench-checker")
  private lazy val spark: SparkSession = Main.session(2, work)

  private val merged = "Ravolimek"
  private val brokenUrl = "http://c.example/broken"

  /** Five pages: a JSON-LD island naming one entity under two
    * namespaces, a microdata island, a malformed RDF/XML island, a bare
    * RDF/XML document and a page with text only.
    */
  private lazy val workload: Workload = {
    val r = new Random(7)
    val words = Gen.fillerWords(r, 50)
    val pool = Gen.names(r, 40)
    def html(url: String, islands: Seq[String], mentions: Seq[String]) = {
      val (head, body) = Gen.boilerplate(r, 800, words)
      Gen.htmlPage(url, head, body, islands, Seq(Gen.paragraph(r, words, 12, mentions)))
    }
    def item(id: String) = Gen.Item(id, "Person", s"${id.split('/').last} Doe", Seq(s"http://d.example/people/${pool(0)}"))
    val pagesAndTruth = Seq(
      { val u = "http://a.example/1"
        val (m, ts) = Gen.jsonLd(Seq(item(s"http://a.example/people/$merged"), item(s"http://b.example/people/$merged")),
          upper = false, broken = false)
        val (h, t) = html(u, Seq(m), Seq(merged)); (u, h, t, false, ts) },
      { val u = "http://b.example/2"
        val (m, ts) = Gen.microdata(Seq(item(s"http://b.example/people/${pool(1)}")), upper = true)
        val (h, t) = html(u, Seq(m), Seq(pool(1))); (u, h, t, false, ts) },
      { val (m, _) = Gen.rdfXmlIsland(Seq(item(s"http://c.example/people/${pool(2)}")), broken = true)
        val (h, t) = html(brokenUrl, Seq(m), Seq(pool(2))); (brokenUrl, h, t, true, Set.empty[ExpTriple]) },
      { val u = "http://d.example/doc.rdf"
        val (b, ts) = Gen.rdfDocument(r, u, 0, 12, pool, new Gen.Zipf(pool.length, 0.9), words, broken = false)
        (u, b, "", false, ts) },
      { val u = "http://e.example/5"
        val (h, t) = html(u, Nil, Seq(merged, pool(1))); (u, h, t, false, Set.empty[ExpTriple]) })
    val pages = pagesAndTruth.zipWithIndex.map { case ((u, h, t, _, _), i) =>
      graft.pipeline.Page(u, new java.sql.Timestamp(i * 1000L), h, t, "en")
    }
    val truth = pagesAndTruth.map { case (u, _, t, err, ts) => PageTruth(u, t, err, ts) }
    Workload("tiny", pages.toVector, truth.toVector, Nil)
  }

  private lazy val (checker, clean) = {
    import spark.implicits._
    StageCache.clear()
    val root = work.resolve("run")
    val out = KgPipeline.run(spark, spark.createDataset(workload.pages).repartition(2), root.toString)
    KgPipeline.writeRdfXml(out("edges"), root.resolve("export").toString)
    (new Checker(spark, workload), Main.outputs(out, root))
  }

  override def afterAll(): Unit = {
    spark.stop()
    Main.deleteTree(work)
  }

  test("the truth plants an alias group, an error page and mentions") {
    val e = workload.expected
    assert(e.errorPages == 1)
    assert(e.entities > e.components)
    assert(e.links > 0)
  }

  test("accepts the unmodified output of a real run") {
    val v = checker.check(clean)
    assert(v.ok, v.notes)
    assert(v.attempted == workload.pages.size)
  }

  test("a probe passes exactly when extraction yields its triples") {
    val (page, truth) = (workload.pages(1), workload.truth(1))
    assert(Checker.probeOk(Probe("microdata page", page, truth)))
    assert(!Checker.probeOk(Probe("one triple missing from the truth", page, truth.copy(triples = truth.triples.tail))))
    assert(!Checker.probeOk(Probe("page marked as a parse error", page, truth.copy(error = true, triples = Set.empty))))
  }

  test("rejects one dropped triple") {
    val victim = clean.triples.where(col("url") === "http://d.example/doc.rdf").limit(1)
    val v = checker.check(clean.copy(triples = clean.triples.except(victim)))
    assert(!v.ok)
    assert(v.failedUrls == Set("http://d.example/doc.rdf"))
  }

  test("rejects an error page parsed as success") {
    import spark.implicits._
    val fake = Seq(("http://c.example/people/x", "http://schema.org/name", "x"))
      .map { case (s, p, o) => (brokenUrl, s, p, o, "literal", null: String, null: String) }
      .toDF("url", "subj", "pred", "obj", "objKind", "lang", "datatype")
    val metrics = clean.metrics.withColumn("parseErrorCount",
      when(col("parseErrorCount") > 0, col("parseErrorCount") - 1).otherwise(col("parseErrorCount")))
    val v = checker.check(clean.copy(triples = clean.triples.unionByName(fake), metrics = metrics))
    assert(!v.ok)
    assert(v.failedUrls.contains(brokenUrl))
    assert(v.notes.exists(_.startsWith("lineage parse errors")))
  }

  test("rejects one missing merge") {
    val split = clean.canonicalMap.withColumn("canon",
      when(col("entity") === s"http://b.example/people/$merged", col("entity")).otherwise(col("canon")))
    val v = checker.check(clean.copy(canonicalMap = split))
    assert(!v.ok)
    assert(v.notes.exists(_.startsWith("canonical components")))
  }

  test("rejects one dropped edge") {
    val victim = clean.edges.where(col("url") === "http://d.example/doc.rdf").limit(1)
    val v = checker.check(clean.copy(edges = clean.edges.except(victim)))
    assert(!v.ok)
    assert(v.failedUrls == Set("http://d.example/doc.rdf"))
  }

  test("rejects one wrong out-degree") {
    val hub = clean.nodes.orderBy(col("outDegree").desc, col("subj")).select("subj").head().getString(0)
    val nodes = clean.nodes.withColumn("outDegree",
      when(col("subj") === hub, col("outDegree") + 1).otherwise(col("outDegree")))
    val v = checker.check(clean.copy(nodes = nodes))
    assert(!v.ok)
    assert(v.notes.exists(_.startsWith("node table")))
  }

  test("rejects an export that lost a description") {
    val partial = work.resolve("partial-export")
    Files.createDirectories(partial)
    val parts = Files.list(clean.export).iterator().asScala
      .filter(_.getFileName.toString.startsWith("part-")).toVector.sortBy(f => -Files.size(f))
    parts.foreach(f => Files.copy(f, partial.resolve(f.getFileName)))
    // node elements sit on lines of their own between the prolog and
    // the root's end tag: drop the last one
    val victim = partial.resolve(parts.head.getFileName)
    val lines = Files.readAllLines(victim).asScala.toVector
    val last = lines.lastIndexWhere(_.nonEmpty, lines.length - 2)
    assert(last > 1)
    Files.write(victim, lines.patch(last, Nil, 1).asJava)
    val v = checker.check(clean.copy(export = partial))
    assert(!v.ok)
    assert(v.notes.exists(_.startsWith("export statements")))
  }
}
