package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** The one KG-construction DAG behind both stores: Parquet directories
  * (`run`) and snapshot tables (`runVersioned`) give the same rows for
  * every table, and a second call of either resumes every stage.
  */
class KgPipelineSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val tables = Seq("triples", "alias_dict", "links", "canonical_map", "edges", "nodes", "adjacency")

  private def page(url: String, html: String): Page =
    Page(url, new java.sql.Timestamp(0L), html.getBytes("UTF-8"), Extract.extractText(html), "en")

  // two spellings of one local name ("springfield") under different
  // namespaces, so canonicalization merges them and edges rewrite to
  // the canonical entity; page text mentions the aliases for linking
  private val pages = Seq(
    page("http://site.example/a",
      """<html><body><p>Springfield lies near Shelbyville.</p>
        |<script type="application/rdf+xml"><rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://ex/">
        |<rdf:Description rdf:about="http://ex/a/Springfield"><ex:near rdf:resource="http://ex/b/Shelbyville"/><ex:name>Springfield</ex:name></rdf:Description>
        |<rdf:Description rdf:about="http://ex/b/Shelbyville"><ex:mayor><rdf:Description><ex:name>Quimby</ex:name></rdf:Description></ex:mayor></rdf:Description>
        |</rdf:RDF></script></body></html>""".stripMargin),
    page("http://site.example/b",
      """<html><body><p>The springfield plant.</p>
        |<div itemscope itemtype="http://schema.org/Place" itemid="http://ex/c/springfield">
        |<span itemprop="name">Springfield</span><a itemprop="sameAs" href="http://ex/a/Springfield">x</a></div>
        |</body></html>""".stripMargin),
    page("http://site.example/c.rdf",
      """<?xml version="1.0"?>
        |<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://ex/">
        |<rdf:Description rdf:about="http://ex/b/Shelbyville"><ex:twin rdf:resource="http://ex/c/springfield"/></rdf:Description>
        |</rdf:RDF>""".stripMargin))

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  // lineage rows carry each task's wall time; every other column must match
  private def metricRows(df: DataFrame): Seq[String] = rows(df.drop("wallMs"))

  private def files(root: String): Seq[(String, Long)] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map((p: Path) => (p.toString, Files.getLastModifiedTime(p).toMillis)).toSeq.sorted
    finally s.close()
  }

  test("run and runVersioned build equal tables; a second call of each resumes every stage") {
    val s = spark
    import s.implicits._
    val ds = pages.toDS()
    val outRoot = Files.createTempDirectory("graft_dag_run").toString
    val warehouse = Files.createTempDirectory("graft_dag_snap").toString

    val plain = KgPipeline.run(s, ds, outRoot)
    val snap = KgPipeline.runVersioned(s, ds, warehouse)
    tables.foreach(t => assert(rows(plain(t)) == rows(snap(t)), t))
    assert(metricRows(plain("metrics")) == metricRows(snap("metrics")))
    assert(plain("triples").count() > 0 && plain("links").count() > 0)
    // the two spellings of springfield share one canonical entity
    val canon = plain("canonical_map").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(canon("http://ex/a/Springfield") == canon("http://ex/c/springfield"))

    // resume: the parquet store rewrites no file, no snapshot advances
    val written = files(outRoot)
    val plainAgain = KgPipeline.run(s, ds, outRoot)
    assert(files(outRoot) == written)
    val snapAgain = KgPipeline.runVersioned(s, ds, warehouse)
    (tables :+ "metrics").foreach(t => assert(SnapTable.currentVersion(warehouse, t) == 1, s"$t advanced on resume"))
    tables.foreach { t =>
      assert(rows(plainAgain(t)) == rows(plain(t)), t)
      assert(rows(snapAgain(t)) == rows(plain(t)), t)
    }
    assert(metricRows(plainAgain("metrics")) == metricRows(plain("metrics")))
    assert(metricRows(snapAgain("metrics")) == metricRows(plain("metrics")))
  }
}
