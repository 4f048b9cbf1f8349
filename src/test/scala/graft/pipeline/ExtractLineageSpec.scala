package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** `Extract.run`'s lineage does not depend on how the page table is
  * partitioned: one lineage row per partition, and page, triple and
  * parse-error sums — and the triple rows themselves — equal at any
  * partition count.
  */
class ExtractLineageSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def page(url: String, html: String): Page =
    Page(url, new java.sql.Timestamp(0L), html.getBytes("UTF-8"), Extract.extractText(html), "en")

  private val rdfNs = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"

  private val pages = Seq(
    page("http://p.example/xml",
      s"""<html><body><p>x</p><script type="application/rdf+xml"><rdf:RDF xmlns:rdf="$rdfNs" xmlns:ex="http://ex/">
         |<rdf:Description rdf:about="http://ex/a"><ex:knows><rdf:Description><ex:name>B</ex:name></rdf:Description></ex:knows></rdf:Description>
         |</rdf:RDF></script></body></html>""".stripMargin),
    page("http://p.example/bad",
      s"""<html><body><script type="application/rdf+xml"><rdf:RDF xmlns:rdf="$rdfNs">
         |<rdf:Description rdf:about="http://ex/c"></rdf:RDF></script></body></html>""".stripMargin),
    page("http://p.example/rdfa",
      """<html><body><div vocab="http://schema.org/" about="http://ex/d" typeof="Person">
        |<span property="name">D</span><br></div></body></html>""".stripMargin),
    page("http://p.example/md",
      """<html><body><div itemscope itemtype="http://schema.org/Place">
        |<span itemprop="name">E</span></div></body></html>""".stripMargin),
    page("http://p.example/jsonld",
      """<html><head><script type="application/ld+json">{"@context":{"@vocab":"http://s/"},"@id":"http://ex/f","name":"F"}</script></head></html>"""),
    page("http://p.example/plain", "<html><body><p>nothing here</p></body></html>"),
    page("http://p.example/doc.rdf",
      s"""<?xml version="1.0"?><rdf:RDF xmlns:rdf="$rdfNs" xmlns:ex="http://ex/">
         |<rdf:Description rdf:about="http://ex/g"><ex:p>G</ex:p></rdf:Description></rdf:RDF>""".stripMargin),
    page("http://p.example/rdfa2",
      """<div vocab="http://schema.org/" about="http://ex/h"><p PROPERTY="name">H</div>"""))

  test("extract lineage and triple rows are the same at 1 and at 4 partitions") {
    val s = spark
    import s.implicits._
    def extract(partitions: Int): (Seq[LineageRow], Seq[String]) = {
      val out = Extract.run(s.sparkContext.parallelize(pages, partitions).toDS()).collect()
      (out.flatMap(_.lineage).toSeq, out.flatMap(_.triple).map(_.toString).toSeq.sorted)
    }
    val (lin1, rows1) = extract(1)
    val (lin4, rows4) = extract(4)
    assert(lin1.map(_.partitionId) == Seq(0))
    assert(lin4.map(_.partitionId).sorted == Seq(0, 1, 2, 3))
    def sums(l: Seq[LineageRow]) = (l.map(_.pages).sum, l.map(_.tripleCount).sum, l.map(_.parseErrorCount).sum)
    assert(sums(lin1) == (pages.size.toLong, rows1.size.toLong, 1L))
    assert(sums(lin4) == sums(lin1))
    assert(rows4 == rows1 && rows1.nonEmpty)
  }
}
