package graft.sources

import graft.rdf.NTriples
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

class RdfSourcesSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder().master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }
  override def afterAll(): Unit = if (spark != null) spark.stop()

  // xmlbase/ of the shipped fixture corpus and, wherever it is present,
  // of the W3C suite
  private val xmlbaseDirs =
    (graft.pipeline.SyntheticPages.fixtureRoot.resolve("xmlbase") +:
      Seq(java.nio.file.Paths.get("/root/reference/test/data/w3c-rdf-1.1-xml-test-suite/xmlbase"))
        .filter(java.nio.file.Files.isDirectory(_))).map(_.toString)

  test("rdfXmlFiles reads a directory of .rdf documents in parallel") {
    xmlbaseDirs.foreach(readsDirectory)
  }

  private def readsDirectory(dir: String): Unit = {
    val rows = RdfSources.rdfXmlFiles(spark, s"$dir/*.rdf")
    val byFile = rows.collect().groupBy(_.url)
    assert(byFile.keySet.size == 12) // the 12 xmlbase fixtures
    assert(byFile.values.forall(_.nonEmpty))
    // xml:base resolution happened (absolute subjects, not file paths)
    assert(byFile.values.flatten.exists(_.subj.startsWith("http://example.org/")))
  }

  test("nTriples round trip: parse golden, write lines, re-parse identical") {
    xmlbaseDirs.foreach(nTriplesRoundTrip)
  }

  private def nTriplesRoundTrip(dir: String): Unit = {
    val golden = s"$dir/test001.nt"
    val rows = RdfSources.nTriplesFile(spark, golden)
    val lines = RdfSources.toNTriplesLines(rows.toDF()).collect().map(_.getString(0))
    assert(lines.nonEmpty)
    val reparsed = lines.flatMap(l => NTriples.parse(l)).toSet
    val original = NTriples.parse(
      new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(golden)), "UTF-8"))
    def stripScope(ts: Set[graft.rdf.Triple]) = ts.map { t =>
      def f(x: graft.rdf.Term) = x match {
        case graft.rdf.BNode(l) => graft.rdf.BNode(l.replaceAll("@.*", ""))
        case o => o
      }
      graft.rdf.Triple(f(t.s), f(t.p), f(t.o))
    }
    assert(stripScope(reparsed) == original)
  }

  test("nTriplesFile scopes bnodes per FILE and drops malformed lines") {
    val dir = java.nio.file.Files.createTempDirectory("graft_ntsrc")
    java.nio.file.Files.writeString(dir.resolve("a.nt"),
      "_:b0 <http://ex/p> \"from-a\" .\nnot a triple at all\n_:b0 <http://ex/q> \"unterminated .\n")
    java.nio.file.Files.writeString(dir.resolve("b.nt"),
      "_:b0 <http://ex/p> \"from-b\" .\n")
    val rows = RdfSources.nTriplesFile(spark, dir.toString + "/*.nt").collect()
    // 1 good line per file; the malformed/unterminated lines are dropped
    assert(rows.length == 2, rows.mkString(","))
    // equal labels from different files must NOT be conflated after union
    val subjects = rows.map(_.subj).toSet
    assert(subjects.size == 2, subjects)
    assert(subjects.forall(_.startsWith("_:b0@")))
    // and the per-row url is the actual source file, not the glob
    assert(rows.map(_.url).toSet.size == 2)
    assert(rows.forall(r => r.url.endsWith("a.nt") || r.url.endsWith("b.nt")))
  }

  test("nQuads round trip: named + bnode + default graphs survive write → read") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_nqsrc")
    // IRI graph, bnode graph, default graph (triple form), one malformed
    java.nio.file.Files.writeString(dir.resolve("a.nq"),
      "<http://s/1> <http://p> \"v1\" <http://g/1> .\n" +
        "<http://s/2> <http://p> _:o2 _:g2 .\n" +
        "<http://s/3> <http://p> \"line\\nbreak\"@en .\n" +
        "<http://s/4> <http://p> \"dangling\" <http://g/4\n")
    val rows = RdfSources.nQuadsFile(spark, dir.toString + "/a.nq").collect()
    assert(rows.length == 3, rows.mkString("|"))
    val byS = rows.map(r => r.subj -> r).toMap
    assert(byS("http://s/1").graph == "http://g/1")
    assert(byS("http://s/2").graph.startsWith("_:g2@") &&
      byS("http://s/2").obj.startsWith("_:o2@"))
    assert(byS("http://s/3").graph == null && byS("http://s/3").lang == "en" &&
      byS("http://s/3").obj == "line\nbreak")
    // write back and re-read: same (subj, graph-or-null) set, escapes intact
    val out = dir.resolve("out").toString
    RdfSources.writeNQuads(rows.toSeq.toDF(), out)
    val back = RdfSources.nQuadsFile(spark, out + "/*.txt").collect()
    assert(back.length == 3)
    val byS2 = back.map(r => r.subj -> r).toMap
    assert(byS2("http://s/1").graph == "http://g/1")
    // bnode labels pass the export mangle ('@'→'xa') then re-scope on read
    assert(byS2("http://s/2").graph.startsWith("_:g2xa") &&
      byS2("http://s/2").obj.startsWith("_:o2xa"))
    assert(byS2("http://s/3").graph == null &&
      byS2("http://s/3").obj == "line\nbreak" && byS2("http://s/3").lang == "en")
  }

  test("toNTriplesLines escapes quotes, backslashes and newlines") {
    val s = spark
    import s.implicits._
    val df = Seq(("u", "http://s", "http://p", "a\"b\\c\nd", "literal", null: String, null: String))
      .toDF("url", "subj", "pred", "obj", "objKind", "lang", "datatype")
    val line = RdfSources.toNTriplesLines(df).collect()(0).getString(0)
    assert(line == "<http://s> <http://p> \"a\\\"b\\\\c\\nd\" .")
    // and it reparses to the original lexical form
    val t = NTriples.parse(line).head
    assert(t.o == graft.rdf.Lit.plain("a\"b\\c\nd"))
  }

  test("rdfXmlFiles scopes bnodes per file under the chosen prefix; a malformed file contributes nothing") {
    val dir = java.nio.file.Files.createTempDirectory("graft_rdfsrc")
    def doc(body: String) =
      s"""<rdf:RDF xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" xmlns:ex="http://ex/">$body</rdf:RDF>"""
    java.nio.file.Files.writeString(dir.resolve("a.rdf"),
      doc("""<rdf:Description rdf:about="#a"><ex:p><rdf:Description><ex:q>x</ex:q></rdf:Description></ex:p></rdf:Description>"""))
    java.nio.file.Files.writeString(dir.resolve("b.rdf"),
      doc("""<rdf:Description><ex:q xml:lang="en">y</ex:q></rdf:Description>"""))
    java.nio.file.Files.writeString(dir.resolve("c.rdf"), doc("<rdf:Description>"))
    val rows = RdfSources.rdfXmlFiles(spark, dir.toString + "/*.rdf", bnodePrefix = "k").collect()
    val byFile = rows.groupBy(_.url.replaceAll(".*/", ""))
    assert(byFile.keySet == Set("a.rdf", "b.rdf"), rows.mkString("\n"))
    assert(byFile("a.rdf").length == 2 && byFile("b.rdf").length == 1)
    // relative rdf:about resolves against the file path
    assert(byFile("a.rdf").exists(r => r.subj.startsWith("file:") && r.subj.endsWith("a.rdf#a")))
    // equal per-document labels stay apart across files
    val bnodes = rows.flatMap(r => Seq(r.subj, r.obj)).filter(_.startsWith("_:k0@"))
    assert(bnodes.toSet.size == 2, rows.mkString("\n"))
    assert(byFile("b.rdf").head.lang == "en")
  }
}
