package graft.xml

import graft.pipeline.{Extract, SyntheticPages}
import graft.rdf._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The hand-written RDF/XML corpus under `graft/fixtures/` (FIXTURES.md
  * §3), decoded the way FIXTURES.md states: base
  * `http://graft.example/fixtures/<path>` and bnode prefix "j". Every
  * `testNNN.rdf` must decode isomorphic to its hand-written
  * `testNNN.nt`; every `errorNNN.rdf` must be rejected.
  */
class FixtureCorpusSpec extends AnyFunSuite {

  private val root = SyntheticPages.fixtureRoot
  private val baseUrl = "http://graft.example/fixtures/"
  private val docs = SyntheticPages.fixtureFiles()

  /** The production directories FIXTURES.md §3 lists. */
  private val directories = Set(
    "amp-in-url", "datatypes", "parsetype-collection", "parsetype-literal",
    "parsetype-other", "parsetype-resource", "property-attributes",
    "rdf-charmod-literals", "rdf-charmod-uris", "rdf-containers-syntax-vs-schema",
    "rdf-element-not-mandatory", "rdf-ns-prefix-confusion", "rdfms-abouteach",
    "rdfms-difference-between-ID-and-about", "rdfms-duplicate-member-props",
    "rdfms-empty-property-elements", "rdfms-identity-anon-resources",
    "rdfms-not-id-and-resource-attr", "rdfms-rdf-id", "rdfms-rdf-names-use",
    "rdfms-reification-required", "rdfms-seq-representation",
    "rdfms-syntax-incomplete", "rdfms-uri-substructure", "rdfms-xmllang",
    "rdfs-domain-and-range", "striping", "unrecognised-xml-attributes",
    "xml-syntax", "xmlbase")

  private def fileName(rel: String): String = rel.substring(rel.lastIndexOf('/') + 1)

  test("the corpus holds at least 126 documents, in exactly the listed directories") {
    assert(docs.size >= 126, docs.size)
    assert(docs.map(_._1.takeWhile(_ != '/')).toSet == directories)
    val unnamed = docs.map(d => fileName(d._1)).filterNot(_.matches("(test|error)\\d{3}\\.rdf"))
    assert(unnamed.isEmpty, unnamed)
  }

  test("every .nt expectation belongs to a testNNN.rdf input") {
    val rels = docs.map(_._1).toSet
    Files.walk(root).iterator().asScala
      .map(p => root.relativize(p).toString).filter(_.endsWith(".nt"))
      .foreach(nt => assert(rels.contains(nt.stripSuffix(".nt") + ".rdf") && fileName(nt).startsWith("test"), nt))
  }

  test("every document is an RDF/XML island both as a bare page and wrapped in HTML") {
    docs.foreach { case (rel, bytes) =>
      (0 to 1).foreach { copy =>
        val p = SyntheticPages.page(rel, bytes, copy, 0)
        assert(Extract.detectIsland(new String(p.html, "UTF-8")).isDefined, s"$rel copy=$copy")
      }
    }
  }

  docs.foreach { case (rel, bytes) =>
    val base = baseUrl + rel
    if (fileName(rel).startsWith("error"))
      test(s"corpus negative $rel") {
        RdfXmlParser.parseBytes(bytes, Some(base)) match {
          case Left(_) => succeed
          case Right(g) => fail(s"expected error, got ${g.size} triples:\n${NTriples.serialize(g.triples)}")
        }
      }
    else
      test(s"corpus eval $rel") {
        val golden = NTriples.parse(
          new String(Files.readAllBytes(root.resolve(rel.stripSuffix(".rdf") + ".nt")), "UTF-8"))
        assert(golden.nonEmpty, s"$rel: empty expectation")
        RdfXmlParser.parseBytes(bytes, Some(base), bnodePrefix = "j") match {
          case Left(err) => fail(s"decode failed: ${err.message}")
          case Right(graph) =>
            assert(Isomorphism.isomorphic(graph.triples, golden),
              s"\nGOT:\n${NTriples.serialize(graph.triples.toSeq.sortBy(_.toString))}" +
                s"\nEXPECTED:\n${NTriples.serialize(golden.toSeq.sortBy(_.toString))}")
        }
      }
  }
}
