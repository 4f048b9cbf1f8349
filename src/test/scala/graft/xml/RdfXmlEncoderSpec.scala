package graft.xml

import graft.rdf._
import org.scalatest.funsuite.AnyFunSuite

/** Encoder goldens adapted from /root/reference/test/unit/encoder_test.exs.
  * Byte layouts match the reference except where its ordering is an
  * Erlang-map-iteration artifact; our deterministic ordering is part of
  * this library's spec (see RdfXmlEncoder Scaladoc).
  */
class RdfXmlEncoderSpec extends AnyFunSuite {

  private val eric = "http://www.w3.org/People/EM/contact#"
  private val contact = "http://www.w3.org/2000/10/swap/pim/contact#"
  private val rdfs = "http://www.w3.org/2000/01/rdf-schema#"
  private val ex = "http://example.com/"

  private val exampleGraph = RdfGraph(
    Set(
      Triple(Iri(eric + "me"), Iri(Vocab.rdfType), Iri(contact + "Person")),
      Triple(Iri(eric + "me"), Iri(contact + "fullName"), Lit.plain("Eric Miller")),
      Triple(Iri(eric + "me"), Iri(contact + "mailbox"), Iri("mailto:e.miller123(at)example")),
      Triple(Iri(eric + "me"), Iri(contact + "personalTitle"), Lit.plain("Dr.")),
      Triple(Iri(ex + "Foo"), Iri(Vocab.rdfType), Iri(ex + "Bar")),
      Triple(Iri(ex + "Foo"), Iri(Vocab.rdfType), Iri(ex + "Baz")),
      Triple(Iri(ex + "Foo"), Iri(rdfs + "comment"), Lit.plain("Comment")),
      Triple(Iri(ex + "Foo"), Iri(rdfs + "comment"), Lit.lang("Kommentar", "de"))
    ),
    prefixes = Map("eric" -> eric, "contact" -> contact, "rdf" -> Vocab.rdfNs, "rdfs" -> rdfs)
  )

  private def enc(g: RdfGraph, opts: RdfXmlEncoder.Options = RdfXmlEncoder.Options()): String =
    RdfXmlEncoder.encode(g, opts).fold(e => fail(e.message), identity)

  test("full example (encoder_test.exs:34-56)") {
    val result = enc(exampleGraph)
    assert(result ==
      """<?xml version="1.0" encoding="utf-8"?>""" +
        """<rdf:RDF """ +
        """xmlns:contact="http://www.w3.org/2000/10/swap/pim/contact#" """ +
        """xmlns:eric="http://www.w3.org/People/EM/contact#" """ +
        """xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" """ +
        """xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#">""" +
        """<rdf:Description rdf:about="http://example.com/Foo">""" +
        """<rdf:type rdf:resource="http://example.com/Bar"/>""" +
        """<rdf:type rdf:resource="http://example.com/Baz"/>""" +
        """<rdfs:comment xml:lang="de">Kommentar</rdfs:comment>""" +
        """<rdfs:comment>Comment</rdfs:comment>""" +
        """</rdf:Description>""" +
        """<contact:Person rdf:about="http://www.w3.org/People/EM/contact#me">""" +
        """<contact:fullName>Eric Miller</contact:fullName>""" +
        """<contact:mailbox rdf:resource="mailto:e.miller123(at)example"/>""" +
        """<contact:personalTitle>Dr.</contact:personalTitle>""" +
        """</contact:Person>""" +
        """</rdf:RDF>""")
    // round trip
    val back = RdfXmlParser.parse(result).fold(e => fail(e.message), identity)
    assert(back.triples == exampleGraph.triples)
  }

  test("xml_declaration: false") {
    val result = enc(exampleGraph, RdfXmlEncoder.Options(xmlDeclaration = false))
    assert(result.startsWith("<rdf:RDF "))
    assert(!result.contains("<?xml"))
  }

  private def xmlDescription(triples: String, subject: String = """rdf:about="http://example.com/S""""): String =
    """<?xml version="1.0" encoding="utf-8"?>""" +
      """<rdf:RDF xmlns:ex="http://example.com/">""" +
      s"""<rdf:Description $subject>""" + triples + """</rdf:Description></rdf:RDF>"""

  private def xmlDescriptionWithBase(triples: String, base: String = ex, subject: String = """rdf:about="S""""): String =
    """<?xml version="1.0" encoding="utf-8"?>""" +
      s"""<rdf:RDF xml:base="$base" xmlns:ex="http://example.com/">""" +
      s"""<rdf:Description $subject>""" + triples + """</rdf:Description></rdf:RDF>"""

  private val exPrefixes = Map("ex" -> ex)

  test("resource URI") {
    val g = RdfGraph(Set(Triple(Iri(ex + "S"), Iri(ex + "p"), Iri(ex + "O"))), prefixes = exPrefixes)
    assert(enc(g) == xmlDescription("""<ex:p rdf:resource="http://example.com/O"/>"""))
  }

  test("resource URI against base") {
    val g = RdfGraph(Set(Triple(Iri(ex + "S"), Iri(ex + "p"), Iri(ex + "O"))), prefixes = exPrefixes)
    assert(enc(g, RdfXmlEncoder.Options(base = Some(ex))) ==
      xmlDescriptionWithBase("""<ex:p rdf:resource="O"/>"""))
    val g2 = g.copy(base = Some(ex))
    assert(enc(g2) == xmlDescriptionWithBase("""<ex:p rdf:resource="O"/>"""))
  }

  test("use_rdf_id against base") {
    val g = RdfGraph(
      Set(Triple(Iri(ex + "#S"), Iri(ex + "p"), Iri(ex + "#O"))),
      base = Some(ex),
      prefixes = exPrefixes
    )
    assert(enc(g, RdfXmlEncoder.Options(useRdfId = (_, _) => true)) ==
      xmlDescriptionWithBase("""<ex:p rdf:resource="#O"/>""", subject = """rdf:ID="S""""))
  }

  test("implicit_base suppresses xml:base") {
    val g = RdfGraph(Set(Triple(Iri(ex + "S"), Iri(ex + "p"), Iri(ex + "O"))), prefixes = exPrefixes)
    assert(enc(g, RdfXmlEncoder.Options(base = Some(ex), implicitBase = true)) ==
      xmlDescription("""<ex:p rdf:resource="O"/>""", subject = """rdf:about="S""""))
  }

  test("base fragment is stripped") {
    val g = RdfGraph(
      Set(Triple(Iri(ex + "S"), Iri(ex + "p"), Iri(ex + "O"))),
      base = Some(ex + "#foo"),
      prefixes = exPrefixes
    )
    assert(enc(g) == xmlDescriptionWithBase("""<ex:p rdf:resource="O"/>"""))
  }

  test("string literal") {
    val g = RdfGraph(Set(Triple(Iri(ex + "S"), Iri(ex + "p"), Lit.plain("Foo"))), prefixes = exPrefixes)
    assert(enc(g) == xmlDescription("<ex:p>Foo</ex:p>"))
  }

  test("language-tagged literal") {
    val g = RdfGraph(Set(Triple(Iri(ex + "S"), Iri(ex + "p"), Lit.lang("Foo", "de"))), prefixes = exPrefixes)
    assert(enc(g) == xmlDescription("""<ex:p xml:lang="de">Foo</ex:p>"""))
  }

  test("typed literal") {
    val g = RdfGraph(
      Set(Triple(Iri(ex + "S"), Iri(ex + "p"), Lit.typed("42", Vocab.xsdNs + "integer"))),
      prefixes = exPrefixes
    )
    assert(enc(g) ==
      xmlDescription("""<ex:p rdf:datatype="http://www.w3.org/2001/XMLSchema#integer">42</ex:p>"""))
  }

  test("rdf:XMLLiteral raw lexical embed") {
    val g = RdfGraph(
      Set(Triple(Iri(ex + "S"), Iri(ex + "p"), Lit("<b>Foo</b>", Vocab.rdfXmlLiteral, ""))),
      prefixes = exPrefixes
    )
    assert(enc(g) == xmlDescription("""<ex:p rdf:parseType="Literal"><b>Foo</b></ex:p>"""))
  }

  test("empty (default) xmlns prefix") {
    val g = RdfGraph(
      Set(
        Triple(Iri(ex + "S"), Iri(ex + "p"), Iri(ex + "O")),
        Triple(Iri(ex + "S"), Iri(Vocab.rdfType), Iri(ex + "Class"))
      ),
      prefixes = Map("" -> ex)
    )
    assert(enc(g) ==
      """<?xml version="1.0" encoding="utf-8"?>""" +
        s"""<rdf:RDF xmlns="$ex">""" +
        s"""<Class rdf:about="${ex}S">""" +
        s"""<p rdf:resource="${ex}O"/>""" +
        """</Class></rdf:RDF>""")
  }

  test("stream/2 emits one line per description (encoder_test.exs:279-308)") {
    val lines = RdfXmlEncoder.stream(exampleGraph).toList
    val joined = lines.mkString
    assert(lines.head == "<?xml version=\"1.0\" encoding=\"utf-8\"?>\n")
    assert(lines(1).startsWith("<rdf:RDF ") && lines(1).endsWith(">\n"))
    assert(lines.last == "</rdf:RDF>")
    assert(lines.size == 2 + 2 + 1) // decl + open + 2 descriptions + close
    // stream content equals batch content modulo the newline separators
    assert(joined.replace(">\n", ">") == enc(exampleGraph).replace(">\n", ">"))
  }

  test("custom producer function reorders descriptions (encoder_test.exs:81-137)") {
    val producer: RdfGraph => Seq[Term] =
      _ => Seq(Iri(eric + "me"), Iri(ex + "Foo")) // eric:me popped to the front
    val opts = RdfXmlEncoder.Options(producer = Some(producer))
    val result = enc(exampleGraph, opts)
    assert(result ==
      """<?xml version="1.0" encoding="utf-8"?>""" +
        """<rdf:RDF """ +
        """xmlns:contact="http://www.w3.org/2000/10/swap/pim/contact#" """ +
        """xmlns:eric="http://www.w3.org/People/EM/contact#" """ +
        """xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" """ +
        """xmlns:rdfs="http://www.w3.org/2000/01/rdf-schema#">""" +
        """<contact:Person rdf:about="http://www.w3.org/People/EM/contact#me">""" +
        """<contact:fullName>Eric Miller</contact:fullName>""" +
        """<contact:mailbox rdf:resource="mailto:e.miller123(at)example"/>""" +
        """<contact:personalTitle>Dr.</contact:personalTitle>""" +
        """</contact:Person>""" +
        """<rdf:Description rdf:about="http://example.com/Foo">""" +
        """<rdf:type rdf:resource="http://example.com/Bar"/>""" +
        """<rdf:type rdf:resource="http://example.com/Baz"/>""" +
        """<rdfs:comment xml:lang="de">Kommentar</rdfs:comment>""" +
        """<rdfs:comment>Comment</rdfs:comment>""" +
        """</rdf:Description>""" +
        """</rdf:RDF>""")
    // round trip preserves the graph
    assert(RdfXmlParser.parse(result).toOption.get.triples == exampleGraph.triples)
    // stream variant honors the producer too, with the line separators
    val streamed = RdfXmlEncoder.stream(exampleGraph, opts).mkString
    assert(streamed ==
      "<?xml version=\"1.0\" encoding=\"utf-8\"?>\n" +
        """<rdf:RDF """ +
        """xmlns:contact="http://www.w3.org/2000/10/swap/pim/contact#" """ +
        """xmlns:eric="http://www.w3.org/People/EM/contact#" """ +
        """xmlns:rdf="http://www.w3.org/1999/02/22-rdf-syntax-ns#" """ +
        "xmlns:rdfs=\"http://www.w3.org/2000/01/rdf-schema#\">\n" +
        """<contact:Person rdf:about="http://www.w3.org/People/EM/contact#me">""" +
        """<contact:fullName>Eric Miller</contact:fullName>""" +
        """<contact:mailbox rdf:resource="mailto:e.miller123(at)example"/>""" +
        """<contact:personalTitle>Dr.</contact:personalTitle>""" +
        "</contact:Person>\n" +
        """<rdf:Description rdf:about="http://example.com/Foo">""" +
        """<rdf:type rdf:resource="http://example.com/Bar"/>""" +
        """<rdf:type rdf:resource="http://example.com/Baz"/>""" +
        """<rdfs:comment xml:lang="de">Kommentar</rdfs:comment>""" +
        """<rdfs:comment>Comment</rdfs:comment>""" +
        "</rdf:Description>\n" +
        """</rdf:RDF>""")
  }

  test("use_rdf_id as a per-description function (encoder_test.exs:166-194)") {
    val g = RdfGraph(
      Set(
        Triple(Iri(ex + "#S1"), Iri(ex + "p"), Iri(ex + "#O1")),
        Triple(Iri(ex + "#S2"), Iri(Vocab.rdfType), Iri(ex + "UseRdfId")),
        Triple(Iri(ex + "#S2"), Iri(ex + "p"), Iri(ex + "#O2"))
      ),
      base = Some(ex),
      prefixes = exPrefixes
    )
    val useRdfId: (Term, Map[String, Seq[Term]]) => Boolean =
      (_, preds) => preds.getOrElse(Vocab.rdfType, Nil).contains(Iri(ex + "UseRdfId"))
    assert(enc(g, RdfXmlEncoder.Options(useRdfId = useRdfId)) ==
      """<?xml version="1.0" encoding="utf-8"?>""" +
        s"""<rdf:RDF xml:base="$ex" xmlns:ex="http://example.com/">""" +
        """<rdf:Description rdf:about="#S1">""" +
        """<ex:p rdf:resource="#O1"/>""" +
        """</rdf:Description>""" +
        """<ex:UseRdfId rdf:ID="S2">""" +
        """<ex:p rdf:resource="#O2"/>""" +
        """</ex:UseRdfId>""" +
        """</rdf:RDF>""")
  }

  test("unknown property namespace is an encode error") {
    val g = RdfGraph(Set(Triple(Iri(ex + "S"), Iri("http://other.org/p"), Lit.plain("x"))), prefixes = exPrefixes)
    assert(RdfXmlEncoder.encode(g).isLeft)
  }

  test("W3C-suite round trip: decode(encode(g)) == g on a mixed graph") {
    val g = RdfGraph(
      Set(
        Triple(Iri(ex + "S"), Iri(ex + "p"), BNode("b0")),
        Triple(BNode("b0"), Iri(ex + "q"), Lit.lang("hello", "en")),
        Triple(BNode("b0"), Iri(ex + "r"), Lit.typed("3.14", Vocab.xsdNs + "decimal")),
        Triple(Iri(ex + "S"), Iri(Vocab.rdfType), Iri(ex + "Thing")),
        Triple(Iri(ex + "S"), Iri(ex + "x"), Lit.plain("a & b <c> \"d\""))
      ),
      prefixes = Map("ex" -> ex, "rdf" -> Vocab.rdfNs)
    )
    val encoded = enc(g)
    val back = RdfXmlParser.parse(encoded).fold(e => fail(e.message + "\n" + encoded), identity)
    assert(Isomorphism.isomorphic(back.triples, g.triples), encoded)
  }

  test("property names: qname takes non-ASCII NCNames and refuses names that are not NCNames") {
    val eg = "http://example.org/vocab/"
    val prefixes = Map("eg" -> eg)
    assert(RdfXmlEncoder.qname(eg + "título", prefixes).contains("eg:título"))
    assert(RdfXmlEncoder.qname(eg + "名前", prefixes).contains("eg:名前"))
    // a digit, a modifier letter outside XML 1.0 Appendix B, a colon
    Seq("123", "\u02C2x", "a:b", "").foreach(l => assert(RdfXmlEncoder.qname(eg + l, prefixes).isEmpty, l))
  }

  test("Iris.isNCName is the NCName check of a namespace-aware SAX parser, and its names decode") {
    val nsAware = {
      val f = javax.xml.parsers.SAXParserFactory.newInstance()
      f.setNamespaceAware(true)
      f.newSAXParser()
    }
    def wellFormed(local: String): Boolean =
      try {
        nsAware.reset()
        nsAware.parse(new org.xml.sax.InputSource(new java.io.StringReader(s"""<r xmlns:eg="http://e/"><eg:$local/></r>""")),
          new org.xml.sax.helpers.DefaultHandler)
        true
      } catch { case _: org.xml.sax.SAXException => false }
    // the decoder's parser is not namespace-aware, so it also takes
    // names that are not NCNames ("eg:1a"); it must take every NCName
    def decodes(local: String): Boolean = RdfXmlParser.parse(
      s"""<rdf:RDF xmlns:rdf="${Vocab.rdfNs}" xmlns:eg="http://e/"><rdf:Description rdf:about="http://s">""" +
        s"""<eg:$local>v</eg:$local></rdf:Description></rdf:RDF>""").isRight
    // characters that end a tag name as markup rather than as a name
    val markup = Set('\t', '\n', '\r', ' ', '<', '>', '/', '&')
    val names = (0 until 0x10000).map(_.toChar)
      .filterNot(c => Character.isSurrogate(c) || markup(c))
      .flatMap(c => Seq(s"${c}a", s"a$c"))
    def show(ns: Seq[String]) = ns.take(10).map(_.map(c => f"U+${c.toInt}%04X").mkString(" "))
    val disagree = names.filter(n => Iris.isNCName(n) != wellFormed(n))
    assert(disagree.isEmpty, show(disagree))
    val ncNames = names.filter(Iris.isNCName)
    assert(ncNames.size > 10000 && ncNames.contains("aí") && ncNames.contains("名a"))
    val undecodable = ncNames.filterNot(decodes)
    assert(undecodable.isEmpty, show(undecodable))
  }
}
