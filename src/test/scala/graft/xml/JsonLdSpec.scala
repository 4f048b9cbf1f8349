package graft.xml

import graft.rdf._
import org.scalatest.funsuite.AnyFunSuite

class JsonLdSpec extends AnyFunSuite {

  private val schema = "https://schema.org/"
  private val xsd = Vocab.xsdNs

  test("string @context as vocab: @id/@type/properties, number and boolean literals") {
    val json =
      """{"@context": "https://schema.org",
        | "@id": "http://e/p1",
        | "@type": "Person",
        | "name": "Ada",
        | "age": 36,
        | "height": 1.65,
        | "alive": false}""".stripMargin
    val ts = JsonLd.parse(json, None).toOption.get.toSet
    val s = Iri("http://e/p1")
    assert(ts == Set(
      Triple(s, Iri(Vocab.rdfType), Iri(schema + "Person")),
      Triple(s, Iri(schema + "name"), Lit.plain("Ada")),
      Triple(s, Iri(schema + "age"), Lit.typed("36", xsd + "integer")),
      Triple(s, Iri(schema + "height"), Lit.typed("1.65E0", xsd + "double")),
      Triple(s, Iri(schema + "alive"), Lit.typed("false", xsd + "boolean"))
    ))
  }

  test("nested node objects link via deterministic bnodes; arrays fan out") {
    val json =
      """{"@context": "https://schema.org/",
        | "@id": "http://e/a",
        | "author": {"@type": "Person", "name": "Bob"},
        | "keywords": ["kg", "web"]}""".stripMargin
    val ts = JsonLd.parse(json, None).toOption.get.toSet
    val s = Iri("http://e/a")
    val b = BNode("jl0_0")
    assert(ts == Set(
      Triple(b, Iri(Vocab.rdfType), Iri(schema + "Person")),
      Triple(b, Iri(schema + "name"), Lit.plain("Bob")),
      Triple(s, Iri(schema + "author"), b),
      Triple(s, Iri(schema + "keywords"), Lit.plain("kg")),
      Triple(s, Iri(schema + "keywords"), Lit.plain("web"))
    ))
  }

  test("map context: term defs, CURIEs over earlier terms, @id coercion, @language") {
    val json =
      """{"@context": {
        |   "sc": "http://schema.org/",
        |   "name": "sc:name",
        |   "url": {"@id": "sc:url", "@type": "@id"},
        |   "born": {"@id": "sc:birthDate", "@type": "sc:Date"},
        |   "@language": "en"},
        | "@id": "http://e/p2",
        | "name": "Carol",
        | "url": "/home",
        | "born": "1990-01-02"}""".stripMargin
    val ts = JsonLd.parse(json, Some("http://host/page")).toOption.get.toSet
    val s = Iri("http://e/p2")
    assert(ts == Set(
      Triple(s, Iri("http://schema.org/name"), Lit.lang("Carol", "en")),
      Triple(s, Iri("http://schema.org/url"), Iri("http://host/home")),
      Triple(s, Iri("http://schema.org/birthDate"), Lit.typed("1990-01-02", "http://schema.org/Date"))
    ))
  }

  test("@value objects with @language/@type; @list builds an rdf collection") {
    val json =
      """{"@context": "https://schema.org",
        | "@id": "http://e/b",
        | "headline": {"@value": "Hallo", "@language": "de"},
        | "datePublished": {"@value": "2024-01-01", "@type": "Date"},
        | "itemListElement": {"@list": ["x", "y"]}}""".stripMargin
    val ts = JsonLd.parse(json, None).toOption.get.toSet
    val s = Iri("http://e/b")
    val n0 = BNode("jl0_0")
    val n1 = BNode("jl0_1")
    assert(ts == Set(
      Triple(s, Iri(schema + "headline"), Lit.lang("Hallo", "de")),
      Triple(s, Iri(schema + "datePublished"), Lit.typed("2024-01-01", schema + "Date")),
      Triple(s, Iri(schema + "itemListElement"), n0),
      Triple(n0, Iri(Vocab.rdfFirst), Lit.plain("x")),
      Triple(n0, Iri(Vocab.rdfRest), n1),
      Triple(n1, Iri(Vocab.rdfFirst), Lit.plain("y")),
      Triple(n1, Iri(Vocab.rdfRest), Iri(Vocab.rdfNil))
    ))
  }

  test("top-level array and @graph both merge into the default graph; author bnode labels jlu-prefixed") {
    val arr =
      """[{"@context": "https://schema.org", "@id": "_:a", "name": "one"},
        | {"@context": "https://schema.org", "@id": "http://e/two", "name": "two"}]""".stripMargin
    val ts1 = JsonLd.parse(arr, None).toOption.get.toSet
    assert(ts1 == Set(
      Triple(BNode("jlua"), Iri(schema + "name"), Lit.plain("one")),
      Triple(Iri("http://e/two"), Iri(schema + "name"), Lit.plain("two"))))
    val graph =
      """{"@context": "https://schema.org",
        | "@graph": [{"@id": "http://e/g1", "name": "g1"}, {"@id": "http://e/g2", "name": "g2"}]}""".stripMargin
    val ts2 = JsonLd.parse(graph, None).toOption.get.toSet
    assert(ts2 == Set(
      Triple(Iri("http://e/g1"), Iri(schema + "name"), Lit.plain("g1")),
      Triple(Iri("http://e/g2"), Iri(schema + "name"), Lit.plain("g2"))))
  }

  test("scriptBlocks finds ld+json islands only, attribute-order/quote tolerant, raw > inside strings") {
    val html =
      """<html><head>
        |<script src="app.js"></script>
        |<script type="application/ld+json">{"@context":"https://schema.org","@id":"http://e/1","name":"a>b"}</script>
        |<SCRIPT TYPE='application/ld+json'>{"@id":"http://e/2"}</SCRIPT>
        |</head><body></body></html>""".stripMargin
    val blocks = JsonLd.scriptBlocks(html)
    assert(blocks.size == 2)
    val ts = JsonLd.parseHtml(html, None).toSet
    assert(ts == Set(Triple(Iri("http://e/1"), Iri(schema + "name"), Lit.plain("a>b"))))
  }

  test("malformed JSON skipped non-fatally; two blocks get disjoint bnode namespaces") {
    val html =
      """<script type="application/ld+json">{not json at all</script>
        |<script type="application/ld+json">{"@context":"https://schema.org","author":{"name":"x"}}</script>
        |<script type="application/ld+json">{"@context":"https://schema.org","author":{"name":"y"}}</script>""".stripMargin
    val ts = JsonLd.parseHtml(html, None).toSet
    // block 1: subject jl1_0 (root) → author jl1_1; block 2 same with jl2_*
    assert(ts == Set(
      Triple(BNode("jl1_0"), Iri(schema + "author"), BNode("jl1_1")),
      Triple(BNode("jl1_1"), Iri(schema + "name"), Lit.plain("x")),
      Triple(BNode("jl2_0"), Iri(schema + "author"), BNode("jl2_1")),
      Triple(BNode("jl2_1"), Iri(schema + "name"), Lit.plain("y"))))
  }

  test("@reverse asserts inverted triples from node objects and IRI strings; literals drop") {
    val json =
      """{"@context": "https://schema.org",
        | "@id": "http://e/work",
        | "@reverse": {
        |   "author": [{"@id": "http://e/p1", "name": "Ann"}, "http://e/p2", 42]
        | }}""".stripMargin
    val ts = JsonLd.parse(json, None).toOption.get.toSet
    assert(ts == Set(
      Triple(Iri("http://e/p1"), Iri(schema + "name"), Lit.plain("Ann")),
      Triple(Iri("http://e/p1"), Iri(schema + "author"), Iri("http://e/work")),
      Triple(Iri("http://e/p2"), Iri(schema + "author"), Iri("http://e/work"))))
  }

  test("@id-coerced relative values base-resolve even under @vocab (document-relative, not vocab-relative)") {
    // the expansion-order bug class: with BOTH @vocab and an
    // @id-coerced term, "about.html" must resolve against the document
    // base, never concatenate onto the vocab
    val json =
      """{"@context": {"@vocab": "http://schema.org/",
        |              "url": {"@id": "http://schema.org/url", "@type": "@id"}},
        | "@id": "page.html",
        | "url": "about.html",
        | "name": "t"}""".stripMargin
    val ts = JsonLd.parse(json, Some("http://host/dir/index.html")).toOption.get.toSet
    val s = Iri("http://host/dir/page.html")
    assert(ts == Set(
      Triple(s, Iri("http://schema.org/url"), Iri("http://host/dir/about.html")),
      Triple(s, Iri("http://schema.org/name"), Lit.plain("t"))))
    // vocab-relative positions (keys, @type) still expand through @vocab
    val ty = """{"@context": {"@vocab": "http://schema.org/"}, "@id": "http://e/k", "@type": "Thing"}"""
    assert(JsonLd.parse(ty, None).toOption.get.toSet ==
      Set(Triple(Iri("http://e/k"), Iri(Vocab.rdfType), Iri("http://schema.org/Thing"))))
  }

  test("scriptBlocks keys on the type ATTRIBUTE: src='lib-ld+json.js' is not an island and shifts no block index") {
    val html =
      """<script src="lib-ld+json.js"></script>
        |<script data-type="application/ld+json">not an island</script>
        |<script type = 'application/ld+json; charset=utf-8'>{"@context":"https://schema.org","author":{"name":"x"}}</script>""".stripMargin
    assert(JsonLd.scriptBlocks(html).size == 1)
    // the non-islands consume NO block index, so the valid island is
    // block 0 and its fresh bnodes are jl0_*
    val ts = JsonLd.parseHtml(html, None).toSet
    assert(ts == Set(
      Triple(BNode("jl0_0"), Iri(schema + "author"), BNode("jl0_1")),
      Triple(BNode("jl0_1"), Iri(schema + "name"), Lit.plain("x"))))
  }

  test("a node described twice yields each statement once, within a block and across a page's blocks") {
    val item = """{"@id": "http://e/r", "@type": "Person", "name": "Rae"}"""
    val s = Iri("http://e/r")
    val once = Vector(
      Triple(s, Iri(Vocab.rdfType), Iri(schema + "Person")),
      Triple(s, Iri(schema + "name"), Lit.plain("Rae")))
    val block = s"""{"@context": "https://schema.org", "@graph": [$item, $item]}"""
    assert(JsonLd.parse(block, None).toOption.get == once)
    val page =
      s"""<script type="application/ld+json">$block</script>
         |<script type="application/ld+json">{"@context": "https://schema.org", "@graph": [$item]}</script>""".stripMargin
    assert(JsonLd.parseHtml(page, None) == once)
  }

  test("canonicalDouble emits XSD canonical forms") {
    assert(JsonLd.canonicalDouble(1.65) == "1.65E0")
    assert(JsonLd.canonicalDouble(1e10) == "1.0E10")
    assert(JsonLd.canonicalDouble(0.001) == "1.0E-3")
    assert(JsonLd.canonicalDouble(-12345.678) == "-1.2345678E4")
    assert(JsonLd.canonicalDouble(0.0) == "0.0E0")
    assert(JsonLd.canonicalDouble(100.0) == "1.0E2")
    assert(JsonLd.canonicalDouble(Double.PositiveInfinity) == "INF")
  }

  test("unexpandable keys and types drop; remote contexts never fetched") {
    val json = """{"@id": "http://e/x", "name": "no vocab", "@type": "Thing"}"""
    assert(JsonLd.parse(json, None).toOption.get.isEmpty)
    val bad = """"just a string""""
    assert(JsonLd.parse(bad, None).isLeft)
  }
}
