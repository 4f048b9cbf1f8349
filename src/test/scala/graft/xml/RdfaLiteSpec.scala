package graft.xml

import graft.rdf._
import org.scalatest.funsuite.AnyFunSuite

class RdfaLiteSpec extends AnyFunSuite {

  private val schema = "http://schema.org/"

  test("vocab terms, about, typeof, literal and IRI objects") {
    val island =
      """<div vocab="http://schema.org/" prefix="ex: http://test.example/vocab#">
        |<section about="http://p/x#thing" typeof="Article">
        |<span property="name">Hello</span>
        |<a property="ex:link" href="http://test.example/other">link</a>
        |</section>
        |</div>""".stripMargin
    val ts = RdfaLite.parse(island, Some("http://p/x")).toOption.get.toSet
    val s = Iri("http://p/x#thing")
    assert(ts == Set(
      Triple(s, Iri(Vocab.rdfType), Iri(schema + "Article")),
      Triple(s, Iri(schema + "name"), Lit.plain("Hello")),
      Triple(s, Iri("http://test.example/vocab#link"), Iri("http://test.example/other"))
    ))
  }

  test("lang attribute yields language-tagged literals, inherited downward") {
    val island =
      """<div vocab="http://schema.org/" lang="de">
        |<p about="http://p/y" property="description">Hallo Welt</p>
        |</div>""".stripMargin
    val ts = RdfaLite.parse(island, Some("http://p/y")).toOption.get
    assert(ts == Vector(Triple(Iri("http://p/y"), Iri(schema + "description"), Lit.lang("Hallo Welt", "de"))))
  }

  test("inline typed object via property+typeof gets a deterministic bnode") {
    val island =
      """<div vocab="http://schema.org/" about="http://p/z">
        |<div property="author" typeof="Person"><span property="name">Ada</span></div>
        |</div>""".stripMargin
    val ts = RdfaLite.parse(island, Some("http://p/z")).toOption.get.toSet
    val b = BNode("ra0")
    assert(ts == Set(
      Triple(b, Iri(Vocab.rdfType), Iri(schema + "Person")),
      Triple(Iri("http://p/z"), Iri(schema + "author"), b),
      Triple(b, Iri(schema + "name"), Lit.plain("Ada"))
    ))
  }

  test("content attribute supplies the literal (OpenGraph meta shape), beats element text") {
    val island =
      """<html prefix="og: http://ogp.me/ns#"><head>
        |<meta about="http://p/page" property="og:title" content="The Title"/>
        |<meta about="http://p/page" property="og:site_name" content="Site"></meta>
        |</head></html>""".stripMargin
    val ts = RdfaLite.parse(island, Some("http://p/page")).toOption.get.toSet
    val s = Iri("http://p/page")
    assert(ts == Set(
      Triple(s, Iri("http://ogp.me/ns#title"), Lit.plain("The Title")),
      Triple(s, Iri("http://ogp.me/ns#site_name"), Lit.plain("Site"))
    ))
    // the same page through the LENIENT path (unclosed meta, unquoted attr)
    val malformed =
      """<html prefix="og: http://ogp.me/ns#"><head>
        |<meta about="http://p/page" property="og:title" content="The Title">
        |</head>""".stripMargin
    val lts = RdfaLite.parseLenient(malformed, Some("http://p/page")).toSet
    assert(lts == Set(Triple(s, Iri("http://ogp.me/ns#title"), Lit.plain("The Title"))))
  }

  test("datatype attribute types the literal; empty datatype keeps the lang form") {
    val island =
      """<div vocab="http://schema.org/" prefix="xsd: http://www.w3.org/2001/XMLSchema#" lang="en">
        |<span about="http://p/d" property="position" datatype="xsd:integer">41</span>
        |<span about="http://p/d" property="name" datatype="">Plain</span>
        |<meta about="http://p/d" property="dateCreated" datatype="xsd:date" content="2020-01-02"/>
        |</div>""".stripMargin
    val ts = RdfaLite.parse(island, Some("http://p/d")).toOption.get.toSet
    val s = Iri("http://p/d")
    val xsd = "http://www.w3.org/2001/XMLSchema#"
    assert(ts == Set(
      Triple(s, Iri(schema + "position"), Lit.typed("41", xsd + "integer")),
      Triple(s, Iri(schema + "name"), Lit.lang("Plain", "en")),
      Triple(s, Iri(schema + "dateCreated"), Lit.typed("2020-01-02", xsd + "date"))
    ))
  }

  test("rel: plain xhv terms, CURIEs and vocab terms link IRIs; machinery rels stay inert") {
    val xhv = "http://www.w3.org/1999/xhtml/vocab#"
    val island =
      """<div about="http://p/r" prefix="dc: http://purl.org/dc/terms/">
        |<a rel="license" href="http://cc.example/by/4.0/">CC-BY</a>
        |<link rel="dc:source" href="/orig.html"/>
        |<link rel="stylesheet" href="/style.css"/>
        |<a rel="nofollow noopener" href="http://spam.example/">x</a>
        |</div>""".stripMargin
    val ts = RdfaLite.parse(island, Some("http://p/r")).toOption.get.toSet
    val s = Iri("http://p/r")
    assert(ts == Set(
      Triple(s, Iri(xhv + "license"), Iri("http://cc.example/by/4.0/")),
      Triple(s, Iri("http://purl.org/dc/terms/source"), Iri("http://p/orig.html"))
    ))
    // machinery rels stay inert even when an ancestor @vocab would
    // otherwise term-expand them (the page-wide schema.org shape);
    // content rels under @vocab expand via the vocab, as RDFa Core says
    val island2 =
      """<div vocab="http://schema.org/" about="http://p/r2">
        |<link rel="stylesheet" href="/m.css"/>
        |<a rel="nofollow noreferrer" href="http://x/">x</a>
        |<a rel="license" href="http://l/9">lic</a>
        |</div>""".stripMargin
    val ts2 = RdfaLite.parse(island2, Some("http://p/r2")).toOption.get.toSet
    assert(ts2 == Set(
      Triple(Iri("http://p/r2"), Iri("http://schema.org/license"), Iri("http://l/9"))))
  }

  test("rel + typeof without href links an inline typed object; rel+href+typeof types the object") {
    val island =
      """<div vocab="http://schema.org/" about="http://p/s">
        |<span rel="author" typeof="Person"><span property="name">Ada</span></span>
        |<a rel="license" typeof="CreativeWork" href="http://l/1">lic</a>
        |</div>""".stripMargin
    val ts = RdfaLite.parse(island, Some("http://p/s")).toOption.get
    val s = Iri("http://p/s")
    val bnodes = ts.collect { case Triple(_, _, b: BNode) => b }
    assert(bnodes.size == 1)
    val b = bnodes.head
    assert(ts.toSet == Set(
      Triple(b, Iri(Vocab.rdfType), Iri(schema + "Person")),
      Triple(s, Iri(schema + "author"), b),
      Triple(b, Iri(schema + "name"), Lit.plain("Ada")),
      Triple(Iri("http://l/1"), Iri(Vocab.rdfType), Iri(schema + "CreativeWork")),
      Triple(s, Iri(schema + "license"), Iri("http://l/1"))
    ))
  }

  test("rel + property on one element: rel takes the href, property falls back to element text") {
    val island =
      """<div vocab="http://schema.org/" about="http://p/t">
        |<a rel="license" property="name" href="http://l/2">The License</a>
        |</div>""".stripMargin
    val ts = RdfaLite.parse(island, Some("http://p/t")).toOption.get.toSet
    val s = Iri("http://p/t")
    assert(ts == Set(
      Triple(s, Iri(schema + "license"), Iri("http://l/2")),
      Triple(s, Iri(schema + "name"), Lit.plain("The License"))
    ))
  }

  test("rel in the lenient malformed path matches the well-formed twin") {
    val wellFormed =
      """<div about="http://p/u"><a rel="license" href="http://l/3">x</a></div>"""
    val malformed =
      """<div about=http://p/u><a rel=license href=http://l/3>x"""
    val a = RdfaLite.parse(wellFormed, Some("http://p/u")).toOption.get.toSet
    val b = RdfaLite.parse(malformed, Some("http://p/u")).toOption.get.toSet
    assert(a == b && a.nonEmpty)
  }

  test("rev: reversed link relations, alone and combined with rel") {
    val island =
      """<div about="http://p/r" prefix="dc: http://purl.org/dc/terms/">
        |<a rev="dc:isReferencedBy" href="http://citing/1">cite</a>
        |<a rel="dc:source" rev="dc:isVersionOf" href="http://orig/2">both</a>
        |<link rev="stylesheet" href="/m.css"/>
        |</div>""".stripMargin
    val ts = RdfaLite.parse(island, Some("http://p/r")).toOption.get.toSet
    val s = Iri("http://p/r")
    val dc = "http://purl.org/dc/terms/"
    assert(ts == Set(
      // rev flips direction: the href resource is the SUBJECT
      Triple(Iri("http://citing/1"), Iri(dc + "isReferencedBy"), s),
      Triple(s, Iri(dc + "source"), Iri("http://orig/2")),
      Triple(Iri("http://orig/2"), Iri(dc + "isVersionOf"), s)
      // machinery terms stay inert under @rev exactly as under @rel
    ))
  }

  test("rev on an inline typed object points from the bnode back to the subject") {
    val island =
      """<div vocab="http://schema.org/" about="http://p/s">
        |<span rev="about" typeof="Article"><span property="name">A1</span></span>
        |</div>""".stripMargin
    val ts = RdfaLite.parse(island, Some("http://p/s")).toOption.get
    val b = ts.collect { case Triple(bb: BNode, _, _) => bb }.head
    assert(ts.toSet == Set(
      Triple(b, Iri(Vocab.rdfType), Iri(schema + "Article")),
      Triple(b, Iri(schema + "about"), Iri("http://p/s")),
      Triple(b, Iri(schema + "name"), Lit.plain("A1"))
    ))
  }

  test("hanging rel completes with descendant-established subjects: href, about, typeof bnode") {
    val island =
      """<div about="http://p/pg" prefix="dc: http://purl.org/dc/terms/" vocab="http://schema.org/">
        |<div rel="dc:license"><a href="http://l/cc">CC</a></div>
        |<div rel="dc:creator"><span about="http://p/me"><span property="name">Me</span></span></div>
        |<div rel="dc:subject"><div typeof="Thing"><span property="name">T</span></div></div>
        |<div rel="dc:relation"><span>no subject established here</span></div>
        |</div>""".stripMargin
    val ts = RdfaLite.parse(island, Some("http://p/pg")).toOption.get
    val s = Iri("http://p/pg")
    val dc = "http://purl.org/dc/terms/"
    val b = ts.collect { case Triple(_, Iri(p), bb: BNode) if p == dc + "subject" => bb }.head
    assert(ts.toSet == Set(
      // bare href on a rel-free element completes the license
      Triple(s, Iri(dc + "license"), Iri("http://l/cc")),
      // about completes creator, and its own property hangs off it
      Triple(s, Iri(dc + "creator"), Iri("http://p/me")),
      Triple(Iri("http://p/me"), Iri(schema + "name"), Lit.plain("Me")),
      // a typeof bnode completes subject
      Triple(s, Iri(dc + "subject"), b),
      Triple(b, Iri(Vocab.rdfType), Iri(schema + "Thing")),
      Triple(b, Iri(schema + "name"), Lit.plain("T"))
      // dc:relation has no establishing descendant → nothing emitted
    ))
  }

  test("hanging rel completes once per establishing sibling; completion stops deeper re-completion") {
    val island =
      """<div about="http://p/g" prefix="dc: http://purl.org/dc/terms/">
        |<div rel="dc:hasPart">
        |<div about="http://p/a"><a href="http://deep/x">deeper link is NOT a part</a></div>
        |<div about="http://p/b">b</div>
        |</div>
        |</div>""".stripMargin
    val ts = RdfaLite.parse(island, Some("http://p/g")).toOption.get.toSet
    val s = Iri("http://p/g")
    val dc = "http://purl.org/dc/terms/"
    assert(ts == Set(
      Triple(s, Iri(dc + "hasPart"), Iri("http://p/a")),
      Triple(s, Iri(dc + "hasPart"), Iri("http://p/b"))
    ))
  }

  test("hanging rev completes reversed; machinery rels never hang; lenient path matches") {
    val wellFormed =
      """<div about="http://p/v" prefix="dc: http://purl.org/dc/terms/">
        |<div rev="dc:isPartOf"><a href="http://whole/1">w</a></div>
        |<div rel="nofollow"><a href="http://spam/x">inert</a></div>
        |</div>""".stripMargin
    val ts = RdfaLite.parse(wellFormed, Some("http://p/v")).toOption.get.toSet
    assert(ts == Set(
      Triple(Iri("http://whole/1"), Iri("http://purl.org/dc/terms/isPartOf"), Iri("http://p/v"))))
    val malformed =
      """<div about=http://p/v prefix="dc: http://purl.org/dc/terms/">
        |<div rev=dc:isPartOf><a href=http://whole/1>w
        |<div rel=nofollow><a href=http://spam/x>inert""".stripMargin
    val tm = RdfaLite.parse(malformed, Some("http://p/v")).toOption.get.toSet
    assert(tm == ts)
  }

  test("inlist collects sibling property literals into one rdf collection in document order") {
    val island =
      """<p about="http://ex/book" prefix="dc: http://purl.org/dc/terms/">
        |<span property="dc:creator" inlist="">Alice</span>
        |<span property="dc:creator" inlist="">Bob</span>
        |</p>""".stripMargin
    val ts = RdfaLite.parse(island, Some("http://ex/book")).toOption.get
    val s = Iri("http://ex/book")
    val creator = Iri("http://purl.org/dc/terms/creator")
    // exactly ONE list head off the subject (not two independent triples)
    val heads = ts.collect { case Triple(`s`, `creator`, b: BNode) => b }
    assert(heads.size == 1, ts.mkString("\n"))
    val first = Iri(Vocab.rdfFirst)
    val rest = Iri(Vocab.rdfRest)
    val n1 = heads.head
    val v1 = ts.collectFirst { case Triple(`n1`, `first`, o) => o }.get
    val n2 = ts.collectFirst { case Triple(`n1`, `rest`, o: BNode) => o }.get
    val v2 = ts.collectFirst { case Triple(`n2`, `first`, o) => o }.get
    val tail = ts.collectFirst { case Triple(`n2`, `rest`, o) => o }.get
    assert(v1 == Lit.plain("Alice") && v2 == Lit.plain("Bob"), ts.mkString("\n"))
    assert(tail == Iri(Vocab.rdfNil))
  }

  test("inlist with rel collects href IRIs; separate predicates get separate lists") {
    val island =
      """<div about="http://ex/w" prefix="dc: http://purl.org/dc/terms/">
        |<a rel="dc:relation" inlist="" href="http://r/1">r1</a>
        |<a rel="dc:relation" inlist="" href="http://r/2">r2</a>
        |<span property="dc:title" inlist="">T</span>
        |</div>""".stripMargin
    val ts = RdfaLite.parse(island, Some("http://ex/w")).toOption.get
    val s = Iri("http://ex/w")
    val first = Iri(Vocab.rdfFirst)
    val rel = Iri("http://purl.org/dc/terms/relation")
    val title = Iri("http://purl.org/dc/terms/title")
    val relHead = ts.collect { case Triple(`s`, `rel`, b: BNode) => b }
    val titleHead = ts.collect { case Triple(`s`, `title`, b: BNode) => b }
    assert(relHead.size == 1 && titleHead.size == 1, ts.mkString("\n"))
    val relItems = ts.collect { case Triple(_, `first`, o: Iri) => o }
    assert(relItems.toSet == Set(Iri("http://r/1"), Iri("http://r/2")))
    assert(ts.exists { case Triple(_, `first`, o) => o == Lit.plain("T"); case _ => false })
  }

  test("rev and inlist in the lenient malformed path match the well-formed twins") {
    val wellFormed =
      """<div about="http://p/v" prefix="dc: http://purl.org/dc/terms/">
        |<a rev="dc:references" href="http://c/1">x</a>
        |<span property="dc:creator" inlist="">A</span>
        |<span property="dc:creator" inlist="">B</span>
        |</div>""".stripMargin
    // unquoted attrs, boolean inlist without a value, unclosed tags
    val malformed =
      """<div about=http://p/v prefix="dc: http://purl.org/dc/terms/">
        |<a rev=dc:references href=http://c/1>x</a>
        |<span property=dc:creator inlist>A</span>
        |<span property=dc:creator inlist>B""".stripMargin
    val a = RdfaLite.parse(wellFormed, Some("http://p/v")).toOption.get.toSet
    val b = RdfaLite.parse(malformed, Some("http://p/v")).toOption.get.toSet
    assert(a == b && a.nonEmpty, (a diff b).mkString("\n") + "|" + (b diff a).mkString("\n"))
  }

  test("relative about/resource resolve against the base") {
    val island =
      """<div vocab="http://schema.org/">
        |<span about="#me" property="name">Bob</span>
        |<a about="#me" property="url" href="/home">home</a>
        |</div>""".stripMargin
    val ts = RdfaLite.parse(island, Some("http://p.example/dir/page")).toOption.get.toSet
    val s = Iri("http://p.example/dir/page#me")
    assert(ts == Set(
      Triple(s, Iri(schema + "name"), Lit.plain("Bob")),
      Triple(s, Iri(schema + "url"), Iri("http://p.example/home"))
    ))
  }

  test("malformed island (unclosed tags, bare ampersand, unquoted attr) yields the well-formed twin's triples") {
    // the well-formed twin — parses via the strict SAX path
    val wellFormed =
      """<div vocab="http://schema.org/" about="http://ex/alice" typeof="Person">
        |<p><span property="name">Alice &amp; Bob</span></p>
        |<a property="url" href="http://ex/a?x=1&amp;y=2">site</a>
        |</div>""".stripMargin
    // real-world shape: <p> never closed, bare & in text AND in an
    // attribute value, unquoted attribute — the SAX parse fails and the
    // lenient tokenizer must recover the SAME triples
    val malformed =
      """<div vocab="http://schema.org/" about="http://ex/alice" typeof=Person>
        |<p><span property="name">Alice & Bob</span>
        |<a property="url" href="http://ex/a?x=1&y=2">site</a>
        |</div>""".stripMargin
    val good = RdfaLite.parse(wellFormed, Some("http://ex/page")).toOption.get.toSet
    val recovered = RdfaLite.parse(malformed, Some("http://ex/page")).toOption.get.toSet
    assert(good.nonEmpty)
    // literal whitespace differs trivially (the unclosed <p> swallows a
    // newline) — compare modulo trimmed literal lexical forms
    def norm(ts: Set[Triple]): Set[Triple] = ts.map {
      case Triple(s, p, Lit(lex, dt, lang)) => Triple(s, p, Lit(lex.trim, dt, lang))
      case t => t
    }
    assert(norm(recovered) == norm(good), s"recovered=$recovered good=$good")
  }

  test("lenient tokenizer handles comments, doctype, script content and orphan close tags") {
    val malformed =
      """<!DOCTYPE html><!-- c --><div vocab="http://schema.org/" about="http://ex/s">
        |</nothing><script>if (1 < 2) { var x = "<span property='bogus'>"; }</script>
        |<span property="name">N&#233;o</span><br>
        |<img property="image" src="/i.png">
        |</div>""".stripMargin
    val ts = RdfaLite.parseLenient(malformed, Some("http://ex/page")).toSet
    assert(ts == Set(
      Triple(Iri("http://ex/s"), Iri(schema + "name"), Lit.plain("Néo")),
      Triple(Iri("http://ex/s"), Iri(schema + "image"), Iri("http://ex/i.png"))
    ), ts.toString)
  }

  test("lenient tokenizer: unquoted URL values keep their slashes and do not self-close the tag") {
    // HTML5: `href=http://ex/a/` is the whole URL — the trailing '/'
    // belongs to the unquoted value, it is NOT a self-close marker
    val malformed =
      """<div vocab=http://schema.org/ about=http://ex/s>
        |<a property=url href=http://ex/a/>site</a>
        |<span property="name">N</span>
        |</div>""".stripMargin
    val ts = RdfaLite.parse(malformed, Some("http://ex/page")).toOption.get.toSet
    assert(ts == Set(
      Triple(Iri("http://ex/s"), Iri(schema + "url"), Iri("http://ex/a/")),
      Triple(Iri("http://ex/s"), Iri(schema + "name"), Lit.plain("N"))
    ), ts.toString)
  }

  test("lenient tokenizer: attribute names are case-insensitive like HTML") {
    // unclosed <p> forces the lenient path; legacy uppercase attrs must
    // still be seen (HTML attribute names are case-insensitive)
    val malformed =
      """<div VOCAB="http://schema.org/" ABOUT="http://ex/s"><p>
        |<span PROPERTY="name">Ada</span>
        |</div>""".stripMargin
    val ts = RdfaLite.parse(malformed, Some("http://ex/page")).toOption.get.toSet
    assert(ts.exists(t => t.p == Iri(schema + "name")), ts.toString)
  }

  test("inlist on a hanging rel collects completing descendants into one rdf list") {
    val island =
      """<div vocab="http://schema.org/" prefix="ex: http://ex.example/v#">
        |<div about="http://ex/s" rel="ex:items" inlist="">
        |<a href="http://ex/x">x</a>
        |<a href="http://ex/y">y</a>
        |</div>
        |</div>""".stripMargin
    val ts = RdfaLite.parse(island, Some("http://ex/page")).toOption.get
    val s = Iri("http://ex/s")
    val p = Iri("http://ex.example/v#items")
    val heads = ts.filter(t => t.s == s && t.p == p)
    assert(heads.size == 1, ts.mkString("\n")) // ONE list, not two direct triples
    def follow(node: Term): List[Term] = node match {
      case Iri(Vocab.rdfNil) => Nil
      case b =>
        val first = ts.find(t => t.s == b && t.p == Iri(Vocab.rdfFirst)).get.o
        val rest = ts.find(t => t.s == b && t.p == Iri(Vocab.rdfRest)).get.o
        first :: follow(rest)
    }
    assert(follow(heads.head.o) == List(Iri("http://ex/x"), Iri("http://ex/y")))
    // hanging rel with @inlist and NO establishing descendant emits nothing
    val empty = RdfaLite.parse(
      """<div vocab="http://schema.org/" about="http://ex/s" rel="items" inlist=""><span>t</span></div>""",
      Some("http://ex/page")).toOption.get
    assert(empty.isEmpty, empty.toString)
  }

  test("datetime attribute supplies the literal with inferred xsd datatype; content still wins") {
    val xsd = Vocab.xsdNs
    val island =
      """<div vocab="http://schema.org/" about="http://ex/s">
        |<time property="datePublished" datetime="2024-03-01">March 1st</time>
        |<time property="dateModified" datetime="2024-03-01T10:30:00Z">later</time>
        |<span property="startTime" datetime="10:30">half ten</span>
        |<time property="duration" datetime="PT1H30M">90 min</time>
        |<time property="copyrightYear" datetime="2024">this year</time>
        |<time property="temporal" datetime="2024-03">March</time>
        |<time property="alternateName" datetime="not a date">whenever</time>
        |<time property="name" content="override" datetime="2024-03-01">text</time>
        |<time property="version" datetime="2024" datatype="">plain forced</time>
        |</div>""".stripMargin
    val ts = RdfaLite.parse(island, Some("http://ex/page")).toOption.get.toSet
    val s = Iri("http://ex/s")
    assert(ts == Set(
      Triple(s, Iri(schema + "datePublished"), Lit.typed("2024-03-01", xsd + "date")),
      Triple(s, Iri(schema + "dateModified"), Lit.typed("2024-03-01T10:30:00Z", xsd + "dateTime")),
      // @datetime is honored on any element, per the attribute's RDFa rule
      Triple(s, Iri(schema + "startTime"), Lit.typed("10:30", xsd + "time")),
      Triple(s, Iri(schema + "duration"), Lit.typed("PT1H30M", xsd + "duration")),
      Triple(s, Iri(schema + "copyrightYear"), Lit.typed("2024", xsd + "gYear")),
      Triple(s, Iri(schema + "temporal"), Lit.typed("2024-03", xsd + "gYearMonth")),
      // unrecognized lexical form → plain literal, lexical still from @datetime
      Triple(s, Iri(schema + "alternateName"), Lit.plain("not a date")),
      // @content beats @datetime
      Triple(s, Iri(schema + "name"), Lit.plain("override")),
      // explicit @datatype (even empty) suppresses inference
      Triple(s, Iri(schema + "version"), Lit.plain("2024"))
    ), ts.toString)
  }

  test("time element text content gets datatype inference; data element value supplies the literal") {
    val xsd = Vocab.xsdNs
    val island =
      """<div vocab="http://schema.org/" about="http://ex/s">
        |<time property="datePublished">2024-05-06</time>
        |<time property="name">just words</time>
        |<data property="sku" value="SKU-42">the answer</data>
        |<span property="alternateName" value="ignored">span text</span>
        |</div>""".stripMargin
    val ts = RdfaLite.parse(island, Some("http://ex/page")).toOption.get.toSet
    val s = Iri("http://ex/s")
    assert(ts == Set(
      Triple(s, Iri(schema + "datePublished"), Lit.typed("2024-05-06", xsd + "date")),
      Triple(s, Iri(schema + "name"), Lit.plain("just words")),
      // @value is a data-element rule; other elements keep their text
      Triple(s, Iri(schema + "sku"), Lit.plain("SKU-42")),
      Triple(s, Iri(schema + "alternateName"), Lit.plain("span text"))
    ), ts.toString)
    // lenient malformed path agrees
    val malformed = island.replace("</time>\n<data", "\n<data") // unclosed <time>
    val lenient = RdfaLite.parse(malformed, Some("http://ex/page")).toOption.get.toSet
    assert(lenient.contains(Triple(s, Iri(schema + "sku"), Lit.plain("SKU-42"))), lenient.toString)
  }

  test("extraction picks up both the RDF/XML and RDFa islands of a page") {
    import graft.pipeline.{Extract, SyntheticPages}
    val (rel, bytes) = SyntheticPages.fixtureFiles().find(_._1 == "xmlbase/test001.rdf").get
    val p = SyntheticPages.page(rel, bytes, copy = 3, rowIdx = 0) // copy%4==3 → RDFa island present
    val rows = Extract.triplesOf(p.url, p.html).toOption.get
    assert(rows.exists(_.pred == Vocab.rdfType), rows.mkString("\n")) // RDFa typeof triple
    assert(rows.exists(_.pred == "http://schema.org/name"))
    assert(rows.exists(_.subj == p.url + "#thing"))
    assert(rows.exists(_.pred == "http://example.org/value")) // from the RDF/XML island
  }

  test("an island's triples do not depend on unrelated malformed markup") {
    // each island is well-formed; the twin adds an unclosed <br> right
    // inside the root div, which an XML parser would reject
    val islands = Seq(
      """<div vocab="http://schema.org/" about="http://ex/s"><p PROPERTY="name">Ada</p></div>""",
      "<div vocab=\"http://schema.org/\" about=\"http://ex/s\">\r\n<p property=\"description\">a\r\nb\rc</p>\r\n</div>",
      """<div vocab="http://schema.org/" about="http://ex/s" prefix="dc: http://purl.org/dc/terms/">
        |<a rel="license" property="name" href="http://l/1">The License</a>
        |<span property="dc:creator" inlist="">Alice</span>
        |<span property="dc:creator" inlist="">Bob</span>
        |<div rel="dc:hasPart"><div about="http://ex/part"><span property="name">P</span></div></div>
        |</div>""".stripMargin)
    islands.foreach { island =>
      val twin = island.patch(island.indexOf('>') + 1, "<br>", 0)
      val a = RdfaLite.parse(island, Some("http://ex/page")).toOption.get
      val b = RdfaLite.parse(twin, Some("http://ex/page")).toOption.get
      assert(a.nonEmpty && a == b, s"$island\n$a\n$b")
    }
  }

  test("CRLF and a lone CR in element text become LF") {
    val island = "<div vocab=\"http://schema.org/\" about=\"http://ex/s\">" +
      "<p property=\"description\">a\r\nb\rc</p></div>"
    val ts = RdfaLite.parse(island, Some("http://ex/page")).toOption.get
    assert(ts == Vector(Triple(Iri("http://ex/s"), Iri(schema + "description"), Lit.plain("a\nb\nc"))))
  }

  test("well-formed islands follow HTML tokenization rules") {
    def one(body: String): Set[Triple] = RdfaLite.parse(
      s"""<div vocab="http://schema.org/" about="http://ex/s">$body</div>""", Some("http://ex/page")).toOption.get.toSet
    val s = Iri("http://ex/s")
    val name = Iri(schema + "name")
    // attribute names are case-insensitive
    assert(one("""<p PROPERTY="name">Ada</p>""") == Set(Triple(s, name, Lit.plain("Ada"))))
    // script/style content is raw text, not markup
    assert(one("""<script><span property="name">Ada</span></script>""").isEmpty)
    assert(one("""<style><span property="name">Ada</span></style>""").isEmpty)
    // attribute values keep newlines and tabs (no XML value normalization)
    assert(one("<meta property=\"name\" content=\"a\n\tb\"/>") == Set(Triple(s, name, Lit.plain("a\n\tb"))))
    // CDATA is a bogus comment up to the first '>'
    assert(one("""<span property="name"><![CDATA[Ada]]></span>""") == Set(Triple(s, name, Lit.plain(""))))
  }
}
