package graft.xml

import graft.rdf._
import org.scalatest.funsuite.AnyFunSuite

class MicrodataSpec extends AnyFunSuite {

  private val schema = "http://schema.org/"
  private val xsd = Vocab.xsdNs

  test("itemscope + itemtype + itemprop: type triple, vocab-expanded properties, itemid subject") {
    val html =
      """<div itemscope itemtype="http://schema.org/Person" itemid="http://e/p1">
        |<span itemprop="name">Ada Lovelace</span>
        |<img itemprop="image" src="http://e/img1.png">
        |</div>""".stripMargin
    val ts = Microdata.parse(html, Some("http://p/x")).toSet
    val s = Iri("http://e/p1")
    assert(ts == Set(
      Triple(s, Iri(Vocab.rdfType), Iri(schema + "Person")),
      Triple(s, Iri(schema + "name"), Lit.plain("Ada Lovelace")),
      Triple(s, Iri(schema + "image"), Iri("http://e/img1.png"))
    ))
  }

  test("nested itemscope links parent to child item; bnodes deterministic in document order") {
    val html =
      """<div itemscope itemtype="http://schema.org/Person">
        |<span itemprop="name">Bob</span>
        |<div itemprop="address" itemscope itemtype="http://schema.org/PostalAddress">
        |<span itemprop="addressLocality">Berlin</span>
        |</div>
        |</div>""".stripMargin
    val ts = Microdata.parse(html, None).toSet
    val p = BNode("md0")
    val a = BNode("md1")
    assert(ts == Set(
      Triple(p, Iri(Vocab.rdfType), Iri(schema + "Person")),
      Triple(p, Iri(schema + "name"), Lit.plain("Bob")),
      Triple(p, Iri(schema + "address"), a),
      Triple(a, Iri(Vocab.rdfType), Iri(schema + "PostalAddress")),
      Triple(a, Iri(schema + "addressLocality"), Lit.plain("Berlin"))
    ))
  }

  test("value algorithm: a/link href, meta content, data value, time datetime inference") {
    val html =
      """<div itemscope itemtype="http://schema.org/Event" itemid="http://e/ev">
        |<a itemprop="url" href="/tickets">buy</a>
        |<meta itemprop="eventStatus" content="scheduled">
        |<data itemprop="position" value="7">seventh</data>
        |<time itemprop="startDate" datetime="2024-05-01">May Day</time>
        |<time itemprop="doorTime">19:30</time>
        |</div>""".stripMargin
    val ts = Microdata.parse(html, Some("http://host/page")).toSet
    val s = Iri("http://e/ev")
    assert(ts.contains(Triple(s, Iri(schema + "url"), Iri("http://host/tickets"))))
    assert(ts.contains(Triple(s, Iri(schema + "eventStatus"), Lit.plain("scheduled"))))
    assert(ts.contains(Triple(s, Iri(schema + "position"), Lit.plain("7"))))
    assert(ts.contains(Triple(s, Iri(schema + "startDate"), Lit.typed("2024-05-01", xsd + "date"))))
    assert(ts.contains(Triple(s, Iri(schema + "doorTime"), Lit.typed("19:30", xsd + "time"))))
  }

  test("text content is DOM textContent: nested markup text concatenates; lang inherits") {
    val html =
      """<article lang="fr" itemscope itemtype="http://schema.org/Article" itemid="http://e/a">
        |<h1 itemprop="headline">Bonjour <em>le</em> monde</h1>
        |</article>""".stripMargin
    val ts = Microdata.parse(html, None).toSet
    assert(ts.contains(
      Triple(Iri("http://e/a"), Iri(schema + "headline"), Lit.lang("Bonjour le monde", "fr"))))
  }

  test("multiple itemprop names fan out; absolute-IRI names pass through; no vocab drops") {
    val html =
      """<div itemscope itemtype="http://schema.org/Thing" itemid="http://e/t">
        |<span itemprop="name alternateName">X</span>
        |<span itemprop="http://purl.org/dc/terms/title">Y</span>
        |</div>
        |<div itemscope itemid="http://e/untyped"><span itemprop="name">dropped</span></div>""".stripMargin
    val ts = Microdata.parse(html, None).toSet
    val s = Iri("http://e/t")
    assert(ts.contains(Triple(s, Iri(schema + "name"), Lit.plain("X"))))
    assert(ts.contains(Triple(s, Iri(schema + "alternateName"), Lit.plain("X"))))
    assert(ts.contains(Triple(s, Iri("http://purl.org/dc/terms/title"), Lit.plain("Y"))))
    // untyped top-level item: no vocabulary in scope, relative name drops
    assert(!ts.exists(_.s == Iri("http://e/untyped")))
  }

  test("itemscope without itemtype INHERITS the current vocabulary (nested untyped item)") {
    val html =
      """<div itemscope itemtype="http://schema.org/Person" itemid="http://e/p">
        |<div itemprop="knows" itemscope itemid="http://e/q">
        |<span itemprop="name">Carol</span>
        |</div>
        |</div>""".stripMargin
    val ts = Microdata.parse(html, None).toSet
    assert(ts.contains(Triple(Iri("http://e/p"), Iri(schema + "knows"), Iri("http://e/q"))))
    assert(ts.contains(Triple(Iri("http://e/q"), Iri(schema + "name"), Lit.plain("Carol"))))
  }

  test("hash-namespace vocabulary derives up to '#'") {
    val html =
      """<div itemscope itemtype="http://ex.org/vocab#Widget" itemid="http://e/w">
        |<span itemprop="label">w</span>
        |</div>""".stripMargin
    val ts = Microdata.parse(html, None).toSet
    assert(ts.contains(Triple(Iri("http://e/w"), Iri("http://ex.org/vocab#label"), Lit.plain("w"))))
  }

  test("malformed markup: unclosed tags, unquoted attrs, bare ampersands still extract") {
    val html =
      """<DIV ITEMSCOPE itemtype=http://schema.org/Person itemid=http://e/m1>
        |<span itemprop=name>Tom & Jerry
        |<p>unclosed paragraph
        |<img itemprop=image src=http://e/i.png>""".stripMargin
    val ts = Microdata.parse(html, None).toSet
    val s = Iri("http://e/m1")
    assert(ts.contains(Triple(s, Iri(Vocab.rdfType), Iri(schema + "Person"))))
    assert(ts.contains(Triple(s, Iri(schema + "image"), Iri("http://e/i.png"))))
    // the unclosed span collects text through island end (trailing
    // newline structure included) — pin the prefix, not exact bytes
    val name = ts.collectFirst {
      case Triple(`s`, Iri(p), Lit(lex, _, _)) if p == schema + "name" => lex
    }
    assert(name.exists(_.startsWith("Tom & Jerry")), ts.toString)
  }

  test("empty href and missing itemid-resolution degrade safely; itemprop outside any item ignored") {
    val html =
      """<span itemprop="orphan">nope</span>
        |<div itemscope itemtype="http://schema.org/Thing" itemid="rel-no-base">
        |<a itemprop="url" href="">empty</a>
        |</div>""".stripMargin
    val ts = Microdata.parse(html, None).toSet
    // itemid unresolvable without base → bnode subject; empty href drops
    assert(ts == Set(Triple(BNode("md0"), Iri(Vocab.rdfType), Iri(schema + "Thing"))))
  }

  test("CRLF and a lone CR in text content become LF") {
    val html = "<div itemscope itemtype=\"http://schema.org/Thing\" itemid=\"http://e/t\">" +
      "<p itemprop=\"description\">a\r\nb\rc</p></div>"
    val ts = Microdata.parse(html, None).toSet
    assert(ts.contains(Triple(Iri("http://e/t"), Iri(schema + "description"), Lit.plain("a\nb\nc"))), ts.toString)
  }
}
