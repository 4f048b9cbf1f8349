package kgbench

import graft.pipeline.Page
import java.sql.Timestamp
import scala.collection.mutable
import scala.util.Random

import ExpTriple._

/** Seeded generators for the workloads. Structure (page counts,
  * island kinds and counts, document sizes, records per document) is
  * fixed per workload; the seed only picks names, words, which pages
  * carry which island and which entities they talk about. The same
  * seed yields the same pages and the same truth.
  *
  * Every island is written together with the triples it must yield,
  * from the format's rules, never by running a parser.
  */
object Gen {

  val schemaHttp = "http://schema.org/"
  val schemaHttps = "https://schema.org/"
  val exNs = "http://vocab.example/org#"
  private val epochMs = 1704067200000L

  def apply(workload: String, seed: Long): Workload = workload match {
    case "crawl_sparse" => crawlSparse(seed)
    case "rdf_dense" => rdfDense(seed)
    case other => throw new IllegalArgumentException(s"unknown workload: $other")
  }

  // ------------------------------------------------------------ words

  private val consonants = "bdfgklmnprstvz"
  private val vowels = "aeiou"

  private def syllables(r: Random, n: Int): String = {
    val sb = new StringBuilder
    (0 until n).foreach { _ =>
      sb.append(consonants(r.nextInt(consonants.length))).append(vowels(r.nextInt(vowels.length)))
    }
    sb.toString
  }

  /** `n` distinct capitalized names of 3 to 4 syllables plus a letter.
    * A name repeating one of its own 3-grams is redrawn, so two names
    * never share a shingle set by repetition ("babab", "bababab").
    */
  def names(r: Random, n: Int): Vector[String] = {
    val seen = mutable.LinkedHashSet.empty[String]
    while (seen.size < n) {
      val s = syllables(r, 3 + r.nextInt(2)) + consonants(r.nextInt(consonants.length))
      if (Shingles.of(s).length == s.length - 2) seen += s.capitalize
    }
    seen.toVector
  }

  /** Filler vocabulary: short words that are never taken for names. */
  def fillerWords(r: Random, n: Int): Vector[String] =
    Vector.fill(n)(syllables(r, 1 + r.nextInt(3)))

  /** Zipf(s) sampler over ranks 0 until n. */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val total = w.sum
      var acc = 0.0
      w.map { x => acc += x; acc / total }
    }
    def sample(r: Random): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  // ------------------------------------------------------------ html

  /** Crawl-style boilerplate of about `bytes` bytes: a style block, a
    * script block, navigation lists and content cards. It holds no
    * island marker, no `<p>` and no text the extractor keeps.
    */
  def boilerplate(r: Random, bytes: Int, words: Vector[String]): (String, String) = {
    def w(): String = words(r.nextInt(words.length))
    val head = new StringBuilder
    head.append("<style>\n")
    (0 until math.max(2, bytes / 4000)).foreach { i =>
      head.append(s".c$i { margin: ${r.nextInt(40)}px; color: #${Integer.toHexString(0x100000 + r.nextInt(0xeffff))}; }\n")
    }
    head.append("</style>\n<script>\n")
    (0 until math.max(2, bytes / 3000)).foreach { i =>
      head.append(s"function f$i(a, b) { var ${w()} = a * ${r.nextInt(1000)} + b; return ${w()}; }\n")
    }
    head.append("</script>\n")
    val body = new StringBuilder
    body.append("<div class=\"nav\"><ul>\n")
    while (head.length + body.length < bytes / 3)
      body.append(s"""<li><a href="/${w()}/${r.nextInt(10000)}">${w().capitalize}</a></li>\n""")
    body.append("</ul></div>\n<div class=\"cards\">\n")
    while (head.length + body.length < bytes)
      body.append(s"""<div class="card c${r.nextInt(50)}"><span class="meta">${w()} ${w()} ${w()}</span> """ +
        s"""<a href="/item/${r.nextInt(100000)}">${w()}</a></div>\n""")
    body.append("</div>\n")
    (head.toString, body.toString)
  }

  /** One HTML page; returns the bytes and the canonical text (the
    * paragraphs joined by newlines, as `Extract.extractText` keeps them).
    */
  def htmlPage(title: String, head: String, body: String, islands: Seq[String],
      paragraphs: Seq[String]): (Array[Byte], String) = {
    val sb = new StringBuilder
    sb.append("<!DOCTYPE html><html><head><meta charset=\"utf-8\"><title>").append(title).append("</title>\n")
    sb.append(head).append("</head><body>\n").append(body)
    sb.append("<div class=\"content\">\n")
    islands.foreach(i => sb.append(i).append('\n'))
    paragraphs.foreach(p => sb.append("<p>").append(p).append("</p>\n"))
    sb.append("</div>\n</body></html>\n")
    (sb.toString.getBytes("UTF-8"), paragraphs.mkString("\n"))
  }

  /** A paragraph of filler words with `mentions` inserted at random places. */
  def paragraph(r: Random, words: Vector[String], length: Int, mentions: Seq[String]): String = {
    val ws = mutable.ArrayBuffer.fill(length)(words(r.nextInt(words.length)))
    mentions.foreach(m => ws.insert(r.nextInt(ws.length + 1), m))
    ws.mkString(" ").capitalize + "."
  }

  // ------------------------------------------------------------ islands

  /** A thing an island describes: subject IRI (null: a blank node), its
    * schema.org type, a name literal and IRIs it links to.
    */
  final case class Item(id: String, tpe: String, name: String, knows: Seq[String])

  private def itemTriples(it: Item, subj: String, vocab: String): Set[ExpTriple] =
    Set(iri(subj, rdfType, vocab + it.tpe), plain(subj, vocab + "name", it.name)) ++
      it.knows.map(k => iri(subj, vocab + "knows", k))

  private def esc(s: String): String = graft.xml.XmlOut.escape(s)

  /** A JSON-LD block of one node object per item; with `repeat` the
    * first item is described twice (its statements are still one set).
    */
  def jsonLd(items: Seq[Item], upper: Boolean, broken: Boolean, repeat: Boolean = false): (String, Set[ExpTriple]) = {
    def str(s: String) = "\"" + s + "\""
    val objs = items.zipWithIndex.map { case (it, i) =>
      val fields = Seq(str("@context") + ": " + str("https://schema.org")) ++
        Option(it.id).map(id => str("@id") + ": " + str(id)) ++
        Seq(str("@type") + ": " + str(it.tpe), str("name") + ": " + str(it.name)) ++
        (if (it.knows.isEmpty) Nil
         else Seq(str("knows") + ": [" + it.knows.map(k => "{" + str("@id") + ": " + str(k) + "}").mkString(", ") + "]"))
      "{" + fields.mkString(", ") + "}"
    }
    val json0 = (if (repeat) objs :+ objs.head else objs).mkString("[", ",\n", "]")
    val json = if (broken) json0.dropRight(1) else json0
    val tpe = if (upper) "application/LD+JSON" else "application/ld+json"
    val triples =
      if (broken) Set.empty[ExpTriple]
      else items.zipWithIndex.flatMap { case (it, i) =>
        itemTriples(it, Option(it.id).getOrElse(s"_:jsonld$i"), schemaHttps)
      }.toSet
    (s"""<script type="$tpe">$json</script>""", triples)
  }

  /** Microdata items; with `repeat` the first item is described twice. */
  def microdata(items: Seq[Item], upper: Boolean, repeat: Boolean = false): (String, Set[ExpTriple]) = {
    def a(n: String) = if (upper) n.toUpperCase else n
    val html = (if (repeat) items :+ items.head else items).map { it =>
      val id = Option(it.id).map(i => s""" ${a("itemid")}="${esc(i)}"""").getOrElse("")
      val knows = it.knows.map(k => s""" <a ${a("itemprop")}="knows" href="${esc(k)}">profile</a>""").mkString
      s"""<div ${a("itemscope")} ${a("itemtype")}="${schemaHttp}${it.tpe}"$id>""" +
        s"""<span ${a("itemprop")}="name">${esc(it.name)}</span>$knows</div>"""
    }.mkString("\n")
    val triples = items.zipWithIndex.flatMap { case (it, i) =>
      itemTriples(it, Option(it.id).getOrElse(s"_:microdata$i"), schemaHttp)
    }.toSet
    (html, triples)
  }

  def rdfa(items: Seq[Item]): (String, Set[ExpTriple]) = {
    val inner = items.map { it =>
      val knows = it.knows.map(k => s""" <a property="knows" href="${esc(k)}">profile</a>""").mkString
      s"""<div about="${esc(it.id)}" typeof="${it.tpe}"><span property="name">${esc(it.name)}</span>$knows</div>"""
    }.mkString("\n")
    (s"""<div vocab="$schemaHttp">$inner</div>""", items.flatMap(it => itemTriples(it, it.id, schemaHttp)).toSet)
  }

  def rdfXmlIsland(items: Seq[Item], broken: Boolean): (String, Set[ExpTriple]) = {
    val descs = items.zipWithIndex.map { case (it, i) =>
      val name = if (broken && i == items.length - 1) s"<s:name>${esc(it.name)}</s:nam>"
                 else s"<s:name>${esc(it.name)}</s:name>"
      val knows = it.knows.map(k => s"""<s:knows rdf:resource="${esc(k)}"/>""").mkString
      s"""<s:${it.tpe} rdf:about="${esc(it.id)}">$name$knows</s:${it.tpe}>"""
    }.mkString("\n")
    val xml = s"""<rdf:RDF xmlns:rdf="$rdfNs" xmlns:s="$schemaHttp">\n$descs\n</rdf:RDF>"""
    val triples = if (broken) Set.empty[ExpTriple] else items.flatMap(it => itemTriples(it, it.id, schemaHttp)).toSet
    (s"""<script type="application/rdf+xml">$xml</script>""", triples)
  }

  private def page(url: String, row: Long, html: Array[Byte], text: String): Page =
    Page(url, new Timestamp(epochMs + row * 1000L), html, text, "en")

  // ------------------------------------------------------------ crawl_sparse

  val crawlSparseShape: Seq[(String, Any)] = Seq(
    "pages" -> 400, "boilerplate_bytes" -> 24000, "paragraphs" -> 6, "words_per_paragraph" -> 40,
    "mentions_per_paragraph" -> 2, "island_pages" -> 60,
    "island_mix" -> "24 json-ld, 18 microdata, 9 rdfa, 9 rdf/xml",
    "mixed_case_markers" -> "1 in 3 json-ld and microdata islands",
    "repeated_descriptions" -> "4 microdata islands describe their first item twice",
    "probes" -> ("6 json-ld islands that describe their first item twice, on copies of their pages " +
      "outside the table (known defect: duplicate triples)"),
    "malformed" -> "3 rdf/xml islands (parse errors), 3 json-ld blocks (skipped)",
    "entity_pool" -> 300, "items_per_island" -> 3)

  def crawlSparse(seed: Long): Workload = {
    val r = new Random(seed * 7919 + 1)
    val nPages = 400
    val words = fillerWords(r, 400)
    val pool = names(r, 300)
    val sites = Vector.tabulate(12)(i => s"http://site$i.example/")
    // island pages: a seeded choice of 60 pages; kind by position in a fixed mix
    val islandPages = r.shuffle((0 until nPages).toVector).take(60)
    val kinds = Vector.fill(24)("jsonld") ++ Vector.fill(18)("microdata") ++
      Vector.fill(9)("rdfa") ++ Vector.fill(9)("rdfxml")
    val kindOf = islandPages.zip(kinds).toMap
    val brokenXml = islandPages.zip(kinds).filter(_._2 == "rdfxml").map(_._1).take(3).toSet
    val brokenJson = islandPages.zip(kinds).filter(_._2 == "jsonld").map(_._1).take(3).toSet
    // every fourth microdata island (none of them broken) describes
    // its first item twice. Every fourth JSON-LD island does so only on
    // a probe copy of its page: JSON-LD extraction yields such a
    // node's statements twice (a known defect), and the timed table
    // holds only operations that succeed
    def everyFourth(kind: String) = islandPages.zip(kinds).filter(_._2 == kind).map(_._1).zipWithIndex
      .collect { case (p, j) if j % 4 == 3 => p }.toSet
    val repeated = everyFourth("microdata")
    val probed = everyFourth("jsonld")
    // an island describes three different people (one of them blank
    // where the format allows it), each linking to one more
    def items(bnodeOk: Boolean): Seq[Item] =
      Iterator.continually(pool(r.nextInt(pool.length))).distinct.take(3).toSeq.zipWithIndex.map { case (n, k) =>
        val site = sites(r.nextInt(sites.length))
        val id = if (bnodeOk && k == 2) null else s"${site}people/$n"
        Item(id, "Person", s"$n ${pool(r.nextInt(pool.length))}",
          Seq(s"${sites(r.nextInt(sites.length))}people/${pool(r.nextInt(pool.length))}"))
      }
    // pass 1: islands, so that mentions can name real subjects
    val probeMarkup = mutable.HashMap.empty[Int, String]
    val islands: Map[Int, (String, Set[ExpTriple], Boolean)] = kindOf.toSeq.sortBy(_._1).zipWithIndex.map {
      case ((p, kind), k) =>
        val upper = k % 3 == 0
        val (markup, ts) = kind match {
          case "jsonld" =>
            val its = items(bnodeOk = true)
            if (probed(p)) probeMarkup(p) = jsonLd(its, upper, brokenJson(p), repeat = true)._1
            jsonLd(its, upper, brokenJson(p))
          case "microdata" => microdata(items(bnodeOk = true), upper, repeated(p))
          case "rdfa" => rdfa(items(bnodeOk = false))
          case _ => rdfXmlIsland(items(bnodeOk = false), brokenXml(p))
        }
        p -> (markup, ts, brokenXml(p))
    }.toMap
    val subjects = islands.valuesIterator.filterNot(_._3).flatMap(_._2.iterator.map(_.subj))
      .filterNot(_.startsWith("_:")).map(s => s.substring(s.lastIndexOf('/') + 1)).toVector.distinct.sorted
    val probes = Vector.newBuilder[Probe]
    val out = (0 until nPages).map { i =>
      val url = s"${sites(i % sites.length)}news/${seed}/$i.html"
      val (head, body) = boilerplate(r, 24000, words)
      val paras = (0 until 6).map { _ =>
        paragraph(r, words, 40, Seq.fill(2)(subjects(r.nextInt(subjects.length))))
      }
      val isl = islands.get(i)
      val (html, text) = htmlPage(s"News $i", head, body, isl.map(_._1).toSeq, paras)
      val err = isl.exists(_._3)
      val truth = PageTruth(url, text, err, if (err) Set.empty else isl.map(_._2).getOrElse(Set.empty))
      probeMarkup.get(i).foreach { m =>
        probes += Probe("JSON-LD node described twice in one block", page(url, i, htmlPage(s"News $i", head, body,
          Seq(m), paras)._1, text), truth)
      }
      (page(url, i, html, text), truth)
    }
    Workload("crawl_sparse", out.map(_._1).toVector, out.map(_._2).toVector, crawlSparseShape, probes.result())
  }

  // ------------------------------------------------------------ rdf_dense

  val rdfDenseShape: Seq[(String, Any)] = Seq(
    "pages" -> 8, "records_per_document" -> 350, "document_bytes" -> "about 104,000",
    "malformed_documents" -> 1, "organisations" -> 8, "name_pool" -> 3000, "name_zipf_exponent" -> 0.9,
    "productions" -> ("typed node, property attributes, rdf:resource, duplicate statement, xml:lang, " +
      "rdf:datatype, nested node, parseType Resource, rdf:nodeID, parseType Collection, rdf:li, " +
      "rdf:ID reification, parseType Literal, xml:base"))

  /** One bare RDF/XML document of `records` records cycling through six
    * templates that together use every grammar production listed in
    * [[rdfDenseShape]]; returns the bytes and the expected triples.
    */
  def rdfDocument(r: Random, url: String, docId: Int, records: Int, pool: Vector[String], zipf: Zipf,
      words: Vector[String], broken: Boolean): (Array[Byte], Set[ExpTriple]) = {
    def w(): String = words(r.nextInt(words.length))
    def nm(): String = pool(zipf.sample(r))
    def org(): String = s"http://org${r.nextInt(8)}.example/"
    val ex = exNs
    val sb = new StringBuilder
    sb.append("<?xml version=\"1.0\" encoding=\"utf-8\"?>\n")
    sb.append(s"""<rdf:RDF xmlns:rdf="$rdfNs" xmlns:ex="$ex">\n""")
    val ts = mutable.LinkedHashSet.empty[ExpTriple]
    var bn = 0
    def fresh(): String = { bn += 1; s"g$bn" }
    val breakAt = if (broken) records / 12 * 6 else -1 // a template-0 record mid-document
    (0 until records).foreach { k =>
      val s = s"${org()}person/${nm()}"
      (k % 6) match {
        case 0 =>
          val n = nm(); val o = s"${org()}unit/${nm()}"; val s2 = s"${org()}person/${nm()}"
          val age = (18 + r.nextInt(60)).toString; val score = r.nextInt(100000).toString
          val label = s"${w()} ${w()}"; val n2 = s"${nm()} ${nm()}"
          sb.append(s"""<ex:Person rdf:about="$s" ex:name="$n" ex:age="$age">\n""")
          sb.append(s"""  <ex:worksFor rdf:resource="$o"/>\n  <ex:worksFor rdf:resource="$o"/>\n""")
          sb.append(s"""  <ex:label xml:lang="en-GB">$label</ex:label>\n""")
          sb.append(s"""  <ex:score rdf:datatype="${xsdNs}integer">$score</ex:score>\n""")
          sb.append(s"""  <ex:knows>\n    <ex:Person rdf:about="$s2"><ex:name>$n2</ex:name></ex:Person>\n  </ex:knows>\n""")
          sb.append(if (k == breakAt) "</ex:Persn>\n" else "</ex:Person>\n")
          ts ++= Seq(iri(s, rdfType, ex + "Person"), plain(s, ex + "name", n), plain(s, ex + "age", age),
            iri(s, ex + "worksFor", o), lang(s, ex + "label", label, "en-GB"),
            typed(s, ex + "score", score, xsdNs + "integer"), iri(s, ex + "knows", s2),
            iri(s2, rdfType, ex + "Person"), plain(s2, ex + "name", n2))
        case 1 =>
          val street = s"${r.nextInt(200)} ${w()} street"; val city = w().capitalize; val nid = s"city$k"
          sb.append(s"""<rdf:Description rdf:about="$s">\n  <ex:address rdf:parseType="Resource">\n""")
          sb.append(s"""    <ex:street>$street</ex:street>\n    <ex:city rdf:nodeID="$nid"/>\n""")
          sb.append("  </ex:address>\n</rdf:Description>\n")
          sb.append(s"""<rdf:Description rdf:nodeID="$nid" ex:cityName="$city"/>\n""")
          val a = fresh(); val c = fresh()
          ts ++= Seq(bnode(s, ex + "address", a), plain("_:" + a, ex + "street", street),
            bnode("_:" + a, ex + "city", c), plain("_:" + c, ex + "cityName", city))
        case 2 =>
          val members = Seq.fill(3)(s"${org()}team/${nm()}")
          sb.append(s"""<rdf:Description rdf:about="$s">\n  <ex:members rdf:parseType="Collection">\n""")
          members.foreach(m => sb.append(s"""    <rdf:Description rdf:about="$m"/>\n"""))
          sb.append("  </ex:members>\n</rdf:Description>\n")
          val cells = Seq.fill(3)(fresh())
          ts += bnode(s, ex + "members", cells.head)
          cells.zip(members).zipWithIndex.foreach { case ((c, m), i) =>
            ts += iri("_:" + c, rdfNs + "first", m)
            ts += (if (i == 2) iri("_:" + c, rdfNs + "rest", rdfNs + "nil") else bnode("_:" + c, rdfNs + "rest", cells(i + 1)))
          }
        case 3 =>
          val l = s"${org()}lists/${nm()}"; val x1 = s"${org()}doc/${nm()}"; val x2 = s"${org()}doc/${nm()}"
          val lit = w()
          sb.append(s"""<rdf:Seq rdf:about="$l">\n  <rdf:li rdf:resource="$x1"/>\n  <rdf:li>$lit</rdf:li>\n""")
          sb.append(s"""  <rdf:li rdf:resource="$x2"/>\n</rdf:Seq>\n""")
          ts ++= Seq(iri(l, rdfType, rdfNs + "Seq"), iri(l, rdfNs + "_1", x1), plain(l, rdfNs + "_2", lit),
            iri(l, rdfNs + "_3", x2))
        case 4 =>
          val claim = s"${w()} ${w()} ${w()}"; val (a, b, c) = (w(), w(), w())
          val id = s"st${docId}x$k"; val stmt = s"$url#$id"; val xl = s"$a <b>$b</b> $c"
          sb.append(s"""<rdf:Description rdf:about="$s">\n  <ex:claims rdf:ID="$id">$claim</ex:claims>\n""")
          sb.append(s"""  <ex:note rdf:parseType="Literal">$xl</ex:note>\n</rdf:Description>\n""")
          ts ++= Seq(plain(s, ex + "claims", claim), iri(stmt, rdfType, rdfNs + "Statement"),
            iri(stmt, rdfNs + "subject", s), iri(stmt, rdfNs + "predicate", ex + "claims"),
            plain(stmt, rdfNs + "object", claim), typed(s, ex + "note", xl, rdfNs + "XMLLiteral"))
        case 5 =>
          val base = s"${org()}base$k/"; val it = s"item${nm()}"; val (t, alt) = (w(), w())
          val rel = s"rel${r.nextInt(1000)}"
          sb.append(s"""<rdf:Description xml:base="$base" rdf:about="$it" xml:lang="de">\n""")
          sb.append(s"""  <ex:title>$t</ex:title>\n  <ex:alt xml:lang="">$alt</ex:alt>\n""")
          sb.append(s"""  <ex:seeAlso rdf:resource="$rel"/>\n</rdf:Description>\n""")
          ts ++= Seq(lang(base + it, ex + "title", t, "de"), plain(base + it, ex + "alt", alt),
            iri(base + it, ex + "seeAlso", base + rel))
      }
    }
    sb.append("</rdf:RDF>\n")
    (sb.toString.getBytes("UTF-8"), if (broken) Set.empty else ts.toSet)
  }

  def rdfDense(seed: Long): Workload = {
    val r = new Random(seed * 7919 + 2)
    val nPages = 8
    val words = fillerWords(r, 400)
    val pool = names(r, 3000)
    val zipf = new Zipf(pool.length, 0.9)
    val broken = Set(r.nextInt(nPages))
    val out = (0 until nPages).map { i =>
      val url = s"http://data.example/dump/$seed/$i.rdf"
      val (bytes, ts) = rdfDocument(r, url, i, 350, pool, zipf, words, broken(i))
      (page(url, i, bytes, ""), PageTruth(url, "", broken(i), ts))
    }
    Workload("rdf_dense", out.map(_._1).toVector, out.map(_._2).toVector, rdfDenseShape)
  }
}
