package graft.xml

import graft.rdf._
import graft.rdf.Iris.ParseError
import org.xml.sax.Attributes
import org.xml.sax.helpers.DefaultHandler
import scala.collection.mutable

/** Minimal RDFa-Lite extractor for XHTML-ish islands (the "RDFa-like
  * islands" of the north_star, complementing the RDF/XML codec).
  *
  * Supported subset (documented scope, deterministic):
  *   - `vocab` — default term vocabulary, inherited down the tree
  *   - `prefix="p: uri ..."` — CURIE prefix declarations, inherited
  *   - `about` — sets the current subject (IRI ref resolved vs base)
  *   - `typeof` — rdf:type triples for the current subject
  *   - `property` — predicate (CURIE / vocab term / absolute IRI);
  *     object = `resource`/`href`/`src` attribute (IRI) if present,
  *     else `content` attribute (the OpenGraph `<meta>` shape), else
  *     the element's text content — as a (lang-tagged or datatyped)
  *     literal
  *   - `datatype` — types the literal object (CURIE/term-expanded;
  *     empty value forces the plain/lang form, RDFa Core precedence)
  *   - `datetime` (HTML+RDFa 1.1) — supplies the literal lexical form
  *     (beaten only by `content`) with the xsd datatype inferred from
  *     its shape (duration/dateTime/date/time/gYearMonth/gYear, else
  *     plain); a `time` element's TEXT content gets the same
  *     inference; an explicit `datatype` (even empty) suppresses it
  *   - `value` on a `data` element (HTML+RDFa 1.1) — supplies the
  *     literal lexical form, below `content`/`datetime` in precedence
  *   - `resource` without `property` — sets the subject for descendants
  *   - `rel` — link relations with IRI objects from `resource`/`href`/
  *     `src` (or an inline `typeof` object): CURIE / vocab-term /
  *     absolute-IRI values plus the documented plain-term subset of the
  *     XHTML vocabulary ([[XhtmlRelTerms]]); machinery rels
  *     (stylesheet, nofollow, preload, ... — [[MachineryRels]]) are
  *     inert even under an ancestor `@vocab`
  *   - `rev` — reverse link relations: same term expansion as `rel`,
  *     triple direction flipped (object-IRI → predicate → subject);
  *     `rel` and `rev` on one element emit both directions off the
  *     same object
  *   - HANGING `rel`/`rev` (Full RDFa incomplete triples): an
  *     objectless `rel`/`rev` waits for descendants — each descendant
  *     that explicitly establishes a subject (`about` anywhere;
  *     `resource`, a `typeof` bnode, or a bare `href`/`src` on a
  *     property- and rel-free element) completes the pending triples
  *     with that subject (`<div rel="license"><a href=...>` — the
  *     canonical real-world shape); completion consumes the hanging
  *     state for that subtree only, so sibling subtrees each complete
  *     their own copy; with no establishing descendant nothing is
  *     emitted (RDFa 1.1, not the 1.0 eager-bnode rule); a hanging
  *     `rel` carrying `inlist` collects its completing subjects into
  *     ONE rdf:List per predicate instead of direct triples
  *   - `inlist` — collects the objects of `property`/`rel` into an
  *     RDF collection (rdf:first/rdf:rest/rdf:nil, fresh deterministic
  *     bnodes) instead of emitting independent triples; items from
  *     sibling elements sharing the subject and predicate append in
  *     document order, and the list closes when the element that
  *     established the subject ends (the RDFa Core list-mapping rule)
  *   - `lang`/`xml:lang` — literal language, inherited
  *
  * Every island takes one path: the lenient HTML tokenizer
  * ([[tokenize]], shared with [[Microdata]]) driving [[RdfaHandler]].
  * Real Common-Crawl HTML is mostly MALFORMED — unclosed tags, bare
  * ampersands, unquoted attributes — so the scan follows HTML rather
  * than XML rules: explicit close tags pop to their nearest matching
  * open (orphans ignored), void/self-closing elements auto-close,
  * everything still open closes at island end, entities decode
  * leniently (unknown/bare `&` passes through), attribute names are
  * case-insensitive, script/style content is not markup. An island's
  * triples therefore never depend on whether some unrelated element
  * in it is well-formed. Blank nodes are generated per document with
  * a deterministic counter.
  */
object RdfaLite {

  def parseBytes(xml: Array[Byte], offset: Int, length: Int, base: Option[String]): Either[ParseError, Vector[Triple]] =
    parse(new String(xml, offset, length, "UTF-8"), base)

  def parse(html: String, base: Option[String]): Either[ParseError, Vector[Triple]] =
    try Right(parseLenient(html, base))
    catch {
      case e: ParseError => Left(e)
      case e: Exception => Left(ParseError(s"RDFa parse error: ${e.getMessage}"))
    }

  private val voidElements = Set(
    "area", "base", "br", "col", "embed", "hr", "img", "input",
    "link", "meta", "param", "source", "track", "wbr")

  // unquoted values may contain '/' (HTML5: `href=http://x/` is the
  // whole URL, the slash is NOT a self-close marker) — only whitespace
  // and '>' end them
  private val attrRe =
    """([A-Za-z_][A-Za-z0-9_:.-]*)\s*(?:=\s*(?:"([^"]*)"|'([^']*)'|([^\s>]+)))?""".r

  /** Lenient HTML entity decode: the five predefined entities plus
    * numeric references; anything else — including a BARE `&` —
    * passes through unchanged (real-world pages are full of them).
    */
  private[xml] def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new java.lang.StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        val handled =
          if (semi > i && semi - i <= 10) {
            val name = s.substring(i + 1, semi)
            name match {
              case "amp" => sb.append('&'); true
              case "lt" => sb.append('<'); true
              case "gt" => sb.append('>'); true
              case "quot" => sb.append('"'); true
              case "apos" => sb.append('\''); true
              case _ if name.startsWith("#") =>
                try {
                  val cp =
                    if (name.length > 1 && (name.charAt(1) == 'x' || name.charAt(1) == 'X'))
                      Integer.parseInt(name.substring(2), 16)
                    else Integer.parseInt(name.substring(1))
                  if (Character.isValidCodePoint(cp)) { sb.appendCodePoint(cp); true } else false
                } catch { case _: NumberFormatException => false }
              case _ => false
            }
          } else false
        if (handled) i = semi + 1 else { sb.append('&'); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Tokenize + [[RdfaHandler]]; never throws on bad nesting,
    * deterministic for any input. Throws [[ParseError]] on an
    * unresolvable IRI; [[parse]] turns that into a `Left`.
    */
  def parseLenient(html: String, base: Option[String]): Vector[Triple] = {
    val handler = new RdfaHandler(base.map(Iris.normalizeBase).orNull)
    tokenize(html, handler)
    handler.triples.toVector
  }

  /** The lenient HTML tokenizer, decoupled from the RDFa handler so
    * other island extractors ([[Microdata]]) drive the same hardened
    * scan: explicit close tags pop to their nearest matching open
    * (orphans ignored), void/self-closing elements auto-close,
    * raw-text elements (script/style) skip their content, lenient
    * entity decode, everything still open closes at input end.
    * Attribute names reach the handler lowercased; boolean attributes
    * carry the value "". CRLF and a lone CR become LF first (HTML's
    * input-stream preprocessing).
    */
  private[xml] def tokenize(input: String, handler: DefaultHandler): Unit = {
    val html = if (input.indexOf('\r') < 0) input else input.replace("\r\n", "\n").replace('\r', '\n')
    val open = mutable.ArrayBuffer.empty[String]
    val text = new StringBuilder
    val n = html.length
    // one lowercase copy per parse, for case-insensitive raw-text
    // close-tag search (computing it per <script> tag is O(n·#scripts))
    lazy val htmlLower = html.toLowerCase
    var i = 0
    def flushText(): Unit = if (text.nonEmpty) {
      val d = decodeEntities(text.toString)
      handler.characters(d.toCharArray, 0, d.length)
      text.clear()
    }
    def closeOne(): Unit = {
      val nm = open.remove(open.length - 1)
      handler.endElement("", nm, nm)
    }
    def skipTo(marker: String, from: Int): Int = {
      val e = html.indexOf(marker, from)
      if (e < 0) n else e + marker.length
    }
    while (i < n) {
      val c = html.charAt(i)
      if (c == '<' && i + 1 < n) {
        val c1 = html.charAt(i + 1)
        if (html.startsWith("<!--", i)) { flushText(); i = skipTo("-->", i + 4) }
        else if (c1 == '!' || c1 == '?') { flushText(); i = skipTo(">", i + 2) } // doctype / PI
        else if (Character.isLetter(c1) || c1 == '/') {
          flushText()
          val isClose = c1 == '/'
          var j = i + (if (isClose) 2 else 1)
          val nameStart = j
          while (j < n && (Character.isLetterOrDigit(html.charAt(j)) ||
            html.charAt(j) == '-' || html.charAt(j) == ':')) j += 1
          val name = html.substring(nameStart, j).toLowerCase
          // end of tag, quote-aware
          var k = j
          var inQ: Char = 0
          while (k < n && (inQ != 0 || html.charAt(k) != '>')) {
            val ch = html.charAt(k)
            if (inQ != 0) { if (ch == inQ) inQ = 0 }
            else if (ch == '"' || ch == '\'') inQ = ch
            k += 1
          }
          val inner = html.substring(j, k)
          if (isClose) {
            // pop to the nearest matching open; implicitly closes
            // anything left open inside it; orphan close tags ignored
            val idx = open.lastIndexOf(name)
            if (idx >= 0) while (open.length > idx) closeOne()
          } else if (name.nonEmpty) {
            val attrs = new org.xml.sax.helpers.AttributesImpl
            attrRe.findAllMatchIn(inner).foreach { m =>
              val v = Option(m.group(2)).orElse(Option(m.group(3))).orElse(Option(m.group(4)))
              // HTML attribute names are case-insensitive → lowercase
              // for the handler's lookups; no-value attr = "" (boolean)
              val an = m.group(1).toLowerCase
              attrs.addAttribute("", an, an, "CDATA", decodeEntities(v.getOrElse("")))
            }
            handler.startElement("", name, name, attrs)
            // self-closing only when the trailing '/' is its own token
            // (whole tag, or preceded by whitespace/quote) — a '/' glued
            // to an unquoted value (`href=http://x/`) belongs to the
            // value per HTML5 and was consumed by attrRe above
            val t = inner.trim
            val selfClose = t == "/" || (t.endsWith("/") && {
              val before = t.charAt(t.length - 2)
              before == '"' || before == '\'' || Character.isWhitespace(before)
            })
            if (selfClose || voidElements(name)) handler.endElement("", name, name)
            else if (name == "script" || name == "style") {
              // raw-text elements: their content is NOT markup
              handler.endElement("", name, name)
              val closeAt = htmlLower.indexOf(s"</$name", k + 1)
              i = if (closeAt < 0) n else skipTo(">", closeAt)
              k = i - 1 // i is set below from k + 1
            } else open += name
          }
          i = if (k < n) k + 1 else n
        } else { text.append(c); i += 1 } // bare '<'
      } else { text.append(c); i += 1 }
    }
    flushText()
    while (open.nonEmpty) closeOne() // island end closes every orphan
  }

  /** Plain `@rel` terms honored without a vocab/prefix: the stable
    * content-statement subset of the XHTML vocabulary (RDFa Core's
    * initial-context home for link relations) plus `describedby`
    * (POWDER-S, per the RDFa 1.1 initial context). Machinery rels
    * (stylesheet, preload, icon, dns-prefetch, ...) are resource
    * hints, not statements about the page, and are deliberately NOT
    * in this map — a crawler extracting them would drown the graph.
    */
  private val XhtmlRelTerms: Map[String, String] = {
    val xhv = "http://www.w3.org/1999/xhtml/vocab#"
    Seq("alternate", "appendix", "bookmark", "chapter", "contents",
      "copyright", "first", "glossary", "help", "index", "last",
      "license", "next", "prev", "section", "start", "subsection",
      "top", "up").map(t => t -> (xhv + t)).toMap +
      ("describedby" -> "http://www.w3.org/2007/05/powder-s#describedby")
  }

  /** HTML link-type keywords that are resource/processing hints, never
    * content statements (HTML spec link types + crawler directives).
    * These stay inert EVEN when an ancestor `@vocab` is in scope —
    * without this guard, a page-wide `vocab="http://schema.org/"`
    * (the dominant real-world shape) would expand every
    * `rel="stylesheet"` / `rel="nofollow"` into a schema.org triple and
    * drown the graph (the HTML+RDFa spec restricts plain @rel terms for
    * exactly this reason).
    */
  private val MachineryRels: Set[String] = Set(
    "stylesheet", "icon", "shortcut", "manifest", "modulepreload",
    "preload", "prefetch", "preconnect", "dns-prefetch", "prerender",
    "canonical", "nofollow", "noopener", "noreferrer", "opener",
    "external", "ugc", "sponsored", "search", "pingback", "edituri",
    "wlwmanifest", "import", "apple-touch-icon",
    "apple-touch-icon-precomposed", "mask-icon", "amphtml")

  private final class Scope(
      val subject: Term,
      val vocab: String, // null allowed
      val prefixes: Map[String, String],
      val lang: String, // null allowed
      // non-null: an ancestor's @rel/@rev had no object — the RDFa Core
      // "incomplete triples", awaiting a descendant-established subject
      val hang: Hanging = null
  )

  /** A hanging `@rel`/`@rev` (RDFa Core incomplete triples): `subject`
    * linked forward by `rels` / backward by `revs` to whatever subject
    * a descendant establishes.
    */
  private final class Hanging(val subject: Term, val rels: Seq[Iri], val revs: Seq[Iri],
      // true: the hanging @rel carried @inlist — completing subjects
      // collect into ONE rdf:List per (subject, rel) instead of
      // independent triples (@rev is never list-collected)
      val inlist: Boolean = false)

  private final class PendingLiteral(val subject: Term, val predicates: Seq[Iri],
      val lang: String, val datatype: String,
      // non-null: @inlist literal — on completion the literal is
      // APPENDED to these list buffers (one per predicate) instead of
      // emitted as independent triples
      val listBufs: Seq[mutable.ArrayBuffer[Term]] = null,
      // true: a `time` element collecting text with no explicit
      // @datatype — the datatype is inferred from the final lexical
      // form at completion (HTML+RDFa 1.1 §3.1)
      val inferDt: Boolean = false) {
    val text = new StringBuilder
  }

  // HTML+RDFa 1.1 datatype inference for @datetime / <time> text: the
  // lexical form picks the xsd type; anything unrecognized stays a
  // plain/lang literal. Anchored, most-specific-first.
  private val DurationRe =
    "^-?P(?=.*\\d)(?:\\d+Y)?(?:\\d+M)?(?:\\d+D)?(?:T(?:\\d+H)?(?:\\d+M)?(?:\\d+(?:\\.\\d+)?S)?)?$".r
  private val DateTimeRe =
    "^-?\\d{4,}-\\d{2}-\\d{2}T\\d{2}:\\d{2}(?::\\d{2}(?:\\.\\d+)?)?(?:Z|[+-]\\d{2}:\\d{2})?$".r
  private val DateRe = "^-?\\d{4,}-\\d{2}-\\d{2}(?:Z|[+-]\\d{2}:\\d{2})?$".r
  private val TimeRe = "^\\d{2}:\\d{2}(?::\\d{2}(?:\\.\\d+)?)?(?:Z|[+-]\\d{2}:\\d{2})?$".r
  private val GYearMonthRe = "^-?\\d{4,}-\\d{2}$".r
  private val GYearRe = "^-?\\d{4,}$".r

  /** The inferred xsd datatype IRI for a @datetime/<time> lexical form,
    * or null when no datetime shape matches (→ plain/lang literal).
    * "P" alone is not a duration (the grammar requires a component).
    */
  private[xml] def inferDatatype(lex: String): String = {
    val t = lex.trim
    if (t.length > 1 && DurationRe.matches(t)) Vocab.xsdNs + "duration"
    else if (DateTimeRe.matches(t)) Vocab.xsdNs + "dateTime"
    else if (DateRe.matches(t)) Vocab.xsdNs + "date"
    else if (TimeRe.matches(t)) Vocab.xsdNs + "time"
    else if (GYearMonthRe.matches(t)) Vocab.xsdNs + "gYearMonth"
    else if (GYearRe.matches(t)) Vocab.xsdNs + "gYear"
    else null
  }

  /** Literal construction precedence (RDFa Core): an expanded
    * `datatype` wins over the language; `datatype=""` forces the
    * plain/lang form.
    */
  private[xml] def mkLit(lexical: String, datatype: String, lang: String): Lit =
    if (datatype != null) Lit.typed(lexical, datatype)
    else if (lang != null && lang.nonEmpty) Lit.lang(lexical, lang)
    else Lit.plain(lexical)

  private final class RdfaHandler(base: String) extends DefaultHandler {
    val triples = mutable.LinkedHashSet.empty[Triple]
    private var bnodeCounter = 0
    private val stack = mutable.ArrayBuffer.empty[Scope]
    private val pending = mutable.ArrayBuffer.empty[PendingLiteral] // aligned with stack
    // @inlist list mappings: one active frame per subject (pred →
    // items in document order); `owners` is aligned with `stack` and
    // names the subjects whose frames close — and emit — when that
    // element ends (the element that established the subject)
    private val frames =
      mutable.LinkedHashMap.empty[Term, mutable.LinkedHashMap[Iri, mutable.ArrayBuffer[Term]]]
    private val owners = mutable.ArrayBuffer.empty[mutable.ArrayBuffer[Term]]

    private def freshBNode(): BNode = { val b = BNode("ra" + bnodeCounter); bnodeCounter += 1; b }

    /** The item buffer for (subject, predicate). A new frame's owner is
      * the stack level that ESTABLISHED the subject (deepest level whose
      * subject is `s` but whose parent's differs); a subject not on the
      * stack (set by @about on the element being processed) is owned by
      * that element itself via `pendingOwner`.
      */
    private def bufferFor(s: Term, pred: Iri,
        pendingOwner: mutable.ArrayBuffer[Term]): mutable.ArrayBuffer[Term] = {
      val fm = frames.getOrElse(s, {
        val m = mutable.LinkedHashMap.empty[Iri, mutable.ArrayBuffer[Term]]
        frames(s) = m
        var idx = -1
        var i = stack.length - 1
        while (i >= 0 && idx < 0) {
          if (stack(i).subject == s && (i == 0 || stack(i - 1).subject != s)) idx = i
          i -= 1
        }
        if (idx >= 0) owners(idx) += s else pendingOwner += s
        m
      })
      fm.getOrElseUpdate(pred, mutable.ArrayBuffer.empty[Term])
    }

    /** rdf:first/rdf:rest/rdf:nil chain for a completed list mapping. */
    private def emitList(s: Term, pred: Iri, items: Seq[Term]): Unit =
      if (items.isEmpty) triples += Triple(s, pred, Iri(Vocab.rdfNil))
      else {
        val nodes = items.map(_ => freshBNode())
        triples += Triple(s, pred, nodes.head)
        items.indices.foreach { i =>
          triples += Triple(nodes(i), Iri(Vocab.rdfFirst), items(i))
          triples += Triple(nodes(i), Iri(Vocab.rdfRest),
            if (i == items.length - 1) Iri(Vocab.rdfNil) else nodes(i + 1))
        }
      }

    private def expand(term: String, scope: Scope): Option[String] = {
      if (term == null || term.isEmpty) None
      else {
        val i = term.indexOf(':')
        if (i > 0) {
          // a declared CURIE prefix wins over scheme interpretation
          scope.prefixes.get(term.substring(0, i)).map(_ + term.substring(i + 1))
            .orElse(if (Iris.isAbsolute(term)) Some(term) else None)
        } else if (scope.vocab != null) Some(scope.vocab + term)
        else None
      }
    }

    /** `@rel` terms: CURIE / vocab-term / absolute-IRI expansion first,
      * then the documented plain-term subset from the XHTML vocabulary
      * ([[RdfaLite.XhtmlRelTerms]]). Anything else — including the
      * machinery rels real pages are full of — expands to nothing and
      * emits nothing.
      */
    /** Immediate (attribute-supplied) literal source, HTML+RDFa 1.1
      * precedence: `@content` beats `@datetime` beats the `data`
      * element's `@value` beats element text. Returns
      * (lexical, datatype) when the literal is known at start-tag time,
      * null when text content must be collected. An explicit
      * `@datatype` (even "") suppresses @datetime's type inference.
      */
    private def literalNow(localName: String, attr: String => String,
        dt: String, dtPresent: Boolean): (String, String) = {
      val content = attr("content")
      if (content != null) (content, dt)
      else {
        val datetime = attr("datetime")
        if (datetime != null) (datetime, if (dtPresent) dt else inferDatatype(datetime))
        else {
          val value = if (localName.equalsIgnoreCase("data")) attr("value") else null
          if (value != null) (value, dt) else null
        }
      }
    }

    private def expandRel(term: String, scope: Scope): Option[String] =
      if (term != null && term.indexOf(':') < 0 && MachineryRels(term.toLowerCase)) None
      else expand(term, scope).orElse(
        if (term != null && term.indexOf(':') < 0) XhtmlRelTerms.get(term.toLowerCase)
        else None)

    override def startElement(uri: String, localName: String, qName: String, attrs: Attributes): Unit = {
      val parent = if (stack.isEmpty) new Scope(null, null, Map.empty, null) else stack.last
      def attr(n: String): String = attrs.getValue(n)
      // element name for the HTML-specific literal rules (time/data),
      // prefix-stripped
      val elemName = localName.substring(localName.indexOf(':') + 1)

      var prefixes = parent.prefixes
      val prefixDecl = attr("prefix")
      if (prefixDecl != null) {
        val toks = prefixDecl.trim.split("\\s+")
        var i = 0
        while (i + 1 < toks.length) {
          if (toks(i).endsWith(":")) prefixes = prefixes.updated(toks(i).dropRight(1), toks(i + 1))
          i += 2
        }
      }
      val vocab = if (attr("vocab") != null) attr("vocab") else parent.vocab
      val lang = {
        val l = if (attr("xml:lang") != null) attr("xml:lang") else attr("lang")
        if (l != null) l else parent.lang
      }
      val scope0 = new Scope(parent.subject, vocab, prefixes, lang)

      val about = attr("about")
      val resource = attr("resource")
      val href = attr("href")
      val src = attr("src")
      val propertyAttr = attr("property")
      val typeofAttr = attr("typeof")

      def emitTypes(s: Term): Unit =
        if (typeofAttr != null)
          typeofAttr.trim.split("\\s+").foreach { t =>
            expand(t, scope0).foreach(tv => triples += Triple(s, Iri(Vocab.rdfType), Iri(tv)))
          }
      def preds: Seq[Iri] =
        propertyAttr.trim.split("\\s+").flatMap(p => expand(p, scope0)).map(Iri).toSeq

      val relPreds: Seq[Iri] =
        if (attr("rel") == null) Nil
        else attr("rel").trim.split("\\s+").toSeq.flatMap(t => expandRel(t, scope0)).map(Iri)
      // @rev: same expansion, reversed direction (object → pred → subject)
      val revPreds: Seq[Iri] =
        if (attr("rev") == null) Nil
        else attr("rev").trim.split("\\s+").toSeq.flatMap(t => expandRel(t, scope0)).map(Iri)
      // @inlist (boolean attribute): rel/property objects collect into
      // an RDF list instead of emitting independent triples
      val inlist = attr("inlist") != null
      // frame-ownership marks created while processing THIS element
      // attach to the scope it pushes
      val pendingOwner = mutable.ArrayBuffer.empty[Term]
      def push(sc: Scope, pl: PendingLiteral): Unit = {
        stack += sc; pending += pl; owners += pendingOwner
      }

      // Full-RDFa incomplete triples: an ancestor's objectless
      // @rel/@rev hangs until a descendant EXPLICITLY establishes a
      // subject (@about anywhere; @resource / @typeof-bnode / bare
      // @href/@src on a property- and rel-free element). Completion
      // consumes the hanging state for that subtree only — each sibling
      // subtree that establishes a subject completes its own copy, the
      // RDFa Core repeated-completion behavior.
      val parentHang = parent.hang
      def complete(s: Term): Unit = if (parentHang != null && s != null) {
        if (parentHang.inlist)
          parentHang.rels.foreach(r => bufferFor(parentHang.subject, r, pendingOwner) += s)
        else
          parentHang.rels.foreach(r => triples += Triple(parentHang.subject, r, s))
        parentHang.revs.foreach(r => triples += Triple(s, r, parentHang.subject))
      }

      if (relPreds.nonEmpty || revPreds.nonEmpty) {
        val objRef = if (resource != null) resource else if (href != null) href else src
        if (objRef != null) {
          // <a rel=... href=...>: the (@about or parent) subject links
          // to the href resource; @typeof without @about types the
          // TYPED RESOURCE — the object, per RDFa 1.1's typed-resource
          // rule; descendants inherit the object as their subject
          val s: Term = if (about != null) Iri(Iris.uriReference(about, base)) else parent.subject
          // an @about here establishes a subject → completes any
          // hanging ancestor @rel/@rev before this element's own links
          val childHang = if (about != null) { complete(s); null } else parentHang
          val obj = Iri(Iris.uriReference(objRef, base))
          if (about != null) emitTypes(s) else emitTypes(obj)
          if (s != null) {
            if (inlist) relPreds.foreach(r => bufferFor(s, r, pendingOwner) += obj)
            else relPreds.foreach(r => triples += Triple(s, r, obj))
            // @inlist applies to @rel/@property only — @rev stays direct
            revPreds.foreach(r => triples += Triple(obj, r, s))
          }
          if (propertyAttr != null) {
            // @rel consumed the IRI object; @property falls back to
            // @content / element text (RDFa Core attribute interaction)
            val dtAttr = attr("datatype")
            val dt = if (dtAttr == null || dtAttr.isEmpty) null else expand(dtAttr, scope0).orNull
            val now = literalNow(elemName, attr, dt, dtAttr != null)
            if (now != null) {
              val o = mkLit(now._1, now._2, lang)
              if (s != null) {
                if (inlist) preds.foreach(p => bufferFor(s, p, pendingOwner) += o)
                else preds.foreach(p => triples += Triple(s, p, o))
              }
              push(new Scope(obj, vocab, prefixes, lang, childHang), null)
            } else {
              val bufs = if (inlist && s != null) preds.map(p => bufferFor(s, p, pendingOwner)) else null
              push(new Scope(obj, vocab, prefixes, lang, childHang),
                new PendingLiteral(s, preds, lang, dt, bufs,
                  elemName.equalsIgnoreCase("time") && dtAttr == null))
            }
          } else push(new Scope(obj, vocab, prefixes, lang, childHang), null)
          return
        } else if (typeofAttr != null && about == null && propertyAttr == null) {
          // <x rel=... typeof=T>: inline typed object — the rel's
          // object is a fresh typed node, like the property+typeof form
          val obj = freshBNode()
          emitTypes(obj)
          if (parent.subject != null) {
            if (inlist) relPreds.foreach(r => bufferFor(parent.subject, r, pendingOwner) += obj)
            else relPreds.foreach(r => triples += Triple(parent.subject, r, obj))
            revPreds.foreach(r => triples += Triple(obj, r, parent.subject))
          }
          push(new Scope(obj, vocab, prefixes, lang, parentHang), null)
          return
        }
        // hanging @rel/@rev: no object here — record the incomplete
        // triples below (main branch) for descendants to complete
      }

      if (propertyAttr != null && typeofAttr != null && about == null) {
        // RDFa Lite inline object: <x property=p typeof=T> — the typed
        // thing is a fresh node linked from the parent subject
        val obj = freshBNode()
        emitTypes(obj)
        if (parent.subject != null) {
          if (inlist) preds.foreach(p => bufferFor(parent.subject, p, pendingOwner) += obj)
          else preds.foreach(p => triples += Triple(parent.subject, p, obj))
        }
        push(new Scope(obj, vocab, prefixes, lang, parentHang), null)
        return
      }

      // bare @href/@src on a property- and rel-free element establishes
      // a subject ONLY under a hanging ancestor (`<div rel=license>
      // <a href=...>` — the canonical completion shape); outside that
      // context the plain-link behavior is unchanged from prior rounds
      val hrefEstab: String =
        if (parentHang != null && propertyAttr == null && resource == null &&
          about == null && typeofAttr == null &&
          relPreds.isEmpty && revPreds.isEmpty && (href != null || src != null))
          (if (href != null) href else src)
        else null
      val subject: Term =
        if (about != null) Iri(Iris.uriReference(about, base))
        else if (propertyAttr == null && resource != null) Iri(Iris.uriReference(resource, base))
        else if (typeofAttr != null && propertyAttr == null) freshBNode()
        else if (hrefEstab != null) Iri(Iris.uriReference(hrefEstab, base))
        else parent.subject

      // a subject this element itself establishes completes a hanging
      // ancestor @rel/@rev; inherited subjects do not
      val established: Term =
        if (about != null ||
          (propertyAttr == null && (resource != null || typeofAttr != null)) ||
          hrefEstab != null) subject
        else null
      complete(established)
      // this element's own objectless @rel/@rev opens a new hanging
      // scope for its descendants (nearest hanging ancestor wins)
      val ownHang: Hanging =
        if ((relPreds.isEmpty && revPreds.isEmpty) || subject == null) null
        else new Hanging(subject, relPreds, revPreds, inlist)
      val childHang =
        if (ownHang != null) ownHang
        else if (established != null) null
        else parentHang

      emitTypes(if (subject != null) subject else freshBNode())

      if (propertyAttr != null) {
        // property triples hang off the nearest established subject
        val s = if (about != null) subject else parent.subject
        val objRef = if (resource != null) resource else if (href != null) href else src
        if (objRef != null) {
          val obj = Iri(Iris.uriReference(objRef, base))
          if (s != null) {
            if (inlist) preds.foreach(p => bufferFor(s, p, pendingOwner) += obj)
            else preds.foreach(p => triples += Triple(s, p, obj))
          }
          push(new Scope(obj, vocab, prefixes, lang, childHang), null)
        } else {
          // literal object: an expanded @datatype types it; @content
          // (the OpenGraph <meta property=... content=...> shape that
          // dominates real-world RDFa) supplies the lexical form
          // directly and beats element text, then @datetime (with xsd
          // type inference) and the data element's @value (HTML+RDFa)
          val dtAttr = attr("datatype")
          val dt = if (dtAttr == null || dtAttr.isEmpty) null else expand(dtAttr, scope0).orNull
          val now = literalNow(elemName, attr, dt, dtAttr != null)
          if (now != null) {
            val o = mkLit(now._1, now._2, lang)
            if (s != null) {
              if (inlist) preds.foreach(p => bufferFor(s, p, pendingOwner) += o)
              else preds.foreach(p => triples += Triple(s, p, o))
            }
            push(new Scope(subject, vocab, prefixes, lang, childHang), null)
          } else {
            val bufs = if (inlist && s != null) preds.map(p => bufferFor(s, p, pendingOwner)) else null
            push(new Scope(subject, vocab, prefixes, lang, childHang),
              new PendingLiteral(s, preds, lang, dt, bufs,
                elemName.equalsIgnoreCase("time") && dtAttr == null))
          }
        }
      } else push(new Scope(subject, vocab, prefixes, lang, childHang), null)
    }

    override def characters(ch: Array[Char], start: Int, length: Int): Unit = {
      var i = pending.length - 1
      while (i >= 0) {
        if (pending(i) != null) { pending(i).text.appendAll(ch, start, length); i = -1 }
        else i -= 1
      }
    }

    override def endElement(uri: String, localName: String, qName: String): Unit = {
      val p = pending.remove(pending.length - 1)
      stack.remove(stack.length - 1)
      val owned = owners.remove(owners.length - 1)
      if (p != null && p.subject != null) {
        val dt =
          if (p.datatype != null) p.datatype
          else if (p.inferDt) inferDatatype(p.text.toString)
          else null
        val o = mkLit(p.text.toString, dt, p.lang)
        if (p.listBufs != null) p.listBufs.foreach(_ += o)
        else p.predicates.foreach(pred => triples += Triple(p.subject, pred, o))
      }
      // list mappings owned by this element complete here: the pending
      // literal above appended first, so same-element items are in
      owned.foreach { s =>
        frames.remove(s).foreach(_.foreach { case (pred, items) => emitList(s, pred, items.toSeq) })
      }
    }
  }
}
