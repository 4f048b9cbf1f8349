package graft.xml

import graft.rdf._
import graft.rdf.Iris.ParseError
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import scala.jdk.CollectionConverters._
import scala.collection.mutable

/** JSON-LD `<script type="application/ld+json">` island extractor —
  * the dominant embedded-data syntax of the modern web (schema.org's
  * recommended form), completing the island family beside RDF/XML,
  * RDFa-Lite and Microdata. Jackson (on the Spark classpath) supplies
  * the JSON tree; everything above it is this deterministic subset of
  * the JSON-LD 1.1 expansion+RDF-conversion algorithms:
  *
  *   - `@context`: an IRI string sets the vocabulary base (remote
  *     contexts are NEVER fetched — zero-egress extraction; the string
  *     itself is the vocab, '/'-terminated unless it already ends in
  *     '/' or '#', which is exactly right for the `"@context":
  *     "https://schema.org"` shape that dominates crawl data); a map
  *     contributes `@vocab`, `@language`, and term definitions — a
  *     string value is the term's IRI (absolute, or a CURIE over
  *     EARLIER terms of the same context), a map value reads `@id`
  *     (same expansion) and `@type` (`"@id"` coerces string values of
  *     that term to IRIs; any other value is a datatype IRI applied to
  *     its string values); an array of contexts merges left-to-right.
  *   - node objects: subject = expanded `@id` (absolute / CURIE /
  *     relative-vs-base; `_:label` keeps the label under a `jlu`
  *     prefix so author labels can never collide with generated ones)
  *     or a fresh `jl<block>_<n>` blank node — deterministic in
  *     document order, per-script-block numbering so multi-block pages
  *     stay collision-free under the per-document scope suffix.
  *   - `@type`: string or array → rdf:type (term / CURIE / vocab /
  *     absolute expansion).
  *   - properties: keys expand by term definition, CURIE, then vocab;
  *     unexpandable keys are dropped (the spec's behavior for
  *     non-absolute keys absent a vocab). Values: strings → plain (or
  *     context-`@language`-tagged) literals, IRIs under `@type:@id`
  *     coercion, typed literals under a datatype coercion; JSON
  *     numbers → xsd:integer when integral else xsd:double in the XSD
  *     CANONICAL lexical form ("1.65E0" — the JSON-LD-to-RDF rule for
  *     native numbers); booleans → xsd:boolean; null → dropped;
  *     arrays fan out; `{"@value": …}` objects carry their own
  *     `@language`/`@type`; `{"@list": […]}` builds an rdf:first/
  *     rdf:rest chain (fresh bnodes); any other object is a nested
  *     node — recursed, linked by its subject.
  *   - `@reverse`: `{p: nodes}` asserts (node, p, subject) for each
  *     node-object or IRI-string value (literal values are illegal
  *     per spec and drop silently). `@graph` LABELS are not
  *     supported; a top-level `@graph` array is processed with its
  *     triples merged into the default graph (the overwhelmingly
  *     common "several top-level things" idiom), and a top-level
  *     array processes every element.
  *
  * Malformed JSON (or a non-object/array root) yields a ParseError the
  * caller treats as island-skip, never fatal — the per-row error
  * contract of the whole extraction layer.
  */
object JsonLd {

  /** Cheap pre-filter for callers holding raw bytes. */
  val marker = "ld+json"

  // ObjectMapper is thread-safe for readTree use
  private val mapper = new ObjectMapper()

  /** The XSD canonical lexical form of a double — one significant
    * digit before the point, no trailing zeros after it, mandatory
    * unsigned-or-negative exponent ("1.65" → "1.65E0", 1e10 →
    * "1.0E10") — the form the JSON-LD-to-RDF algorithm mandates for
    * native JSON numbers, so typed-literal equality joins against
    * spec-conformant output line up. Derived from Double.toString's
    * shortest decimal representation by point-shifting only (no FP
    * re-rounding).
    */
  private[xml] def canonicalDouble(d: Double): String = {
    if (d.isNaN) return "NaN"
    if (d == Double.PositiveInfinity) return "INF"
    if (d == Double.NegativeInfinity) return "-INF"
    val s = java.lang.Double.toString(d)
    val neg = s.startsWith("-")
    val body = if (neg) s.substring(1) else s
    val e = body.indexOf('E')
    val mant = if (e < 0) body else body.substring(0, e)
    val exp0 = if (e < 0) 0 else body.substring(e + 1).toInt
    val dot = mant.indexOf('.') // Double.toString always emits d+.d+
    val digits = mant.substring(0, dot) + mant.substring(dot + 1)
    val firstSig = digits.indexWhere(_ != '0')
    if (firstSig < 0) return if (neg) "-0.0E0" else "0.0E0"
    val exp = exp0 + (dot - 1) - firstSig
    var lastSig = digits.length - 1
    while (digits.charAt(lastSig) == '0') lastSig -= 1
    val sig = digits.substring(firstSig, lastSig + 1)
    val mantOut = if (sig.length == 1) sig + ".0" else sig.charAt(0) + "." + sig.substring(1)
    (if (neg) "-" else "") + mantOut + "E" + exp
  }

  /** A `type` ATTRIBUTE whose value is application/ld+json (optional
    * quotes, optional whitespace, optional parameters after the media
    * type). Anchored so `src="lib-ld+json.js"` or `data-type=` can
    * never count a block — a false match would consume a block index
    * and shift every later `jl<block>_<n>` fresh-bnode label.
    */
  private val typeAttrRe =
    java.util.regex.Pattern.compile("""[\s"'/]type\s*=\s*["']?\s*application/ld\+json(?![\w+.-])""")

  /** The contents of every ld+json-typed `<script>` element, in
    * document order. Quote-aware tag-end scan (a '>' inside a quoted
    * attribute value does not close the tag); an unclosed script runs
    * to end of input — the lenient-tokenizer rule. Only the `type`
    * attribute decides islandhood (never a substring elsewhere in the
    * tag), so block indices — and the fresh-bnode labels derived from
    * them — are insensitive to unrelated markup.
    */
  def scriptBlocks(html: String): Vector[String] = {
    val lower = html.toLowerCase
    val out = Vector.newBuilder[String]
    var i = lower.indexOf("<script")
    while (i >= 0) {
      var k = i + 7
      var inQ: Char = 0
      val n = html.length
      while (k < n && (inQ != 0 || html.charAt(k) != '>')) {
        val ch = html.charAt(k)
        if (inQ != 0) { if (ch == inQ) inQ = 0 }
        else if (ch == '"' || ch == '\'') inQ = ch
        k += 1
      }
      if (k >= n) i = -1
      else {
        val close = lower.indexOf("</script", k + 1)
        if (typeAttrRe.matcher(lower.substring(i, k)).find())
          out += html.substring(k + 1, if (close < 0) n else close)
        i = lower.indexOf("<script", if (close < 0) k + 1 else close + 8)
      }
    }
    out.result()
  }

  /** Parse one script block. `block` seeds the fresh-bnode namespace so
    * several blocks on one page never collide. The statements are a set:
    * a node described twice yields each of its statements once.
    */
  def parse(json: String, base: Option[String], block: Int = 0): Either[ParseError, Vector[Triple]] =
    try {
      val root = mapper.readTree(json)
      if (root == null || !(root.isObject || root.isArray))
        Left(ParseError("JSON-LD: root is not an object or array"))
      else {
        val st = new State(base.map(Iris.normalizeBase).orNull, block)
        if (root.isArray) root.elements().asScala.foreach(n => st.node(n, Ctx.empty))
        else st.node(root, Ctx.empty)
        Right(st.triples.toVector)
      }
    } catch {
      case e: ParseError => Left(e)
      case e: Exception => Left(ParseError("JSON-LD: " + e.getMessage))
    }

  /** All ld+json islands of an HTML page, malformed blocks skipped; a
    * statement several blocks make appears once.
    */
  def parseHtml(html: String, base: Option[String]): Vector[Triple] = {
    val out = mutable.LinkedHashSet.empty[Triple]
    scriptBlocks(html).zipWithIndex.foreach { case (b, i) =>
      parse(b, base, i).foreach(out ++= _)
    }
    out.toVector
  }

  /** A term definition: the expanded IRI plus an optional type
    * coercion — "@id" (values are IRI refs) or a datatype IRI.
    */
  private final case class TermDef(iri: String, coercion: String)

  private final case class Ctx(vocab: String, language: String, terms: Map[String, TermDef])
  private object Ctx { val empty: Ctx = Ctx(null, null, Map.empty) }

  private final class State(base: String, block: Int) {
    val triples = mutable.LinkedHashSet.empty[Triple]
    private var bnodeCounter = 0
    private def freshBNode(): BNode = {
      val b = BNode(s"jl${block}_$bnodeCounter"); bnodeCounter += 1; b
    }

    /** Expand an IRI-position string: CURIE over ctx terms, bare term,
      * then — per JSON-LD 1.1 IRI expansion — vocab concatenation in
      * vocab-relative positions (keys, `@type`, datatypes) but BASE
      * resolution in document-relative positions (`asRef`: `@id`
      * values and `@type:@id`-coerced values), where `@vocab` never
      * applies. Returns null when unexpandable.
      */
    private def expandIri(s: String, ctx: Ctx, asRef: Boolean): String = {
      if (s == null || s.isEmpty || s.startsWith("@")) return null
      val ci = s.indexOf(':')
      if (ci > 0) {
        val pfx = s.substring(0, ci)
        ctx.terms.get(pfx) match {
          case Some(td) => return td.iri + s.substring(ci + 1)
          case None => if (Iris.isAbsolute(s)) return s
        }
        if (s.startsWith("_:")) return null // handled by callers needing bnodes
        return null
      }
      ctx.terms.get(s) match {
        case Some(td) => td.iri
        case None =>
          if (asRef) {
            if (base != null)
              try Iris.resolve(s, base) catch { case _: Exception => null }
            else null
          } else if (ctx.vocab != null) ctx.vocab + s
          else null
      }
    }

    /** Subject/object position: `_:label` → author bnode (jlu-prefixed),
      * else IRI expansion with base resolution.
      */
    private def expandRef(s: String, ctx: Ctx): Term =
      if (s == null || s.isEmpty) null
      else if (s.startsWith("_:")) BNode("jlu" + s.substring(2))
      else expandIri(s, ctx, asRef = true) match {
        case null => null
        case iri => Iri(iri)
      }

    private def parseContext(node: JsonNode, parent: Ctx): Ctx = {
      if (node == null) return parent
      if (node.isArray)
        return node.elements().asScala.foldLeft(parent)((c, n) => parseContext(n, c))
      if (node.isTextual) {
        val v = node.asText
        val vocab = if (v.endsWith("/") || v.endsWith("#")) v else v + "/"
        return Ctx(vocab, parent.language, parent.terms)
      }
      if (!node.isObject) return parent
      var vocab = parent.vocab
      var language = parent.language
      var terms = parent.terms
      // CURIE term-def values expand against earlier entries of the
      // SAME context too — iterate in document order, accumulating
      def expandDef(v: String): String = {
        val ci = v.indexOf(':')
        if (ci > 0) terms.get(v.substring(0, ci)) match {
          case Some(td) => td.iri + v.substring(ci + 1)
          case None => if (Iris.isAbsolute(v)) v else null
        } else null
      }
      node.properties().asScala.foreach { e =>
        val (k, v) = (e.getKey, e.getValue)
        k match {
          case "@vocab" => if (v.isTextual) vocab = v.asText
          case "@language" => if (v.isTextual) language = v.asText
          case "@base" => () // document base wins (zero-egress posture)
          case term if !term.startsWith("@") =>
            if (v.isTextual) {
              val iri = expandDef(v.asText)
              if (iri != null) terms = terms.updated(term, TermDef(iri, null))
            } else if (v.isObject) {
              val idN = v.get("@id")
              val iri =
                if (idN != null && idN.isTextual) expandDef(idN.asText)
                else if (vocab != null) vocab + term
                else null
              if (iri != null) {
                val tyN = v.get("@type")
                val coercion =
                  if (tyN == null || !tyN.isTextual) null
                  else if (tyN.asText == "@id" || tyN.asText == "@vocab") "@id"
                  else expandDef(tyN.asText)
                terms = terms.updated(term, TermDef(iri, coercion))
              }
            }
          case _ => ()
        }
      }
      Ctx(vocab, language, terms)
    }

    /** Process a node object; returns its subject (null for non-nodes). */
    def node(n: JsonNode, parentCtx: Ctx): Term = {
      if (!n.isObject) return null
      val ctx = parseContext(n.get("@context"), parentCtx)
      val graphN = n.get("@graph")
      if (graphN != null && graphN.isArray) {
        // default-graph merge of the top-level @graph idiom
        graphN.elements().asScala.foreach(e => node(e, ctx))
        return null
      }
      val idN = n.get("@id")
      val subject: Term =
        if (idN != null && idN.isTextual) {
          val t = expandRef(idN.asText, ctx)
          if (t != null) t else freshBNode()
        } else freshBNode()
      val tyN = n.get("@type")
      if (tyN != null) {
        val tys = if (tyN.isArray) tyN.elements().asScala.toSeq else Seq(tyN)
        tys.foreach { t =>
          if (t.isTextual) expandIri(t.asText, ctx, asRef = false) match {
            case null => ()
            case iri => triples += Triple(subject, Iri(Vocab.rdfType), Iri(iri))
          }
        }
      }
      n.properties().asScala.foreach { e =>
        val k = e.getKey
        if (!k.startsWith("@")) {
          val (predIri, coercion) = ctx.terms.get(k) match {
            case Some(td) => (td.iri, td.coercion)
            case None => (expandIri(k, ctx, asRef = false), null)
          }
          if (predIri != null) value(subject, Iri(predIri), e.getValue, coercion, ctx)
        }
      }
      // @reverse: {p: nodes} asserts (node, p, subject) — each value a
      // node object (or array of them); literals are illegal there and
      // drop silently (the error-tolerant island contract)
      val revN = n.get("@reverse")
      if (revN != null && revN.isObject) {
        revN.properties().asScala.foreach { e =>
          val predIri = ctx.terms.get(e.getKey) match {
            case Some(td) => td.iri
            case None => expandIri(e.getKey, ctx, asRef = false)
          }
          if (predIri != null) {
            val vals = if (e.getValue.isArray) e.getValue.elements().asScala.toSeq
                       else Seq(e.getValue)
            vals.foreach { v =>
              val srcTerm: Term =
                if (v.isObject) node(v, ctx)
                else if (v.isTextual) expandRef(v.asText, ctx)
                else null
              if (srcTerm != null) triples += Triple(srcTerm, Iri(predIri), subject)
            }
          }
        }
      }
      subject
    }

    private def emitList(s: Term, p: Iri, items: Seq[Term]): Unit =
      if (items.isEmpty) triples += Triple(s, p, Iri(Vocab.rdfNil))
      else {
        val nodes = items.map(_ => freshBNode())
        triples += Triple(s, p, nodes.head)
        items.indices.foreach { i =>
          triples += Triple(nodes(i), Iri(Vocab.rdfFirst), items(i))
          triples += Triple(nodes(i), Iri(Vocab.rdfRest),
            if (i == items.length - 1) Iri(Vocab.rdfNil) else nodes(i + 1))
        }
      }

    /** One value of (s, p): literal / coerced IRI / nested node / list /
      * array fan-out. Unexpandable or null values drop silently.
      */
    private def value(s: Term, p: Iri, v: JsonNode, coercion: String, ctx: Ctx): Unit = {
      if (v == null || v.isNull) return
      if (v.isArray) { v.elements().asScala.foreach(e => value(s, p, e, coercion, ctx)); return }
      if (v.isTextual) {
        val o: Term =
          if (coercion == "@id") expandRef(v.asText, ctx)
          else if (coercion != null) Lit.typed(v.asText, coercion)
          else if (ctx.language != null) Lit.lang(v.asText, ctx.language)
          else Lit.plain(v.asText)
        if (o != null) triples += Triple(s, p, o)
        return
      }
      if (v.isIntegralNumber) { triples += Triple(s, p, Lit.typed(v.bigIntegerValue.toString, Vocab.xsdNs + "integer")); return }
      if (v.isNumber) { triples += Triple(s, p, Lit.typed(canonicalDouble(v.asDouble), Vocab.xsdNs + "double")); return }
      if (v.isBoolean) { triples += Triple(s, p, Lit.typed(if (v.asBoolean) "true" else "false", Vocab.xsdNs + "boolean")); return }
      if (v.isObject) {
        val valueN = v.get("@value")
        if (valueN != null) {
          val lex =
            if (valueN.isTextual) valueN.asText
            else if (valueN.isIntegralNumber) valueN.bigIntegerValue.toString
            else if (valueN.isNumber) canonicalDouble(valueN.asDouble)
            else if (valueN.isBoolean) (if (valueN.asBoolean) "true" else "false")
            else return
          val tyN = v.get("@type")
          val dt = if (tyN != null && tyN.isTextual) expandIri(tyN.asText, ctx, asRef = false) else null
          val lgN = v.get("@language")
          val o =
            if (dt != null) Lit.typed(lex, dt)
            else if (lgN != null && lgN.isTextual) Lit.lang(lex, lgN.asText)
            else if (valueN.isIntegralNumber) Lit.typed(lex, Vocab.xsdNs + "integer")
            else if (valueN.isNumber && !valueN.isTextual) Lit.typed(lex, Vocab.xsdNs + "double")
            else if (valueN.isBoolean) Lit.typed(lex, Vocab.xsdNs + "boolean")
            else if (ctx.language != null) Lit.lang(lex, ctx.language)
            else Lit.plain(lex)
          triples += Triple(s, p, o)
          return
        }
        val listN = v.get("@list")
        if (listN != null && listN.isArray) {
          // collect item terms through a probe buffer: literals inline,
          // nested nodes recurse first (their triples emit before the
          // list spine, document order within the item)
          val items = mutable.ArrayBuffer.empty[Term]
          listN.elements().asScala.foreach { e =>
            itemTerm(e, coercion, ctx).foreach(items += _)
          }
          emitList(s, p, items.toSeq)
          return
        }
        val sub = node(v, ctx)
        if (sub != null) triples += Triple(s, p, sub)
      }
    }

    /** The term a list item denotes (emitting the item's own triples
      * when it is a nested node). None for nulls/unexpandables.
      */
    private def itemTerm(v: JsonNode, coercion: String, ctx: Ctx): Option[Term] = {
      if (v == null || v.isNull) return None
      if (v.isTextual)
        return Option(
          if (coercion == "@id") expandRef(v.asText, ctx)
          else if (coercion != null) Lit.typed(v.asText, coercion)
          else if (ctx.language != null) Lit.lang(v.asText, ctx.language)
          else Lit.plain(v.asText))
      if (v.isIntegralNumber) return Some(Lit.typed(v.bigIntegerValue.toString, Vocab.xsdNs + "integer"))
      if (v.isNumber) return Some(Lit.typed(canonicalDouble(v.asDouble), Vocab.xsdNs + "double"))
      if (v.isBoolean) return Some(Lit.typed(if (v.asBoolean) "true" else "false", Vocab.xsdNs + "boolean"))
      if (v.isObject) return Option(node(v, ctx))
      None
    }
  }
}
