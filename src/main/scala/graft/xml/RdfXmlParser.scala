package graft.xml

import graft.rdf._
import graft.rdf.Iris.ParseError

import org.xml.sax.{Attributes, InputSource, SAXException}
import org.xml.sax.helpers.DefaultHandler
import java.io.{ByteArrayInputStream, StringReader}
import scala.collection.mutable

/** RDF/XML 1.1 decoder.
  *
  * Re-implements the observable semantics of the reference's grammar
  * machine (rdf-xml-ex: /root/reference/lib/rdf/xml/decoder/grammar/
  * rules.ex — 14 productions driven by SAX events) as a single-pass,
  * deterministic pushdown automaton. The reference forks alternative
  * productions and keeps the first-listed surviving branch's graph
  * (grammar.ex:69-104, rule.ex:42-61); we resolve the same alternation
  * *deterministically* by tracking what was actually seen (text /
  * child element / nothing) and deciding at element end — same
  * observable output, no branch interpretation overhead.
  *
  * Deliberately replicated reference quirks (bug-compat, encoded in the
  * reference's own test suite — see w3c_test.exs:21-46 skip list):
  *   - syntax terms are matched by LITERAL qname ("rdf:RDF", "rdf:li",
  *     "rdf:ID", ...), not by resolved namespace (rules.ex:13-18,
  *     decoder.ex:24-25), so xmlns-bound syntax terms are not special.
  *   - unprefixed element names do NOT fall back to the default
  *     namespace (element_node.ex:228-243 behavior as exercised by the
  *     skipped rdf-element-not-mandatory / rdf-ns-prefix-confusion
  *     0010..0014 cases).
  *   - unresolvable attribute names are silently ignored
  *     (element_node.ex:183-192, unrecognised-xml-attributes suite).
  *   - lax whitespace (String.trim) and lax NCName checks
  *     (rule.ex:136-140, element_node.ex:245-256).
  *
  * Blank node labels are generated from a per-document incrementing
  * counter with a caller-chosen prefix (grammar.ex:19), with
  * rdf:nodeID-keyed reuse (rule.ex:120-126) — fully deterministic per
  * document, independent of partitioning/retries.
  */
object RdfXmlParser {

  val coreSyntaxTerms: Set[String] =
    Set("rdf:RDF", "rdf:ID", "rdf:about", "rdf:parseType", "rdf:resource", "rdf:nodeID", "rdf:datatype")
  val oldTerms: Set[String] = Set("rdf:aboutEach", "rdf:aboutEachPrefix", "rdf:bagID")
  private val forbiddenNodeElementNames = coreSyntaxTerms ++ oldTerms + "rdf:li"
  private val forbiddenPropertyElementNames = coreSyntaxTerms ++ oldTerms + "rdf:Description"

  def parse(xml: String, base: Option[String] = None, bnodePrefix: String = "b"): Either[ParseError, RdfGraph] =
    run(new InputSource(new StringReader(xml)), base, bnodePrefix)

  def parseBytes(xml: Array[Byte], base: Option[String] = None, bnodePrefix: String = "b"): Either[ParseError, RdfGraph] =
    run(new InputSource(new ByteArrayInputStream(xml)), base, bnodePrefix)

  /** Streaming decode from an InputStream — the document is consumed
    * incrementally by the SAX parser, never pre-buffered, so a
    * larger-than-heap document (or a socket feed) decodes in bounded
    * memory. Mirrors the reference's `decode_from_stream/2`
    * (/root/reference/lib/rdf/xml/decoder.ex:50-53).
    */
  def parseStream(in: java.io.InputStream, base: Option[String] = None,
                  bnodePrefix: String = "b"): Either[ParseError, RdfGraph] =
    run(new InputSource(in), base, bnodePrefix)

  /** Chunk-enumerable decode — the exact shape of the reference's
    * `decode_from_stream/2` over a lazy chunk enumerable (tested at
    * decoder_test.exs:417-442): chunks are pulled ON DEMAND as the
    * parser consumes input; nothing is concatenated up front.
    */
  def parseChunks(chunks: Iterator[Array[Byte]], base: Option[String] = None,
                  bnodePrefix: String = "b"): Either[ParseError, RdfGraph] =
    parseStream(new java.io.InputStream {
      private var cur: Array[Byte] = Array.emptyByteArray
      private var pos = 0
      private def advance(): Boolean = {
        while (pos >= cur.length && chunks.hasNext) { cur = chunks.next(); pos = 0 }
        pos < cur.length
      }
      def read(): Int = if (advance()) { val b = cur(pos) & 0xff; pos += 1; b } else -1
      override def read(b: Array[Byte], off: Int, len: Int): Int =
        if (!advance()) -1
        else {
          val n = math.min(len, cur.length - pos)
          System.arraycopy(cur, pos, b, off, n)
          pos += n
          n
        }
    }, base, bnodePrefix)

  /** Extraction fast path: an RDF/XML island parsed in place, its
    * triples as the parser's internal (deduped, insertion-ordered)
    * collection, skipping the RdfGraph Set copy — one less
    * full-materialization per document on the 100 TB path.
    */
  def parseBytesRaw(xml: Array[Byte], offset: Int, length: Int, base: Option[String],
                    bnodePrefix: String = "b"): Either[ParseError, Iterable[Triple]] =
    decode(new InputSource(new ByteArrayInputStream(xml, offset, length)), base, bnodePrefix).map(_.triples)

  private def run(src: InputSource, base: Option[String], bnodePrefix: String): Either[ParseError, RdfGraph] =
    decode(src, base, bnodePrefix).map(h => RdfGraph(h.triples.toSet, Option(h.graphBase), h.graphPrefixes))

  /** The one SAX decode: thread-local reused parser (SaxPool) — no
    * factory lookup and no Xerces reset() per document, both measured
    * multi-x scaling killers; a parse that threw invalidates the
    * thread's instance.
    */
  private def decode(src: InputSource, base: Option[String], bnodePrefix: String): Either[ParseError, Handler] =
    try {
      val handler = new Handler(base.map(Iris.normalizeBase).orNull, bnodePrefix)
      SaxPool.parser().parse(src, handler)
      Right(handler)
    } catch {
      case e: ParseError => SaxPool.invalidate(); Left(e)
      case e: SAXException =>
        SaxPool.invalidate()
        e.getCause match {
          case pe: ParseError => Left(pe) // our errors thrown inside SAX callbacks
          case _ => Left(ParseError(s"XML parse error: ${e.getMessage}"))
        }
      case e: Exception =>
        SaxPool.invalidate()
        Left(ParseError(s"parse failure: ${e.getClass.getSimpleName}: ${e.getMessage}"))
    }

  // ---------------------------------------------------------------- model

  private final case class RdfAttrs(
      id: String, // resolved IRI (base#name), null if absent
      nodeId: String, // NCName, null
      about: String, // resolved IRI, null
      resource: String, // resolved IRI, null
      datatype: String, // resolved IRI, null
      parseType: String // "Literal" | "Resource" | "Collection" | other | null
  ) {
    def isEmpty: Boolean =
      id == null && nodeId == null && about == null && resource == null && datatype == null && parseType == null
    def onlyId: Boolean =
      id != null && nodeId == null && about == null && resource == null && datatype == null && parseType == null
    /** keys other than :id and the given parseType flag — ElementRule
      * conform checks of the parseType productions (rules.ex:322-328 etc.)
      */
    def onlyIdAndParseType: Boolean =
      nodeId == null && about == null && resource == null && datatype == null
  }

  private final class ElemInfo(
      val name: String,
      val uri: String,
      val rdfAttrs: RdfAttrs,
      val propAttrs: List[(String, String)], // resolved attr IRI -> value, document order
      val base: String, // null allowed
      val lang: String, // null allowed
      val prefixes: Map[String, String]
  )

  private sealed trait Mode
  private case object PLiteral extends Mode
  private case object POther extends Mode
  private case object PResource extends Mode
  private case object PCollection extends Mode
  private case object EmptyOnly extends Mode // rdf:resource / rdf:nodeID / property attrs present
  private case object DatatypeAmb extends Mode // rdf:datatype: literal if text else empty semantics
  private case object Amb extends Mode // full Literal|Resource|Empty alternation

  private sealed trait Frame
  private case object DocF extends Frame
  private final class OuterRdfF(val elem: ElemInfo) extends Frame
  private final class NodeF(val elem: ElemInfo, val subject: Term) extends Frame {
    var liCounter: Int = 1
  }
  private final class PropF(var elem: ElemInfo, val parentSubject: Term, val mode: Mode) extends Frame {
    val textBuf = new StringBuilder
    var sawText = false
    var nonWsText = false
    var sawChild = false
    var childSubject: Term = _
    var bnodeSubject: Term = _ // parseType=Resource implicit subject
    var liCounter: Int = 1 // parseType=Resource hosts rdf:li renumbering
    var collected: mutable.ArrayBuffer[Term] = _ // parseType=Collection child subjects
    var capture: mutable.ArrayBuffer[XmlOut.Node] = _ // parseType=Literal/Other verbatim events
  }

  private final class CapElem(val name: String, val attrs: List[(String, String)]) {
    val children = mutable.ArrayBuffer.empty[XmlOut.Node]
  }

  // ---------------------------------------------------------------- handler

  private final class Handler(initialBase: String, bnodePrefix: String) extends DefaultHandler {
    val triples = mutable.LinkedHashSet.empty[Triple]
    var graphBase: String = initialBase
    var graphPrefixes: Map[String, String] = Map.empty

    private var bnodeCounter = 0
    private val nodeIdMap = mutable.HashMap.empty[String, BNode]
    private val rdfIds = mutable.HashSet.empty[String]
    private val stack = mutable.ArrayBuffer[Frame](DocF)
    private val captureStack = mutable.ArrayBuffer.empty[CapElem]

    private def top: Frame = stack.last
    private def push(f: Frame): Unit = stack += f
    private def pop(): Frame = stack.remove(stack.length - 1)

    private def freshBNode(): BNode = {
      val b = BNode(bnodePrefix + bnodeCounter)
      bnodeCounter += 1
      b
    }
    private def bnodeFor(nodeId: String): BNode =
      nodeIdMap.getOrElseUpdate(nodeId, freshBNode())

    private def isWs(s: String): Boolean = {
      var i = 0
      while (i < s.length) {
        if (!Character.isWhitespace(s.charAt(i))) return false
        i += 1
      }
      true
    }

    private def inCapture: Boolean = top match {
      case p: PropF => p.mode == PLiteral || p.mode == POther
      case _ => false
    }

    // -------------------------------------------------- element node build

    private def qnameToIri(name: String, prefixes: Map[String, String]): String = {
      val idx = name.indexOf(':')
      if (idx > 0) {
        val prefix = name.substring(0, idx)
        prefixes.get(prefix) match {
          case Some(ns) => ns + name.substring(idx + 1)
          case None => throw ParseError(s"can't resolve name $name to URI reference")
        }
      } else throw ParseError(s"can't resolve name $name to URI reference")
    }

    private def parentScope: (Map[String, String], String, String) = top match {
      case DocF => (Map.empty, graphBase, null)
      case f: OuterRdfF => (f.elem.prefixes, f.elem.base, f.elem.lang)
      case f: NodeF => (f.elem.prefixes, f.elem.base, f.elem.lang)
      case f: PropF => (f.elem.prefixes, f.elem.base, f.elem.lang)
    }

    private def buildElem(qName: String, attrs: Attributes): ElemInfo = {
      val (parentPrefixes, parentBase, parentLang) = parentScope
      var prefixes = parentPrefixes
      var base = parentBase
      var lang = parentLang
      val ordinary = mutable.ArrayBuffer.empty[(String, String)]
      var i = 0
      while (i < attrs.getLength) {
        val an = attrs.getQName(i)
        val av = attrs.getValue(i)
        if (an == "xml:lang") lang = av
        else if (an == "xml:base")
          // XML Base: a relative xml:base resolves against the base in scope
          base = Iris.normalizeBase(
            if (parentBase == null || Iris.isAbsolute(av)) av else Iris.resolve(av, parentBase))
        else if (an.startsWith("xmlns:")) prefixes = prefixes.updated(an.substring(6), av)
        else if (an == "xmlns") prefixes = prefixes.updated("", av)
        else ordinary += ((an, av))
        i += 1
      }
      val uri = qnameToIri(qName, prefixes)

      var id: String = null
      var nodeId: String = null
      var about: String = null
      var resource: String = null
      var datatype: String = null
      var parseType: String = null
      var exclusivePresent = false
      val propAttrs = mutable.ArrayBuffer.empty[(String, String)]

      def exclusive(): Unit = {
        // element_node.ex:113-131 — node_id/about/id are mutually exclusive
        if (exclusivePresent)
          throw ParseError("rdf:nodeID can't be used with rdf:ID and rdf:about")
        exclusivePresent = true
      }

      ordinary.foreach { case (an, av) =>
        an match {
          case "rdf:ID" => exclusive(); id = Iris.rdfId(av, base)
          case "rdf:nodeID" => exclusive(); nodeId = Iris.ncName(av)
          case "rdf:about" => exclusive(); about = Iris.uriReference(av, base)
          case "rdf:resource" => resource = Iris.uriReference(av, base)
          case "rdf:datatype" => datatype = Iris.uriReference(av, base)
          case "rdf:parseType" => parseType = av
          case "rdf:li" | "rdf:RDF" | "rdf:Description" =>
            throw ParseError(s"$an is not allowed as as an attribute")
          case n if oldTerms.contains(n) =>
            throw ParseError(s"$n not supported in RDF/XML 1.1")
          case n =>
            // property attribute; unresolvable names silently ignored
            // (element_node.ex:183-192)
            val idx = n.indexOf(':')
            if (idx > 0) {
              prefixes.get(n.substring(0, idx)).foreach { ns =>
                propAttrs += ((ns + n.substring(idx + 1), av))
              }
            }
        }
      }

      // document-global rdf:ID uniqueness over RESOLVED ids (grammar.ex:125-133)
      if (id != null) {
        if (rdfIds.contains(id)) throw ParseError(s"multiple uses of ID $id")
        rdfIds += id
      }

      new ElemInfo(qName, uri, RdfAttrs(id, nodeId, about, resource, datatype, parseType),
        propAttrs.toList, base, lang, prefixes)
    }

    // -------------------------------------------------- triple emission

    private def reify(s: Term, p: Term, o: Term, id: String): Unit = {
      val r = Iri(id)
      triples += Triple(r, Iri(Vocab.rdfType), Iri(Vocab.rdfStatement))
      triples += Triple(r, Iri(Vocab.rdfSubject), s)
      triples += Triple(r, Iri(Vocab.rdfPredicate), p)
      triples += Triple(r, Iri(Vocab.rdfObject), o)
    }

    private def emitStatement(s: Term, p: Term, o: Term, rdfId: String): Unit = {
      triples += Triple(s, p, o)
      if (rdfId != null) reify(s, p, o, rdfId)
    }

    /** rule.ex:142-169 description_from_property_attrs: rdf:type attr
      * value resolved as IRI, others as (possibly lang-tagged) literals.
      */
    private def emitPropertyAttrs(subject: Term, elem: ElemInfo): Unit =
      elem.propAttrs.foreach { case (attrUri, value) =>
        if (attrUri == Vocab.rdfType)
          triples += Triple(subject, Iri(Vocab.rdfType), Iri(Iris.uriReference(value, elem.base)))
        else {
          val o = if (elem.lang != null && elem.lang.nonEmpty) Lit.lang(value, elem.lang) else Lit.plain(value)
          triples += Triple(subject, Iri(attrUri), o)
        }
      }

    // -------------------------------------------------- SAX events

    override def startElement(uri: String, localName: String, qName: String, attrs: Attributes): Unit = {
      if (inCapture) {
        // verbatim event recording (literal_rule.ex:11-18): raw names and
        // attributes in document order, no ElementNode processing
        val raw = (0 until attrs.getLength).map(i => (attrs.getQName(i), attrs.getValue(i))).toList
        captureStack += new CapElem(qName, raw)
        return
      }
      val elem = buildElem(qName, attrs)
      top match {
        case DocF =>
          if (qName == "rdf:RDF") push(new OuterRdfF(elem))
          else startNodeElement(elem)
        case _: OuterRdfF => startNodeElement(elem)
        case f: NodeF => startPropertyElement(elem, () => { val c = f.liCounter; f.liCounter += 1; c })
        case f: PropF =>
          f.mode match {
            case PResource =>
              startPropertyElement(elem, () => { val c = f.liCounter; f.liCounter += 1; c })
            case PCollection => startNodeElement(elem)
            case Amb =>
              if (f.nonWsText)
                throw ParseError(s"element ${elem.name} is not applicable in ${f.elem.name}")
              if (f.sawChild)
                throw ParseError(s"multiple node elements in property element ${f.elem.name}")
              f.sawChild = true
              startNodeElement(elem)
            case EmptyOnly | DatatypeAmb =>
              throw ParseError(s"element ${elem.name} is not applicable in ${f.elem.name}")
            case PLiteral | POther =>
              throw new IllegalStateException("unreachable: capture handled above")
          }
      }
    }

    private def startNodeElement(elem: ElemInfo): Unit = {
      // rules.ex:61-66 NodeElement.conform?
      if (forbiddenNodeElementNames.contains(elem.name))
        throw ParseError(s"element ${elem.name} is not conform with rule NodeElement")
      // rules.ex:68-91 subject precedence: rdf:ID > rdf:nodeID > rdf:about > fresh bnode
      val a = elem.rdfAttrs
      val subject: Term =
        if (a.id != null) Iri(a.id)
        else if (a.nodeId != null) bnodeFor(a.nodeId)
        else if (a.about != null) Iri(a.about)
        else freshBNode()
      push(new NodeF(elem, subject))
    }

    private def startPropertyElement(elem0: ElemInfo, nextLi: () => Int): Unit = {
      // rules.ex:156-170 — rdf:li (literal qname) renumbering via the
      // parent node-ish frame's counter, BEFORE production dispatch
      val elem =
        if (elem0.name == "rdf:li") {
          val newName = "rdf:_" + nextLi()
          new ElemInfo(newName, qnameToIri(newName, elem0.prefixes), elem0.rdfAttrs,
            elem0.propAttrs, elem0.base, elem0.lang, elem0.prefixes)
        } else elem0

      if (forbiddenPropertyElementNames.contains(elem.name))
        throw ParseError(s"no rule matches for property element ${elem.name}")

      val a = elem.rdfAttrs
      val parentSubject = top match {
        case f: NodeF => f.subject
        case f: PropF => f.bnodeSubject // PResource host
        case _ => throw new IllegalStateException("property element without node parent")
      }

      def requireCleanParseType(kind: String): Unit =
        if (elem.propAttrs.nonEmpty || !a.onlyIdAndParseType)
          throw ParseError(s"element ${elem.name} is not conform with rule $kind")

      // rules.ex:125-154 select_production — deterministic dispatch order
      val mode: Mode =
        if (a.parseType == "Literal") { requireCleanParseType("ParseTypeLiteralPropertyElt"); PLiteral }
        else if (a.parseType != null && a.parseType != "Resource" && a.parseType != "Collection") {
          requireCleanParseType("ParseTypeOtherPropertyElt"); POther
        } else if (a.parseType == "Resource") { requireCleanParseType("ParseTypeResourcePropertyElt"); PResource }
        else if (a.parseType == "Collection") { requireCleanParseType("ParseTypeCollectionPropertyElt"); PCollection }
        else if (a.resource != null || a.nodeId != null || elem.propAttrs.nonEmpty) {
          // rules.ex:245-252 EmptyPropertyElt.conform? — at most one of
          // resource/nodeID/datatype
          val n = Seq(a.resource, a.nodeId, a.datatype).count(_ != null)
          if (n > 1) throw ParseError(s"element ${elem.name} is not conform with rule EmptyPropertyElt")
          EmptyOnly
        } else if (a.datatype != null) DatatypeAmb
        else Amb

      val f = new PropF(elem, parentSubject, mode)
      mode match {
        case PResource => f.bnodeSubject = freshBNode() // rules.ex:331-334
        case PCollection => f.collected = mutable.ArrayBuffer.empty[Term]
        case PLiteral | POther => f.capture = mutable.ArrayBuffer.empty[XmlOut.Node]
        case _ =>
      }
      push(f)
    }

    override def characters(ch: Array[Char], start: Int, length: Int): Unit = {
      val s = new String(ch, start, length)
      if (captureStack.nonEmpty) { captureStack.last.children += XmlOut.Text(s); return }
      top match {
        case f: PropF =>
          f.mode match {
            case PLiteral | POther => f.capture += XmlOut.Text(s)
            case Amb =>
              if (f.sawChild) {
                if (!isWs(s)) throw ParseError(s"unexpected characters in element ${f.elem.name}: $s")
              } else {
                f.textBuf.append(s); f.sawText = true
                if (!isWs(s)) f.nonWsText = true
              }
            case DatatypeAmb =>
              f.textBuf.append(s); f.sawText = true
              if (!isWs(s)) f.nonWsText = true
            case _ =>
              if (!isWs(s)) throw ParseError(s"unexpected characters in element ${f.elem.name}: $s")
          }
        case f: NodeF =>
          if (!isWs(s)) throw ParseError(s"unexpected characters in element ${f.elem.name}: $s")
        case f: OuterRdfF =>
          if (!isWs(s)) throw ParseError(s"unexpected characters in element ${f.elem.name}: $s")
        case DocF =>
          if (!isWs(s)) throw ParseError(s"unexpected characters at document level: $s")
      }
    }

    override def ignorableWhitespace(ch: Array[Char], start: Int, length: Int): Unit =
      characters(ch, start, length)

    override def endElement(uri: String, localName: String, qName: String): Unit = {
      if (captureStack.nonEmpty) {
        val cap = captureStack.remove(captureStack.length - 1)
        val node = XmlOut.Elem(cap.name, cap.attrs, cap.children.toList)
        if (captureStack.nonEmpty) captureStack.last.children += node
        else top.asInstanceOf[PropF].capture += node
        return
      }
      pop() match {
        case f: NodeF => endNodeElement(f)
        case f: PropF => endPropertyElement(f)
        case f: OuterRdfF =>
          // rules.ex:38-48 — root element stores base + xmlns into graph
          if (f.elem.base != null) graphBase = f.elem.base
          graphPrefixes = f.elem.prefixes
        case DocF =>
          throw new IllegalStateException("unbalanced document")
      }
    }

    private def endNodeElement(f: NodeF): Unit = {
      // rules.ex:93-106 — type triple unless literally rdf:Description,
      // then property-attribute triples
      if (f.elem.name != "rdf:Description")
        triples += Triple(f.subject, Iri(Vocab.rdfType), Iri(f.elem.uri))
      emitPropertyAttrs(f.subject, f.elem)
      top match {
        case p: PropF =>
          p.mode match {
            case Amb => p.childSubject = f.subject
            case PCollection => p.collected += f.subject
            case _ =>
          }
        case _ => // root node element or direct child of rdf:RDF
      }
    }

    private def endPropertyElement(f: PropF): Unit = {
      val s = f.parentSubject
      val p = Iri(f.elem.uri)
      val a = f.elem.rdfAttrs
      f.mode match {
        case PLiteral =>
          // rules.ex:446-467 — re-serialize captured events
          val lexical = XmlOut.writeLiteralBody(f.capture.toList)
          emitStatement(s, p, Lit(lexical, Vocab.rdfXmlLiteral, ""), a.id)
        case POther => // rules.ex:485-487 — consumed, emits nothing
        case PResource =>
          emitStatement(s, p, f.bnodeSubject, a.id)
        case PCollection =>
          // rules.ex:367-429 — fresh head bnode is generated even for an
          // empty collection (counter parity with the reference)
          val head = freshBNode()
          if (f.collected.isEmpty) emitStatement(s, p, Iri(Vocab.rdfNil), a.id)
          else {
            emitStatement(s, p, head, a.id)
            var cell: Term = head
            val items = f.collected
            items.zipWithIndex.foreach { case (item, i) =>
              val rest: Term = if (i == items.length - 1) Iri(Vocab.rdfNil) else freshBNode()
              triples += Triple(cell, Iri(Vocab.rdfFirst), item)
              triples += Triple(cell, Iri(Vocab.rdfRest), rest)
              cell = rest
            }
          }
        case EmptyOnly =>
          emitEmptyResource(f)
        case DatatypeAmb =>
          if (f.sawText)
            emitStatement(s, p, Lit.typed(f.textBuf.toString, a.datatype), a.id)
          else emitEmptyResource(f) // rules.ex:254-307 empty_literal? false (datatype present)
        case Amb =>
          if (f.sawChild) {
            // ResourcePropertyElt (rules.ex:227-238)
            emitStatement(s, p, f.childSubject, a.id)
          } else if (f.sawText) {
            // LiteralPropertyElt wins the alternation whenever any text was
            // seen — including whitespace-only text (branch-priority
            // semantics of rule.ex:42-61 with select order rules.ex:154)
            val t = f.textBuf.toString
            val o =
              if (f.elem.lang != null && f.elem.lang.nonEmpty) Lit.lang(t, f.elem.lang)
              else Lit.plain(t)
            emitStatement(s, p, o, a.id)
          } else if (f.elem.propAttrs.isEmpty && (a.isEmpty || a.onlyId)) {
            // EmptyPropertyElt empty-literal form (rules.ex:254-272, 310-314)
            val o =
              if (f.elem.lang != null && f.elem.lang.nonEmpty) Lit.lang("", f.elem.lang)
              else Lit.plain("")
            emitStatement(s, p, o, a.id)
          } else emitEmptyResource(f) // e.g. stray rdf:about on the property element
      }
    }

    /** rules.ex:274-307 — EmptyPropertyElt resource form: object from
      * rdf:resource / rdf:nodeID / fresh bnode, then property-attribute
      * triples about that object; reification triples added for rdf:ID.
      */
    private def emitEmptyResource(f: PropF): Unit = {
      val a = f.elem.rdfAttrs
      val r: Term =
        if (a.resource != null) Iri(a.resource)
        else if (a.nodeId != null) bnodeFor(a.nodeId)
        else freshBNode()
      if (a.id != null) reify(f.parentSubject, Iri(f.elem.uri), r, a.id)
      triples += Triple(f.parentSubject, Iri(f.elem.uri), r)
      emitPropertyAttrs(r, f.elem)
    }
  }
}
