package graft.xml

import graft.rdf._
import org.xml.sax.Attributes
import org.xml.sax.helpers.DefaultHandler
import scala.collection.mutable

/** HTML Microdata → RDF extractor (W3C "Microdata to RDF" note, the
  * registry-free generic mapping) — the third island format of the
  * KG-construction surface beside RDF/XML and RDFa-Lite. Microdata is
  * the most common embedded-data syntax in real crawl HTML after
  * JSON-LD, and real pages are mostly malformed, so the extractor
  * always runs over [[RdfaLite.tokenize]], the lenient scanner every
  * RDFa island takes too.
  *
  * Supported subset (documented scope, deterministic):
  *   - `itemscope` — creates an item; subject = resolved `itemid` when
  *     present (and absolutizable), else a fresh per-document blank
  *     node (`md0`, `md1`, … in document order — the same counter
  *     contract as the RDF/XML and RDFa handlers, disjoint label
  *     prefix so per-document union is safe)
  *   - `itemtype` — space-separated ABSOLUTE type IRIs → rdf:type
  *     triples; the FIRST type supplies the property vocabulary: the
  *     type IRI up to and including its '#', else up to and including
  *     its last '/' (the generic rule of the note — for
  *     `http://schema.org/Person` this is `http://schema.org/`, the
  *     registry answer for every vocab whose types and properties
  *     share a namespace). An itemscope without itemtype INHERITS the
  *     current vocabulary, per the note's evaluation context.
  *   - `itemprop="a b"` — properties of the nearest ancestor item.
  *     Absolute-IRI names pass through; plain names concatenate onto
  *     the current vocabulary (no vocabulary in scope → the name is
  *     dropped; the note's base-URL fallback invents document-local
  *     IRIs that poison cross-document joins at crawl scale).
  *     Value, by element kind (the HTML microdata value algorithm):
  *       - `itemscope` on the same element → the nested item
  *       - a/area/link → resolved `href`; img/audio/video/embed/
  *         iframe/source/track → resolved `src`; object → resolved
  *         `data` (attribute missing/empty → nothing: the spec's ""
  *         value relativizes to the page URL, which is noise)
  *       - meta → `content` literal
  *       - data/meter → `value` literal
  *       - time → `datetime` (else text content), with the xsd
  *         datatype inferred from the lexical shape
  *         ([[RdfaLite.inferDatatype]] — shared with HTML+RDFa)
  *       - anything else → the element's TEXT CONTENT (all descendant
  *         text in document order, including text inside nested
  *         items — DOM textContent semantics)
  *     Literals carry the inherited `lang`/`xml:lang` language.
  *   - `itemref` is NOT supported (needs random access to the whole
  *     DOM by id; vanishingly rare in crawl data) — items referenced
  *     only via itemref contribute nothing.
  *   - top-level items emit their own type/property triples; the
  *     note's `md:item` document-membership triples are omitted (they
  *     say "this page mentions an item", which the lineage column
  *     already records).
  */
object Microdata {

  /** Cheap pre-filter for callers holding raw bytes: pages without the
    * token can skip String conversion entirely.
    */
  val marker = "itemscope"

  def parse(html: String, base: Option[String]): Vector[Triple] = {
    val h = new MdHandler(base.map(Iris.normalizeBase).orNull)
    RdfaLite.tokenize(html, h)
    h.triples.toVector
  }

  private val hrefElems = Set("a", "area", "link")
  private val srcElems = Set("img", "audio", "video", "embed", "iframe", "source", "track")

  /** Generic vocabulary derivation from the first itemtype: up to and
    * including '#', else up to and including the last '/'. A type with
    * neither (not an absolute IRI) never reaches here.
    */
  private def vocabOf(itemtype: String): String = {
    val h = itemtype.indexOf('#')
    if (h >= 0) itemtype.substring(0, h + 1)
    else itemtype.substring(0, itemtype.lastIndexOf('/') + 1)
  }

  private final class Frame(val item: Term, val vocab: String, val lang: String)

  /** An itemprop element collecting its text content; `isTime` defers
    * datatype inference to the final lexical form.
    */
  private final class Collector(val subject: Term, val preds: Seq[Iri],
      val lang: String, val isTime: Boolean) {
    val text = new StringBuilder
  }

  private final class MdHandler(base: String) extends DefaultHandler {
    val triples = mutable.LinkedHashSet.empty[Triple]
    private var bnodeCounter = 0
    private val stack = mutable.ArrayBuffer.empty[Frame]
    private val collectors = mutable.ArrayBuffer.empty[Collector] // aligned with stack

    private def freshBNode(): BNode = { val b = BNode("md" + bnodeCounter); bnodeCounter += 1; b }

    override def startElement(uri: String, localName: String, qName: String, attrs: Attributes): Unit = {
      val parent = if (stack.isEmpty) new Frame(null, null, null) else stack.last
      def attr(n: String): String = attrs.getValue(n)
      val elemName = localName.substring(localName.indexOf(':') + 1)
      val lang = {
        val l = if (attr("xml:lang") != null) attr("xml:lang") else attr("lang")
        if (l != null) l else parent.lang
      }
      val hasScope = attr("itemscope") != null
      val itempropAttr = attr("itemprop")

      var newItem: Term = null
      var newVocab = parent.vocab
      if (hasScope) {
        val types: Seq[String] = attr("itemtype") match {
          case null => Nil
          case t => t.trim.split("\\s+").toSeq.filter(v => v.nonEmpty && Iris.isAbsolute(v))
        }
        newItem = attr("itemid") match {
          case null => freshBNode()
          case id => try Iri(Iris.uriReference(id, base))
                     catch { case _: Exception => freshBNode() }
        }
        types.foreach(t => triples += Triple(newItem, Iri(Vocab.rdfType), Iri(t)))
        if (types.nonEmpty) newVocab = vocabOf(types.head)
      }

      // itemprop predicates expand against the OWNING item's vocabulary
      // (the parent frame's), not a same-element itemtype's
      val preds: Seq[Iri] =
        if (itempropAttr == null || parent.item == null) Nil
        else itempropAttr.trim.split("\\s+").toSeq.flatMap { n =>
          if (n.isEmpty) None
          else if (Iris.isAbsolute(n)) Some(Iri(n))
          else if (parent.vocab != null) Some(Iri(parent.vocab + n))
          else None
        }

      var collector: Collector = null
      if (preds.nonEmpty) {
        if (hasScope) preds.foreach(p => triples += Triple(parent.item, p, newItem))
        else {
          def iriVal(a: String): Boolean = attr(a) match {
            case v if v != null && v.nonEmpty =>
              try {
                val o = Iri(Iris.uriReference(v, base))
                preds.foreach(p => triples += Triple(parent.item, p, o))
              } catch { case _: Exception => () } // unresolvable ref: drop, not fatal
              true
            case _ => false
          }
          def litVal(a: String, dt: String): Boolean = attr(a) match {
            case v if v != null =>
              val o = RdfaLite.mkLit(v, dt, lang)
              preds.foreach(p => triples += Triple(parent.item, p, o))
              true
            case _ => false
          }
          elemName match {
            case e if hrefElems(e) => iriVal("href")
            case e if srcElems(e) => iriVal("src")
            case "object" => iriVal("data")
            case "meta" => litVal("content", null)
            case "data" | "meter" => litVal("value", null)
            case "time" =>
              val dtm = attr("datetime")
              if (dtm != null) {
                val o = RdfaLite.mkLit(dtm, RdfaLite.inferDatatype(dtm), lang)
                preds.foreach(p => triples += Triple(parent.item, p, o))
              } else collector = new Collector(parent.item, preds, lang, isTime = true)
            case _ => collector = new Collector(parent.item, preds, lang, isTime = false)
          }
        }
      }

      stack += new Frame(
        if (hasScope) newItem else parent.item,
        if (hasScope) newVocab else parent.vocab,
        lang)
      collectors += collector
    }

    override def characters(ch: Array[Char], start: Int, length: Int): Unit = {
      // DOM textContent: every open collector sees every descendant
      // text node, nested collectors included
      var i = 0
      while (i < collectors.length) {
        if (collectors(i) != null) collectors(i).text.appendAll(ch, start, length)
        i += 1
      }
    }

    override def endElement(uri: String, localName: String, qName: String): Unit = {
      stack.remove(stack.length - 1)
      val c = collectors.remove(collectors.length - 1)
      if (c != null) {
        val lex = c.text.toString
        val dt = if (c.isTime) RdfaLite.inferDatatype(lex) else null
        val o = RdfaLite.mkLit(lex, dt, c.lang)
        c.preds.foreach(p => triples += Triple(c.subject, p, o))
      }
    }
  }
}
