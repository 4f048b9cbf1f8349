package graft.xml

import graft.rdf._
import XmlOut.{Elem, Node, Text}

/** RDF/XML encoder mirroring the reference encoder's behavior
  * (/root/reference/lib/rdf/xml/encoder.ex): options `base`, `prefixes`,
  * `implicitBase`, `useRdfId`, `xmlDeclaration`, `producer`; sorted xmlns
  * declarations (optionally preceded by xml:base); one element per
  * subject description with the first qname-typed rdf:type as the
  * element name ("short form", encoder.ex:238-251); per-object statement
  * forms encoder.ex:290-324.
  *
  * Ordering inside the document is deterministic (the reference's order
  * falls out of Erlang map term order): descriptions sorted literals-
  * bnodes-IRIs by subject, predicates sorted by IRI, objects sorted
  * language-tagged literals first, then other literals, then blank
  * nodes, then IRIs.
  */
object RdfXmlEncoder {

  final case class EncodeError(message: String) extends Exception(message)

  final case class Options(
      base: Option[String] = None,
      prefixes: Option[Map[String, String]] = None,
      implicitBase: Boolean = false,
      useRdfId: (Term, Map[String, Seq[Term]]) => Boolean = (_, _) => false,
      xmlDeclaration: Boolean = true,
      /** description (subject) ordering hook — the reference's :producer
        * option (encoder.ex:29-47) reduced to its observable effect
        */
      producer: Option[RdfGraph => Seq[Term]] = None
  )

  val defaultPrefixes: Map[String, String] = Map(
    "rdf" -> Vocab.rdfNs,
    "rdfs" -> "http://www.w3.org/2000/01/rdf-schema#",
    "xsd" -> Vocab.xsdNs
  )

  def encode(graph: RdfGraph, opts: Options = Options()): Either[EncodeError, String] =
    try {
      val sb = new StringBuilder
      if (opts.xmlDeclaration) sb.append("<?xml version=\"1.0\" encoding=\"utf-8\"?>")
      XmlOut.write(document(graph, opts), sb)
      Right(sb.toString)
    } catch { case e: EncodeError => Left(e) }

  /** Lazy per-description stream (encoder.ex:94-123): prolog line, open
    * tag line, one line per description, close tag.
    */
  def stream(graph: RdfGraph, opts: Options = Options()): Iterator[String] = {
    val (base, prefixes) = baseAndPrefixes(graph, opts)
    val open = {
      val sb = new StringBuilder
      sb.append("<rdf:RDF")
      nsDeclarations(prefixes, base, opts.implicitBase).foreach { case (k, v) =>
        sb.append(' ').append(k).append("=\"").append(XmlOut.escape(v)).append('"')
      }
      sb.append(">\n")
      sb.toString
    }
    val decl = if (opts.xmlDeclaration) Iterator("<?xml version=\"1.0\" encoding=\"utf-8\"?>\n") else Iterator.empty
    decl ++ Iterator(open) ++
      orderedSubjects(graph, opts).iterator.map { subj =>
        XmlOut.write(description(subj, predications(graph, subj), base, prefixes, opts)) + "\n"
      } ++ Iterator("</rdf:RDF>")
  }

  // ------------------------------------------------------------- internals

  private def baseAndPrefixes(graph: RdfGraph, opts: Options): (Option[String], Map[String, String]) = {
    val base = opts.base.orElse(graph.base).map(stripFragment)
    val prefixes = opts.prefixes.getOrElse(if (graph.prefixes.nonEmpty) graph.prefixes else defaultPrefixes)
    (base, prefixes)
  }

  /** encoder.ex:142-145 — fragment always stripped from the base. */
  private def stripFragment(iri: String): String = {
    val i = iri.indexOf('#')
    if (i >= 0) iri.substring(0, i) else iri
  }

  private def nsDeclarations(prefixes: Map[String, String], base: Option[String], implicitBase: Boolean): Seq[(String, String)] = {
    val ns = prefixes.toSeq.sortBy(_._1).map {
      case ("", v) => ("xmlns", v)
      case (p, v) => (s"xmlns:$p", v)
    }
    base match {
      case Some(b) if !implicitBase => ("xml:base", b) +: ns
      case _ => ns
    }
  }

  private def document(graph: RdfGraph, opts: Options): Elem = {
    val (base, prefixes) = baseAndPrefixes(graph, opts)
    val children = orderedSubjects(graph, opts).map { subj =>
      description(subj, predications(graph, subj), base, prefixes, opts)
    }
    Elem("rdf:RDF", nsDeclarations(prefixes, base, opts.implicitBase).toList, children.toList)
  }

  private def subjectSortKey(t: Term): (Int, String) = t match {
    case Lit(lex, _, _) => (0, lex)
    case BNode(l) => (1, l)
    case Iri(v) => (2, v)
  }

  private def orderedSubjects(graph: RdfGraph, opts: Options): Seq[Term] =
    opts.producer match {
      case Some(f) => f(graph)
      case None => graph.triples.map(_.s).toSeq.distinct.sortBy(subjectSortKey)
    }

  private def objectSortKey(t: Term): (Int, String, String, String) = t match {
    case Lit(lex, dt, lang) if lang.nonEmpty => (0, lang, lex, dt)
    case Lit(lex, dt, _) => (1, dt, lex, "")
    case BNode(l) => (2, l, "", "")
    case Iri(v) => (3, v, "", "")
  }

  private def predications(graph: RdfGraph, subj: Term): Seq[(String, Seq[Term])] =
    graph.triples.toSeq
      .filter(_.s == subj)
      .groupBy(t => t.p.asInstanceOf[Iri].value)
      .toSeq
      .sortBy(_._1)
      .map { case (p, ts) => (p, ts.map(_.o).distinct.sortBy(objectSortKey)) }

  private def description(
      subj: Term,
      preds: Seq[(String, Seq[Term])],
      base: Option[String],
      prefixes: Map[String, String],
      opts: Options
  ): Elem = {
    // type short form (encoder.ex:238-251): first rdf:type object with a
    // known qname becomes the element name and is dropped
    val typeObjs = preds.collectFirst { case (Vocab.rdfType, objs) => objs }.getOrElse(Seq.empty)
    val shortForm = typeObjs.collectFirst {
      case o @ Iri(v) if qname(v, prefixes).isDefined => (qname(v, prefixes).get, o)
    }
    val effPreds = shortForm match {
      case Some((_, typeObj)) =>
        preds.flatMap {
          case (Vocab.rdfType, objs) =>
            val rest = objs.filterNot(_ == typeObj)
            if (rest.isEmpty) None else Some((Vocab.rdfType, rest))
          case other => Some(other)
        }
      case None => preds
    }
    val name = shortForm.map(_._1).getOrElse("rdf:Description")
    val predsMap: Map[String, Seq[Term]] = preds.toMap
    val idAttr: (String, String) = subj match {
      case BNode(l) => ("rdf:nodeID", l)
      case Iri(v) =>
        val stripped = attrValUri(v, base)
        if (opts.useRdfId(subj, predsMap) && stripped.startsWith("#")) ("rdf:ID", stripped.substring(1))
        else ("rdf:about", stripped)
      case _ => throw EncodeError(s"invalid subject: $subj")
    }
    Elem(name, List(idAttr), effPreds.flatMap { case (p, objs) => objs.map(statement(p, _, base, prefixes)) }.toList)
  }

  private def statement(predicate: String, obj: Term, base: Option[String], prefixes: Map[String, String]): Node = {
    val pname = qname(predicate, prefixes).getOrElse(
      throw EncodeError(s"no namespace declaration for property $predicate found"))
    obj match {
      case Iri(v) => Elem(pname, List(("rdf:resource", attrValUri(v, base))), Nil)
      case BNode(l) => Elem(pname, List(("rdf:nodeID", l)), Nil)
      case Lit(lex, Vocab.rdfXmlLiteral, _) =>
        // raw lexical embed (encoder.ex:300-306) — round-trips through the
        // decoder's raw character joining
        Elem(pname, List(("rdf:parseType", "Literal")), List(XmlOut.Raw(lex)))
      case Lit(lex, _, lang) if lang.nonEmpty =>
        Elem(pname, List(("xml:lang", lang)), List(Text(lex)))
      case Lit(lex, Vocab.xsdString, _) => Elem(pname, Nil, List(Text(lex)))
      case Lit(lex, dt, _) => Elem(pname, List(("rdf:datatype", attrValUri(dt, base))), List(Text(lex)))
    }
  }

  /** encoder.ex:326-331 — strip the base as a string PREFIX only. */
  private def attrValUri(iri: String, base: Option[String]): String = base match {
    case Some(b) if iri.startsWith(b) => iri.substring(b.length)
    case _ => iri
  }

  /** encoder.ex:333-339 — IRI to prefixed name via the prefix map;
    * longest matching namespace wins; default prefix yields a bare name.
    */
  def qname(iri: String, prefixes: Map[String, String]): Option[String] = {
    val candidates = prefixes.toSeq
      .filter { case (_, ns) => iri.startsWith(ns) && iri.length > ns.length }
      .map { case (p, ns) => (p, iri.substring(ns.length)) }
      // the local part must be an NCName (non-ASCII letters included)
      // or the emitted element name is invalid XML (e.g. urn:isbn:123 →
      // local "123"); such predicates are unprefixable → EncodeError
      // upstream, surfaced by KgPipeline.exportRdfXml as an explicit
      // skip comment
      .filter { case (_, local) => graft.rdf.Iris.isNCName(local) }
    if (candidates.isEmpty) None
    else {
      val (p, local) = candidates.maxBy { case (pfx, _) => prefixes(pfx).length }
      Some(if (p.isEmpty) local else s"$p:$local")
    }
  }
}
