package kgbench

import graft.pipeline.Page
import scala.collection.mutable

/** One expected triple in the pipeline's column encoding (the
  * `TripleRow` convention): IRIs and blank nodes carry null lang and
  * datatype; a plain literal carries both null; a language-tagged
  * literal carries its lower-case tag and rdf:langString; a typed
  * literal carries its datatype. Blank nodes are written `_:<label>`
  * with a label private to the page; the checker erases labels, so
  * the comparison holds up to blank-node renaming.
  */
final case class ExpTriple(subj: String, pred: String, obj: String, objKind: String,
    lang: String, datatype: String)

object ExpTriple {
  val rdfNs = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"
  val xsdNs = "http://www.w3.org/2001/XMLSchema#"
  val rdfType: String = rdfNs + "type"

  def iri(s: String, p: String, o: String): ExpTriple = ExpTriple(s, p, o, "iri", null, null)
  def bnode(s: String, p: String, label: String): ExpTriple = ExpTriple(s, p, "_:" + label, "bnode", null, null)
  def plain(s: String, p: String, lex: String): ExpTriple = ExpTriple(s, p, lex, "literal", null, null)
  def lang(s: String, p: String, lex: String, tag: String): ExpTriple =
    ExpTriple(s, p, lex, "literal", tag.toLowerCase, rdfNs + "langString")
  def typed(s: String, p: String, lex: String, dt: String): ExpTriple = ExpTriple(s, p, lex, "literal", null, dt)
}

/** What the generator planted in one page: the triples extraction must
  * yield (a set: a statement written twice is one triple), whether the
  * page must be counted as a parse error (its triples are then empty),
  * and the canonical text `Extract.extractText` must reproduce.
  */
final case class PageTruth(url: String, text: String, error: Boolean, triples: Set[ExpTriple])

/** A page outside the timed table that exposes a known program
  * defect: it is extracted off the clock after the timed runs and its
  * result reported on its own line, so the defect stays visible on
  * every run while the timed workload holds only operations that
  * succeed.
  */
final case class Probe(defect: String, page: Page, truth: PageTruth)

/** A generated workload: the page table rows plus their truth, the
  * shape parameters that produced them (reported, not used) and the
  * known-defect probes.
  */
final case class Workload(name: String, pages: Vector[Page], truth: Vector[PageTruth],
    shape: Seq[(String, Any)], probes: Vector[Probe] = Vector.empty) {

  lazy val expected: Expected = Expected.of(truth)
}

/** Whole-run expectations derived from the per-page truth with the
  * pipeline's documented rules, written out independently here:
  *   - alias dictionary: every IRI subject, keyed by the lower-cased
  *     last segment of the IRI after '#' becomes '/', kept when longer
  *     than two characters;
  *   - canonical map: one row per entity; entities merge exactly when
  *     their aliases are equal (the generator proves no two distinct
  *     aliases reach the 0.9 shingle-Jaccard merge threshold, so LSH
  *     misses cannot change the answer), and a component's canonical
  *     is its least entity IRI;
  *   - links: one per token position of the lower-cased page text
  *     (split on non-alphanumerics, longer than two characters) whose
  *     token is an alias;
  *   - edges: per page, the distinct triples with the subject, and an
  *     IRI object, rewritten to its canonical; adjacency holds the same
  *     rows;
  *   - nodes: every edge subject (a blank node is private to its page)
  *     with the number of edge rows it heads;
  *   - export: the distinct statements of the edge table.
  */
final case class Expected(
    pages: Int,
    errorPages: Int,
    triples: Long,
    entities: Int,
    components: Int,
    linksByUrl: Map[String, Long],
    canon: Map[String, String],
    edges: Vector[(String, ExpTriple)],
    nodes: Vector[(String, Long, Boolean)],
    statements: Set[ExpTriple]
) {
  def links: Long = linksByUrl.valuesIterator.sum
}

object Expected {

  def aliasOf(entity: String): String = {
    val segs = entity.replace('#', '/').split("/", -1)
    segs(segs.length - 1).toLowerCase
  }

  def tokens(text: String): Iterator[String] =
    text.toLowerCase.split("[^a-z0-9]+", -1).iterator.filter(_.length > 2)

  def of(truth: Vector[PageTruth]): Expected = {
    val entities = truth.iterator.filterNot(_.error).flatMap(_.triples.iterator.map(_.subj))
      .filterNot(_.startsWith("_:")).toSet.filter(e => aliasOf(e).length > 2)
    val aliases = entities.map(aliasOf)
    val near = Shingles.nearDuplicates(aliases.toSeq, 0.9)
    require(near.isEmpty,
      s"generator bug: distinct aliases reach the merge threshold, e.g. ${near.take(3).mkString(", ")}")
    val canon = entities.groupBy(aliasOf).valuesIterator.flatMap { group =>
      val least = group.min
      group.iterator.map(_ -> least)
    }.toMap
    val links = truth.iterator.map(p => p.url -> tokens(p.text).count(aliases).toLong)
      .filter(_._2 > 0).toMap
    val edges = truth.flatMap { p =>
      p.triples.map { t =>
        t.copy(subj = canon.getOrElse(t.subj, t.subj),
          obj = if (t.objKind == "iri") canon.getOrElse(t.obj, t.obj) else t.obj)
      }.toVector.map(p.url -> _)
    }
    // a blank node is private to its page: qualify its label by the url
    def scoped(url: String, term: String): String = if (term.startsWith("_:")) s"$term@$url" else term
    val nodes = edges.groupBy { case (url, t) => scoped(url, t.subj) }.iterator
      .map { case (subj, rows) => (subj, rows.size.toLong, subj.startsWith("_:")) }.toVector
    val statements = edges.iterator.map { case (url, t) =>
      t.copy(subj = scoped(url, t.subj), obj = if (t.objKind == "bnode") scoped(url, t.obj) else t.obj)
    }.toSet
    Expected(
      pages = truth.size,
      errorPages = truth.count(_.error),
      triples = truth.iterator.map(_.triples.size.toLong).sum,
      entities = entities.size,
      components = aliases.size,
      linksByUrl = links,
      canon = canon,
      edges = edges,
      nodes = nodes,
      statements = statements)
  }
}

/** Character-3-gram shingles (the canonicalizer's blocking key space)
  * and an exact near-duplicate finder by prefix filtering: two sets
  * with Jaccard >= t must share a token within the first
  * |x| - ceil(t|x|) + 1 tokens of each under one global token order,
  * so only pairs sharing a rare prefix token are compared.
  */
object Shingles {

  def of(alias: String): Array[String] =
    (0 to math.max(alias.length - 3, 0)).map(i => alias.substring(i, math.min(i + 3, alias.length)))
      .filter(_.length == 3).distinct.toArray

  def jaccard(a: Array[String], b: Array[String]): Double = {
    val sa = a.toSet
    val inter = b.count(sa)
    inter.toDouble / (sa.size + b.length - inter)
  }

  def nearDuplicates(aliases: Seq[String], t: Double): Seq[(String, String)] = {
    val sh = aliases.map(a => a -> of(a)).filter(_._2.nonEmpty)
    val freq = mutable.HashMap.empty[String, Int]
    sh.foreach(_._2.foreach(s => freq(s) = freq.getOrElse(s, 0) + 1))
    val order = Ordering.by((s: String) => (freq(s), s))
    val index = mutable.HashMap.empty[String, mutable.ArrayBuffer[Int]]
    val out = mutable.ArrayBuffer.empty[(String, String)]
    sh.zipWithIndex.foreach { case ((a, s), i) =>
      val sorted = s.sorted(order)
      val prefix = sorted.take(s.length - math.ceil(t * s.length).toInt + 1)
      val seen = mutable.HashSet.empty[Int]
      prefix.foreach { tok =>
        index.get(tok).foreach(_.foreach { j =>
          if (seen.add(j) && jaccard(s, sh(j)._2) >= t) out += ((sh(j)._1, a))
        })
      }
      prefix.foreach(tok => index.getOrElseUpdate(tok, mutable.ArrayBuffer.empty) += i)
    }
    out.toSeq
  }
}
