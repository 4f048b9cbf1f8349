package kgbench

import graft.pipeline.Extract
import graft.rdf.{BNode, Iri, Lit, Term, Vocab}
import graft.xml.RdfXmlParser
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.hashing.MurmurHash3

/** The outputs of one pipeline run the checker reads, plus the
  * directory its edges were exported to.
  */
final case class RunOutputs(triples: DataFrame, links: DataFrame, canonicalMap: DataFrame, edges: DataFrame,
    nodes: DataFrame, adjacency: DataFrame, metrics: DataFrame, export: Path)

/** A checked run: pages attempted, pages whose output disagrees with
  * the truth, plus mismatches that cannot be pinned to one page (the
  * parse-error sum, the canonical map, the node table, the export),
  * each counted as one failed page; never more failures than pages
  * attempted.
  */
final case class Verdict(attempted: Long, failedUrls: Set[String], unattributed: Long, notes: Seq[String]) {
  def failed: Long = math.min(failedUrls.size + unattributed, math.max(attempted, 1))
  def ok: Boolean = failed == 0
}

/** Off-clock checker of a pipeline run against the generator's truth.
  *
  * The triples, edges and adjacency tables are compared per page as
  * (row count, sum of a 64-bit hash of each row with blank-node labels
  * erased): a dropped, added, altered or duplicated row changes the
  * page's fingerprint. The node table is compared the same way as a
  * whole, with each node's out-degree in its hash. Links are compared
  * per page by count; the canonical map row by row. The lineage
  * parse-error and page sums are compared whole. The exported RDF/XML
  * is re-parsed and its statements compared, as a set, with the
  * distinct statements of the expected edges.
  */
final class Checker(spark: SparkSession, w: Workload) {
  import spark.implicits._

  private val exp = w.expected

  private def rowsDF(rows: Iterator[(String, ExpTriple)]): DataFrame =
    rows.map { case (url, t) => (url, t.subj, t.pred, t.obj, t.objKind, t.lang, t.datatype) }.toSeq
      .toDF("url", "subj", "pred", "obj", "objKind", "lang", "datatype")

  private val expectedTriples = Checker.fingerprints(rowsDF(w.truth.iterator.flatMap(p => p.triples.iterator.map(p.url -> _))))
  private val expectedEdges = Checker.fingerprints(rowsDF(exp.edges.iterator))
  private val expectedNodes = Checker.nodePrint(exp.nodes.toDF("subj", "outDegree", "isBlank"))
  private val expectedStatements = Checker.statementPrint(exp.statements.iterator)

  /** Pages whose canonical text `Extract.extractText` does not reproduce. */
  val textFailures: Set[String] = w.pages.iterator.zip(w.truth.iterator)
    .filter { case (p, t) => Extract.extractText(new String(p.html, "UTF-8")) != t.text }
    .map(_._2.url).toSet

  def check(out: RunOutputs): Verdict = {
    def badPages(want: Map[String, (Long, BigDecimal)], table: DataFrame): Set[String] = {
      val got = Checker.fingerprints(table)
      (want.keySet ++ got.keySet).filter(u => want.get(u) != got.get(u))
    }
    val tripleBad = badPages(expectedTriples, out.triples)
    val edgeBad = badPages(expectedEdges, out.edges)
    val adjacencyBad = badPages(expectedEdges, out.adjacency)
    val linksActual = out.links.groupBy("url").count().as[(String, Long)].collect().toMap
    val linkBad = (exp.linksByUrl.keySet ++ linksActual.keySet)
      .filter(u => exp.linksByUrl.get(u) != linksActual.get(u))
    val lin = out.metrics.where(col("stage") === "extract")
      .agg(coalesce(sum("parseErrorCount"), lit(0L)), coalesce(sum("pages"), lit(0L))).head()
    val (errs, linPages) = (lin.getLong(0), lin.getLong(1))
    val canon = out.canonicalMap.select("entity", "canon").as[(String, String)].collect()
    val canonWrong = canon.count { case (e, c) => !exp.canon.get(e).contains(c) } +
      (exp.canon.keySet -- canon.iterator.map(_._1)).size
    val diffs = Seq(
      ("lineage parse errors", errs, exp.errorPages.toLong),
      ("lineage pages", linPages, exp.pages.toLong),
      ("canonical map entities", canon.length.toLong, exp.entities.toLong),
      ("canonical components", canon.iterator.map(_._2).toSet.size.toLong, exp.components.toLong),
      ("canonical map rows wrong or missing", canonWrong.toLong, 0L),
      ("node table (rows, hash)", Checker.nodePrint(out.nodes), expectedNodes),
      ("export statements (count, hash)", Checker.exportPrint(out.export), expectedStatements))
      .filter(d => d._2 != d._3)
    def pages(what: String, bad: Set[String]): Seq[String] =
      if (bad.isEmpty) Nil else Seq(s"${bad.size} pages with wrong $what, e.g. ${bad.take(3).mkString(" ")}")
    val notes = pages("triples", tripleBad) ++ pages("edges", edgeBad) ++ pages("adjacency rows", adjacencyBad) ++
      pages("link counts", linkBad) ++
      (if (textFailures.nonEmpty) Seq(s"${textFailures.size} pages whose extracted text differs") else Nil) ++
      diffs.map { case (what, got, want) => s"$what: got $got, expected $want" }
    Verdict(exp.pages, tripleBad ++ edgeBad ++ adjacencyBad ++ linkBad ++ textFailures, diffs.size, notes)
  }
}

object Checker {

  /** Whether `Extract.triplesOf` gives a probe page exactly its
    * expected triples, none of them repeated (blank-node labels
    * erased), or fails exactly when the page must count as an error.
    */
  def probeOk(p: Probe): Boolean = {
    def key(fields: String*): String =
      fields.map(f => if (f == null) "\u0000" else f).mkString("\u0001")
    def erased(subj: String, pred: String, obj: String, kind: String, lang: String, dt: String): String =
      key(if (subj.startsWith("_:")) "_:" else subj, pred, if (kind == "bnode") "_:" else obj, kind, lang, dt)
    Extract.triplesOf(p.page.url, p.page.html) match {
      case Left(_) => p.truth.error
      case Right(rows) =>
        !p.truth.error && rows.map(t => erased(t.subj, t.pred, t.obj, t.objKind, t.lang, t.datatype)).sorted ==
          p.truth.triples.toVector.map(t => erased(t.subj, t.pred, t.obj, t.objKind, t.lang, t.datatype)).sorted
    }
  }

  private val none = lit("\u0000")
  private def erased(c: String) = when(col(c).startsWith("_:"), lit("_:")).otherwise(col(c))

  /** Per-url (rows, hash sum) of a triples-shaped table, blank-node labels erased. */
  def fingerprints(triples: DataFrame): Map[String, (Long, BigDecimal)] = {
    val h = xxhash64(
      erased("subj"),
      col("pred"),
      when(col("objKind") === "bnode", lit("_:")).otherwise(col("obj")),
      col("objKind"), coalesce(col("lang"), none), coalesce(col("datatype"), none))
    triples.groupBy("url").agg(count(lit(1)), sum(h.cast("decimal(38,0)")))
      .collect().iterator.map(r => r.getString(0) -> (r.getLong(1), BigDecimal(r.getDecimal(2)))).toMap
  }

  /** (rows, hash sum) of a node table, blank-node labels erased. */
  def nodePrint(nodes: DataFrame): (Long, BigDecimal) = {
    val h = xxhash64(erased("subj"), col("outDegree").cast("long"), col("isBlank"))
    val r = nodes.agg(count(lit(1)), coalesce(sum(h.cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))).head()
    (r.getLong(0), BigDecimal(r.getDecimal(1)))
  }

  /** (statements, hash sum) of a set of statements, blank-node labels erased. */
  def statementPrint(statements: Iterator[ExpTriple]): (Long, BigDecimal) = {
    var n = 0L
    var sum = BigDecimal(0)
    statements.foreach { t =>
      val key = (if (t.subj.startsWith("_:")) "_:" else t.subj, t.pred,
        if (t.objKind == "bnode") "_:" else t.obj, t.objKind, t.lang, t.datatype)
      n += 1
      sum += (MurmurHash3.productHash(key, 17).toLong << 32) ^ (MurmurHash3.productHash(key, 91) & 0xffffffffL)
    }
    (n, sum)
  }

  private def column(t: Term): (String, String, String, String) = t match {
    case Iri(v) => (v, "iri", null, null)
    case BNode(l) => ("_:" + l, "bnode", null, null)
    case Lit(lex, dt, lang) =>
      (lex, "literal", if (lang.isEmpty) null else lang, if (dt == Vocab.xsdString && lang.isEmpty) null else dt)
  }

  /** Re-parse every part file of an RDF/XML export (one blank-node
    * namespace per file: each parse numbers its own) into one set of
    * statements; an unparsable file yields a count of -1.
    */
  def exportPrint(dir: Path): (Long, BigDecimal) = {
    val files = Files.list(dir).iterator().asScala.filter(_.getFileName.toString.startsWith("part-")).toVector
    val parsed = mutable.HashSet.empty[graft.rdf.Triple]
    var unparsable = false
    files.zipWithIndex.foreach { case (f, i) =>
      val bytes = Files.readAllBytes(f)
      if (bytes.nonEmpty) RdfXmlParser.parseBytes(bytes, None, s"f${i}x") match {
        case Right(g) => parsed ++= g.triples
        case Left(_) => unparsable = true
      }
    }
    if (unparsable) (-1L, BigDecimal(0))
    else statementPrint(parsed.iterator.map { t =>
      val (s, _, _, _) = column(t.s)
      val (p, _, _, _) = column(t.p)
      val (o, kind, lang, dt) = column(t.o)
      ExpTriple(s, p, o, kind, lang, dt)
    })
  }
}
