package graft.pipeline

import graft.rdf.{BNode, Iri, Lit, Triple, Vocab}
import graft.xml.{JsonLd, Microdata, RdfXmlParser, RdfaLite}
import org.apache.spark.TaskContext
import org.apache.spark.sql.{Dataset, SparkSession}

/** Stage 1 — triple extraction: Dataset[Page] → Dataset[TripleRow] (+
  * per-partition lineage). The full RDF/XML state machine (graft.xml)
  * runs INSIDE the row — one document never spans executors; control
  * crosses executor boundaries only at stage shuffles (SURVEY.md §3).
  *
  * Scale notes:
  *   - callers must `select(url, html)` before the typed map — Catalyst
  *     cannot prune columns through DeserializeToObject, so we prune
  *     manually (SURVEY.md §4).
  *   - a failed page contributes 0 triples and a parse-error count; the
  *     job never dies on one bad page (reference aborts the *document*,
  *     event_handler.ex:11-16 — we abort the *row*).
  *   - blank-node labels are scoped per url (`b0@<urlhash>`) so the
  *     cross-document union is safe, mirroring the reference's
  *     per-decode-call counter scope (grammar.ex:19).
  */
object Extract {

  /** RDF/XML island detection: whole-document RDF/XML, or the first
    * <script type="application/rdf+xml"> island inside HTML.
    */
  def detectIsland(html: String): Option[String] =
    detectIslandBytes(html.getBytes("UTF-8")).map { case (b, off, len) => new String(b, off, len, "UTF-8") }

  private val islandMarker = "<script type=\"application/rdf+xml\">".getBytes("US-ASCII")
  private val islandClose = "</script>".getBytes("US-ASCII")
  private val bareStarts = Seq("<?xml", "<rdf:RDF", "<!--").map(_.getBytes("US-ASCII"))

  private def startsWithAt(h: Array[Byte], off: Int, pat: Array[Byte]): Boolean = {
    if (off + pat.length > h.length) return false
    var i = 0
    while (i < pat.length) { if (h(off + i) != pat(i)) return false; i += 1 }
    true
  }

  private def byteIndexOf(h: Array[Byte], pat: Array[Byte], from: Int): Int = {
    var i = from
    val max = h.length - pat.length
    while (i <= max) {
      if (h(i) == pat(0) && startsWithAt(h, i, pat)) return i
      i += 1
    }
    -1
  }

  /** ONE-pass ASCII-case-insensitive scan for BOTH island markers —
    * the pre-filters must accept ITEMSCOPE / application/LD+JSON pages
    * because the downstream tokenizers are case-insensitive; a
    * case-sensitive scan would silently skip them (recall gap, no
    * error row). Hot-path discipline: the common case (markerless
    * crawl page) pays exactly one pass with two equality compares per
    * byte (first-byte check in both cases, no per-byte fold) — the
    * naive two-pass fold-every-byte variant measured ~13% on whole-
    * pipeline extraction throughput.
    */
  private def scanMarkersCi(h: Array[Byte]): (Boolean, Boolean) = {
    @inline def fold(b: Byte): Byte = if (b >= 'A' && b <= 'Z') (b + 32).toByte else b
    val m = microdataMarker; val j = jsonldMarker
    val m0 = m(0); val m0u = (m0 - 32).toByte
    val j0 = j(0); val j0u = (j0 - 32).toByte
    var md = false; var jl = false
    var i = 0
    val n = h.length
    while (i < n && !(md && jl)) {
      val b = h(i)
      if (!md && (b == m0 || b == m0u) && i + m.length <= n) {
        var k = 1
        while (k < m.length && fold(h(i + k)) == m(k)) k += 1
        if (k == m.length) md = true
      }
      if (!jl && (b == j0 || b == j0u) && i + j.length <= n) {
        var k = 1
        while (k < j.length && fold(h(i + k)) == j(k)) k += 1
        if (k == j.length) jl = true
      }
      i += 1
    }
    (md, jl)
  }

  /** Byte-level island detection — the hot path never materializes the
    * full document as a String (per-page allocation matters at 100 TB).
    * Returns (buffer, offset, length) of the RDF/XML island.
    */
  def detectIslandBytes(html: Array[Byte]): Option[(Array[Byte], Int, Int)] = {
    var off = 0
    while (off < html.length && Character.isWhitespace(html(off).toChar)) off += 1
    if (bareStarts.exists(p => startsWithAt(html, off, p))) Some((html, 0, html.length))
    else {
      val start = byteIndexOf(html, islandMarker, 0)
      if (start < 0) None
      else {
        val body = start + islandMarker.length
        val end = byteIndexOf(html, islandClose, body)
        if (end < 0) None else Some((html, body, end - body))
      }
    }
  }

  /** Canonical text extraction — must be byte-identical to Page.text:
    * bare RDF documents extract to ""; HTML pages extract the
    * concatenated <p> contents.
    */
  def extractText(html: String): String = {
    val trimmed = html.dropWhile(Character.isWhitespace)
    if (!trimmed.startsWith("<!DOCTYPE html>") && !trimmed.startsWith("<html")) ""
    else {
      val sb = new StringBuilder
      var from = 0
      var first = true
      while ({ val i = html.indexOf("<p>", from); i >= 0 && { from = i; true } }) {
        val end = html.indexOf("</p>", from)
        if (end < 0) from = html.length
        else {
          if (!first) sb.append('\n')
          sb.append(html.substring(from + 3, end))
          first = false
          from = end + 4
        }
      }
      sb.toString
    }
  }

  private val scopeDigest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** Scope bnode labels by url so triples from different documents never
    * collide after union (graph-merge safety at 100 TB). 128-bit md5 of
    * the url: at the 10^12-document design scale a 32-bit scope makes
    * collisions statistically certain (first collision ~77k docs) and
    * even 64 bits leaves ~10^4 expected collisions; 128 bits puts the
    * expectation at ~1e-14. Thread-local digest — no per-doc factory.
    */
  def urlScope(url: String): String = {
    val md = scopeDigest.get()
    md.reset()
    val h = md.digest(url.getBytes("UTF-8"))
    val sb = new java.lang.StringBuilder(32)
    var i = 0
    while (i < h.length) {
      sb.append(Character.forDigit((h(i) >> 4) & 0xf, 16))
      sb.append(Character.forDigit(h(i) & 0xf, 16))
      i += 1
    }
    sb.toString
  }

  /** The term → row codec, shared by every triple source: a term's
    * (value, kind, lang, datatype) columns, bnode labels scoped by
    * `scope`, xsd:string implied by a null datatype.
    */
  private[graft] def termToColumns(t: graft.rdf.Term, scope: String): (String, String, String, String) = t match {
    case Iri(v) => (v, "iri", null, null)
    case BNode(l) => (s"_:$l@$scope", "bnode", null, null)
    case Lit(lex, dt, lang) =>
      (lex, "literal", if (lang.isEmpty) null else lang, if (dt == Vocab.xsdString && lang.isEmpty) null else dt)
  }

  private val rdfaMarker = "<div vocab=".getBytes("US-ASCII")
  private val divOpen = "<div".getBytes("US-ASCII")
  private val divClose = "</div>".getBytes("US-ASCII")

  /** RDFa island: from `<div vocab=` to its matching `</div>` (nesting-
    * aware byte scan). Returns (offset, endExclusive).
    */
  def detectRdfaBytes(html: Array[Byte]): Option[(Int, Int)] = {
    val start = byteIndexOf(html, rdfaMarker, 0)
    if (start < 0) return None
    var depth = 1
    var i = start + divOpen.length
    while (i < html.length && depth > 0) {
      if (startsWithAt(html, i, divClose)) { depth -= 1; i += divClose.length }
      else if (startsWithAt(html, i, divOpen)) { depth += 1; i += divOpen.length }
      else i += 1
    }
    if (depth == 0) Some((start, i)) else None
  }

  private[graft] def toRow(t: Triple, url: String, scope: String): TripleRow = {
    val (sv, _, _, _) = termToColumns(t.s, scope)
    val (pv, _, _, _) = termToColumns(t.p, scope)
    val (ov, ok, lang, dt) = termToColumns(t.o, scope)
    TripleRow(url, sv, pv, ov, ok, lang, dt)
  }

  private[graft] def toRows(triples: Iterable[Triple], url: String, scope: String): Iterator[TripleRow] =
    triples.iterator.map(toRow(_, url, scope))

  def triplesOf(url: String, html: Array[Byte]): Either[String, Vector[TripleRow]] = {
    val scope = urlScope(url)
    val xmlPart: Either[String, Iterator[TripleRow]] = detectIslandBytes(html) match {
      case None => Right(Iterator.empty)
      case Some((buf, off, len)) =>
        RdfXmlParser.parseBytesRaw(buf, off, len, Some(url)) match {
          case Left(e) => Left(e.message)
          case Right(ts) => Right(toRows(ts, url, scope))
        }
    }
    xmlPart.map { xmlRows =>
      val rdfaRows = detectRdfaBytes(html) match {
        case Some((off, end)) =>
          RdfaLite.parseBytes(html, off, end - off, Some(url)) match {
            case Right(ts) => toRows(ts, url, scope)
            case Left(_) => Iterator.empty // malformed island: skip, not fatal
          }
        case None => Iterator.empty
      }
      // microdata / JSON-LD islands: byte-marker pre-filter first, so
      // pages without them (the overwhelming majority of any crawl
      // slice) never pay the String conversion or a second scan; the
      // String materializes at most once for both
      val (mdHit, jlHit) = scanMarkersCi(html)
      lazy val htmlStr = new String(html, "UTF-8")
      val mdRows =
        if (!mdHit) Iterator.empty
        else toRows(Microdata.parse(htmlStr, Some(url)), url, scope)
      val jlRows =
        if (!jlHit) Iterator.empty
        else toRows(JsonLd.parseHtml(htmlStr, Some(url)), url, scope)
      (xmlRows ++ rdfaRows ++ mdRows ++ jlRows).toVector
    }
  }

  private val microdataMarker = Microdata.marker.getBytes("US-ASCII")
  private val jsonldMarker = JsonLd.marker.getBytes("US-ASCII")

  /** Single-pass extraction emitting triples AND a per-partition lineage
    * tail row. Persist the result once, then split by kind (KgPipeline);
    * at 100 TB this is one scan of the page table, not two.
    */
  def run(pages: Dataset[Page]): Dataset[ExtractOut] = {
    val spark = pages.sparkSession
    import spark.implicits._
    // manual column pruning before leaving Catalyst land
    val slim = pages.select($"url", $"html").as[(String, Array[Byte])]
    slim.mapPartitions { it =>
      val t0 = System.nanoTime()
      val pid = TaskContext.getPartitionId()
      var pageCount = 0L
      var tripleCount = 0L
      var errCount = 0L
      var firstUrl: String = null
      var lastUrl: String = null
      val body = it.flatMap { case (url, html) =>
        pageCount += 1
        if (firstUrl == null) firstUrl = url
        lastUrl = url
        triplesOf(url, html) match {
          case Right(ts) =>
            tripleCount += ts.size
            ts.iterator.map(t => ExtractOut(Some(t), None))
          case Left(_) =>
            errCount += 1
            Iterator.empty
        }
      }
      body ++ new Iterator[ExtractOut] {
        private var done = false
        def hasNext: Boolean = !done
        def next(): ExtractOut = {
          done = true
          val wallMs = (System.nanoTime() - t0) / 1000000
          ExtractOut(None, Some(LineageRow(
            "extract", pid, s"$firstUrl..$lastUrl", pageCount, tripleCount, errCount, wallMs)))
        }
      }
    }
  }
}
