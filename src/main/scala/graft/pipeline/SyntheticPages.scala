package graft.pipeline

import org.apache.spark.sql.{Dataset, SparkSession}
import java.nio.file.{FileSystemAlreadyExistsException, FileSystems, Files, Path, Paths}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** Deterministic synthetic Common-Crawl-style page table (FIXTURES.md §1).
  *
  * Every page embeds one document of the hand-written RDF/XML fixture
  * corpus that ships on the classpath under `graft/fixtures/`
  * (FIXTURES.md §3) — either verbatim as the whole body
  * (application/rdf+xml case) or wrapped as an island inside minimal
  * HTML boilerplate. `url` identifies fixture and copy; `warc_ts` is a
  * fixed epoch + row index; `text` is the page's canonical extracted
  * text, which [[Extract.extractText]] must reproduce byte-identically.
  * No wall clock, no randomness, no external data: content is a pure
  * function of (fixture bytes, copy index), the same on every machine.
  */
object SyntheticPages {

  /** Root of the fixture corpus on the classpath: a directory when the
    * classes are unpacked, a directory inside the jar when packaged.
    */
  lazy val fixtureRoot: Path = {
    val url = getClass.getResource("/graft/fixtures")
    require(url != null, "fixture corpus graft/fixtures is not on the classpath")
    val uri = url.toURI
    if (uri.getScheme == "jar")
      try FileSystems.newFileSystem(uri, java.util.Collections.emptyMap[String, Any]())
      catch { case _: FileSystemAlreadyExistsException => }
    Paths.get(uri)
  }
  private val epochMs = 1704067200000L // 2024-01-01T00:00:00Z, fixed

  private val langs = Array("en", "de", "fr", "es", "zh")

  /** Every `.rdf` document of the corpus as (path relative to the
    * corpus root, bytes), sorted by path. Negative `error*.rdf` inputs
    * are included — the pipeline must count them as parse errors, not die.
    */
  def fixtureFiles(): Seq[(String, Array[Byte])] =
    Files.walk(fixtureRoot).iterator().asScala
      .filter(p => p.toString.endsWith(".rdf"))
      .map(p => (fixtureRoot.relativize(p).toString, p))
      .toSeq
      .sortBy(_._1)
      .map { case (rel, p) => (rel, Files.readAllBytes(p)) }

  /** Deterministic pseudo-text for a page, derived from its URL only. */
  def pageText(url: String): String = {
    val words = Array("graph", "knowledge", "entity", "triple", "crawl", "page", "linked",
      "data", "resource", "predicate", "subject", "object", "schema", "web", "semantic")
    var h = url.hashCode.toLong & 0xffffffffL
    val n = 8 + (h % 17).toInt
    val sb = new StringBuilder
    var i = 0
    while (i < n) {
      h = h * 6364136223846793005L + 1442695040888963407L
      if (i > 0) sb.append(' ')
      sb.append(words(((h >>> 33) % words.length).toInt))
      i += 1
    }
    sb.append('.').toString
  }

  /** Deterministic RDFa-Lite island for a page (every 4th copy): three
    * known triples about `url#thing`.
    */
  def rdfaIsland(url: String): String =
    s"""<div vocab="http://schema.org/" prefix="ex: http://test.example/vocab#">
       |<section about="$url#thing" typeof="Article">
       |<span property="name">Article ${math.abs(url.hashCode) % 1000}</span>
       |<a property="ex:link" href="http://test.example/other">link</a>
       |</section>
       |</div>""".stripMargin

  /** Build one page. Even copies embed the fixture verbatim (bare
    * application/rdf+xml body, empty text); odd copies wrap it as an HTML
    * island with the canonical text in <p> elements; copy%4==3 pages
    * additionally carry an RDFa-Lite island.
    */
  def page(relPath: String, rdfBytes: Array[Byte], copy: Int, rowIdx: Long): Page = {
    val url = s"http://test.example/$relPath?copy=$copy"
    val lang = langs((math.abs(url.hashCode) % langs.length))
    if (copy % 2 == 0) {
      Page(url, new Timestamp(epochMs + rowIdx), rdfBytes, "", lang)
    } else {
      val text = pageText(url)
      val rdf = new String(rdfBytes, "UTF-8")
      // strip an XML declaration: illegal mid-document once embedded
      val body = rdf.replaceFirst("^\\s*<\\?xml[^>]*\\?>", "")
      val rdfa = if (copy % 4 == 3) rdfaIsland(url) + "\n" else ""
      val html =
        s"""<!DOCTYPE html><html><head><title>$relPath</title></head><body>
           |<p>$text</p>
           |$rdfa<script type="application/rdf+xml">$body</script>
           |</body></html>""".stripMargin
      Page(url, new Timestamp(epochMs + rowIdx), html.getBytes("UTF-8"), text, lang)
    }
  }

  /** Page table with ~`copies` copies of every fixture. Parallelized as a
    * Dataset so generation itself scales out (each task materializes only
    * its slice); fixture bytes ship once per executor via the closure.
    */
  def pages(spark: SparkSession, copies: Int, numPartitions: Int = 32): Dataset[Page] = {
    import spark.implicits._
    val fixtures = fixtureFiles().toVector
    val total = fixtures.size.toLong * copies
    spark.range(0, total, 1, numPartitions).map { idx =>
      val fi = (idx % fixtures.size).toInt
      val copy = (idx / fixtures.size).toInt
      val (rel, bytes) = fixtures(fi)
      page(rel, bytes, copy, idx)
    }
  }
}
