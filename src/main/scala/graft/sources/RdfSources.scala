package graft.sources

import graft.pipeline.{Extract, QuadRow, TripleRow}
import graft.rdf.NTriples
import graft.xml.RdfXmlParser
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed RDF sources and sinks — the Spark equivalents of the
  * reference's `RDF.XML.read_file!` / `write_file!` and its NTriples
  * test oracle (/root/reference/lib/rdf/xml.ex, serialization format
  * entry points).
  *
  *   - rdfXmlFiles: a directory/glob of .rdf documents → triple rows,
  *     parsed in parallel via Spark's binaryFile source (one document
  *     per row; file path becomes the base IRI and graph scope).
  *   - nTriplesFile: line-oriented N-Triples → triple rows (text
  *     source splits by line, so a single huge .nt file parallelizes).
  *   - writeNTriples: triple rows → N-Triples text, serialized columnar
  *     (concat of escaped term columns — whole-stage codegen, no UDF).
  */
object RdfSources {

  /** Parse every RDF/XML file under `pathGlob` into triple rows. */
  def rdfXmlFiles(spark: SparkSession, pathGlob: String, bnodePrefix: String = "b"): Dataset[TripleRow] = {
    import spark.implicits._
    spark.read.format("binaryFile").load(pathGlob)
      .select(col("path"), col("content"))
      .as[(String, Array[Byte])]
      .flatMap { case (path, bytes) =>
        RdfXmlParser.parseBytesRaw(bytes, 0, bytes.length, Some(fileBase(path)), bnodePrefix) match {
          case Right(ts) => Extract.toRows(ts, path, Extract.urlScope(path))
          case Left(_) => Iterator.empty // malformed file: contributes nothing
        }
      }
  }

  private def fileBase(path: String): String =
    if (graft.rdf.Iris.isAbsolute(path)) path else "file://" + path

  /** Parse an N-Triples file (or glob) into triple rows. The per-row
    * `url` is the actual source file (input_file_name), and blank nodes
    * are scoped per file — equal labels from different .nt files under
    * one glob must NOT be conflated after union (same per-document
    * bnode-scope contract as rdfXmlFiles). Malformed lines are dropped,
    * not fatal: one bad line must never fail a 100 TB job.
    */
  def nTriplesFile(spark: SparkSession, path: String): Dataset[TripleRow] = {
    import spark.implicits._
    spark.read.text(path)
      .select(input_file_name().as("file"), col("value"))
      .as[(String, String)]
      .mapPartitions { it =>
        // scope memo: a partition reads long runs of one file
        var lastFile: String = null
        var lastScope: String = null
        it.flatMap { case (file, raw) =>
          val line = raw.trim
          if (line.isEmpty || line.startsWith("#")) Iterator.empty
          else scala.util.Try {
            if (file != lastFile) {
              lastFile = file
              lastScope = Extract.urlScope(file)
            }
            Extract.toRow(NTriples.parse(line).head, file, lastScope)
          }.toOption.iterator
        }
      }
  }

  /** One N-Triples line as a codegen'd Column over the standard triple
    * columns (escaping via chained translations of \\ " and newlines).
    * Blank-node labels are mangled NCName/PN_CHARS-safe at this export
    * boundary (same bijective 'x'→"xx", '@'→"xa" coding as
    * [[graft.rdf.Iris.ncSafeLabel]] — internal scoped labels carry '@',
    * which is illegal in the N-Triples BLANK_NODE_LABEL production).
    */
  def nTriplesLineCol: org.apache.spark.sql.Column =
    concat(tripleBodyCol, lit(" ."))

  /** One N-Quads line: the triple body plus the graph term (IRI or
    * mangled bnode label; a NULL `graph` column = default graph, which
    * serializes in triple form — the N-Quads grammar's optional
    * graphLabel). Same codegen'd column algebra as the triple sink.
    */
  def nQuadsLineCol: org.apache.spark.sql.Column = {
    val gTerm = when(col("graph").startsWith("_:"), bnodeSafeCol(col("graph")))
      .otherwise(concat(lit("<"), col("graph"), lit(">")))
    when(col("graph").isNull, concat(tripleBodyCol, lit(" .")))
      .otherwise(concat(tripleBodyCol, lit(" "), gTerm, lit(" .")))
  }

  private def tripleBodyCol: org.apache.spark.sql.Column = {
    def esc(c: org.apache.spark.sql.Column) =
      regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        c, "\\\\", "\\\\\\\\"), "\"", "\\\\\""), "\n", "\\\\n"), "\r", "\\\\r")
    val subj = when(col("subj").startsWith("_:"), bnodeSafeCol(col("subj")))
      .otherwise(concat(lit("<"), col("subj"), lit(">")))
    val obj = when(col("objKind") === "iri", concat(lit("<"), col("obj"), lit(">")))
      .when(col("objKind") === "bnode", bnodeSafeCol(col("obj")))
      .when(col("lang").isNotNull,
        concat(lit("\""), esc(col("obj")), lit("\"@"), col("lang")))
      .when(col("datatype").isNotNull,
        concat(lit("\""), esc(col("obj")), lit("\"^^<"), col("datatype"), lit(">")))
      .otherwise(concat(lit("\""), esc(col("obj")), lit("\"")))
    concat(subj, lit(" <"), col("pred"), lit("> "), obj)
  }

  // SQL mirror of Iris.ncSafeLabel: NCName-shaped labels (module 'x'/
  // '@') take the readable escape chain; anything the lax decoder let
  // through (spaces, bad start chars, non-ASCII) hashes to xh<md5> —
  // still codegen'd built-ins, no UDF
  private def bnodeSafeCol(c: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val label = substring(c, 3, Int.MaxValue) // strip "_:"
    val simple = regexp_replace(regexp_replace(label, "x", "xx"), "@", "xa")
    // \z, not $: java's $ matches before a trailing line terminator,
    // so a label ending in \n would take the simple branch here while
    // the Scala mangle hashes it — and emit a raw newline mid-line.
    // The final char excludes '.' (illegal as the last char of an
    // N-Triples BLANK_NODE_LABEL — '_:b0. .' would not parse); such
    // labels hash, mirroring Iris.ncSafeLabel.
    concat(lit("_:"),
      when(label.rlike("^[A-Za-z_]([A-Za-z0-9_.@-]*[A-Za-z0-9_@-])?\\z"), simple)
        .otherwise(concat(lit("xh"), md5(label))))
  }

  /** Serialize triple rows to N-Triples lines with built-in expressions
    * only — whole-stage codegen, no UDF.
    */
  def toNTriplesLines(triples: DataFrame): DataFrame =
    triples.select(nTriplesLineCol.as("line"))

  /** Oracle twin of the N-Triples sink: four deterministic triple rows
    * per document — IRI object, blank-node object (labels carry '@' and
    * 'x' to exercise the full export mangle), language-tagged literal
    * (the document text, exercising the escape chain) and typed
    * literal — serialized through [[nTriplesLineCol]]. Every value is
    * ANSI-replayable, so the sink's escape + label-mangle chain is
    * DuckDB oracle-checked value-for-value (q23).
    */
  def ntDocLines(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.Column
    val subj = concat(lit("_:bx"), col("doc_id"), lit("@deadbeef"))
    def row(kind: Int, obj: Column, objKind: String, lang: Column, dt: Column): DataFrame =
      documents.select(
        col("doc_id"), lit(kind).as("kind"), subj.as("subj"), lit("http://ex/p").as("pred"),
        obj.as("obj"), lit(objKind).as("objKind"),
        lang.cast("string").as("lang"), dt.cast("string").as("datatype"))
    val rows =
      row(1, concat(lit("http://ex/o/"), col("doc_id")), "iri", lit(null), lit(null))
        .unionAll(row(2, concat(lit("_:ox"), col("doc_id"), lit("@beef")), "bnode", lit(null), lit(null)))
        .unionAll(row(3, col("text"), "literal", lit("en"), lit(null)))
        .unionAll(row(4, col("doc_id").cast("string"), "literal", lit(null),
          lit("http://www.w3.org/2001/XMLSchema#integer")))
    rows.select(col("doc_id"), col("kind"), nTriplesLineCol.as("line"))
  }

  /** Write triple rows as N-Triples text files. */
  def writeNTriples(triples: DataFrame, outPath: String): Unit =
    toNTriplesLines(triples).write.mode("overwrite").text(outPath)

  /** Parse an N-Quads file (or glob) into quad rows — the named-graph
    * dataset form the graph-management / digest / canonicalization
    * operators consume. Same contracts as [[nTriplesFile]]: per-file
    * bnode scope (graph-label bnodes included), malformed lines drop.
    */
  def nQuadsFile(spark: SparkSession, path: String): Dataset[QuadRow] = {
    import spark.implicits._
    spark.read.text(path)
      .select(input_file_name().as("file"), col("value"))
      .as[(String, String)]
      .mapPartitions { it =>
        var lastFile: String = null
        var lastScope: String = null
        it.flatMap { case (file, raw) =>
          val line = raw.trim
          if (line.isEmpty || line.startsWith("#")) Iterator.empty
          else scala.util.Try {
            if (file != lastFile) {
              lastFile = file
              lastScope = Extract.urlScope(file)
            }
            val (t, g) = NTriples.parseQuadLine(line)
            val r = Extract.toRow(t, file, lastScope)
            val gl = g.map(gt => Extract.termToColumns(gt, lastScope)._1).orNull
            QuadRow(file, r.subj, r.pred, r.obj, r.objKind, r.lang, r.datatype, gl)
          }.toOption.iterator
        }
      }
  }

  /** Serialize quad rows to N-Quads lines (codegen, no UDF). */
  def toNQuadsLines(quads: DataFrame): DataFrame =
    quads.select(nQuadsLineCol.as("line"))

  /** Write quad rows as N-Quads text files. */
  def writeNQuads(quads: DataFrame, outPath: String): Unit =
    toNQuadsLines(quads).write.mode("overwrite").text(outPath)

  /** Oracle twin of the N-Quads sink (the q23 discipline, one lane per
    * graph-label shape): the same four object forms as [[ntDocLines]],
    * each under a different graphLabel regime — IRI graph, bnode graph
    * (mangle chain on the LABEL position), and the default graph
    * (triple form, no label). Every value ANSI-replayable.
    */
  def nqDocLines(documents: DataFrame): DataFrame = {
    import org.apache.spark.sql.Column
    val subj = concat(lit("_:bx"), col("doc_id"), lit("@deadbeef"))
    def row(kind: Int, obj: Column, objKind: String, lang: Column, dt: Column,
        graph: Column): DataFrame =
      documents.select(
        col("doc_id"), lit(kind).as("kind"), subj.as("subj"), lit("http://ex/p").as("pred"),
        obj.as("obj"), lit(objKind).as("objKind"),
        lang.cast("string").as("lang"), dt.cast("string").as("datatype"),
        graph.cast("string").as("graph"))
    val rows =
      row(1, concat(lit("http://ex/o/"), col("doc_id")), "iri", lit(null), lit(null),
          concat(lit("http://ex/g/"), pmod(col("doc_id"), lit(7))))
        .unionAll(row(2, concat(lit("_:ox"), col("doc_id"), lit("@beef")), "bnode",
          lit(null), lit(null), concat(lit("_:gx"), pmod(col("doc_id"), lit(5)), lit("@feed"))))
        .unionAll(row(3, col("text"), "literal", lit("en"), lit(null), lit(null)))
        .unionAll(row(4, col("doc_id").cast("string"), "literal", lit(null),
          lit("http://www.w3.org/2001/XMLSchema#integer"),
          concat(lit("http://ex/g/"), pmod(col("doc_id"), lit(7)))))
    rows.select(col("doc_id"), col("kind"), nQuadsLineCol.as("line"))
  }
}
