package graft.registry

import org.apache.spark.sql.functions._
import graft.pipeline._
import graft.pipeline.TextOps.wordsSql

import QueryKit._

/** The extraction and KG path: page extraction and lineage, the KG
  * pipeline, entity linking, incremental components, RDF sources and
  * sinks, and the microdata/JSON-LD extractors.
  */
private[graft] object ExtractQueries {

  val queries: Seq[Query] = Seq(
    Query("q19_entity_link_docs", (s, d) => KgPipeline.linkDocumentTokens(t(s, d, "documents")),
      Some(s"""WITH toks AS (
        |  SELECT doc_id, unnest($wordsSql) AS token
        |  FROM documents
        |), aliases AS (SELECT DISTINCT token FROM toks WHERE length(token) >= 8),
        |links AS (
        |  SELECT doc_id, token, count(*) AS n
        |  FROM toks JOIN aliases USING (token) GROUP BY doc_id, token
        |)
        |SELECT doc_id, 'http://ex/' || token AS entity, n, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, token) AS rank FROM links
        |) WHERE rank <= 3""".stripMargin)),
    Query("q23_ntriples_sink_docs", (s, d) => graft.sources.RdfSources.ntDocLines(t(s, d, "documents")),
      // DuckDB twin of q23: the N-Triples sink's escape + bnode-label
      // mangle chain, replayed literally ('x'→"xx", '@'→"xa" applied by
      // hand to the known label shapes).
      Some("""WITH esc AS (
        |  SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    text, '\\', '\\\\', 'g'), '"', '\\"', 'g'), chr(10), '\\n', 'g'), chr(13), '\\r', 'g') AS t
        |  FROM documents
        |), l AS (
        |  SELECT doc_id, 1 AS kind, '_:bxx' || doc_id || 'xadeadbeef <http://ex/p> <http://ex/o/' || doc_id || '> .' AS line FROM documents
        |  UNION ALL SELECT doc_id, 2, '_:bxx' || doc_id || 'xadeadbeef <http://ex/p> _:oxx' || doc_id || 'xabeef .' FROM documents
        |  UNION ALL SELECT doc_id, 3, '_:bxx' || doc_id || 'xadeadbeef <http://ex/p> "' || t || '"@en .' FROM esc
        |  UNION ALL SELECT doc_id, 4, '_:bxx' || doc_id || 'xadeadbeef <http://ex/p> "' || doc_id || '"^^<http://www.w3.org/2001/XMLSchema#integer> .' FROM documents
        |)
        |SELECT doc_id, kind, line FROM l""".stripMargin)),
    // the N-Quads sink twin of q23: same object forms, graph-label
    // lanes (IRI graph / bnode graph through the label mangle /
    // default graph in triple form)
    Query("q130_nquads_sink_docs", (s, d) => graft.sources.RdfSources.nqDocLines(t(s, d, "documents")),
      // DuckDB twin of q130: the q23 escape/mangle chain with the three
      // graph-label lanes appended by hand — '<http://ex/g/k>' (IRI),
      // '_:gxx{k}xafeed' (bnode label through the mangle), and nothing
      // (default graph).
      Some("""WITH esc AS (
        |  SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    text, '\\', '\\\\', 'g'), '"', '\\"', 'g'), chr(10), '\\n', 'g'), chr(13), '\\r', 'g') AS t
        |  FROM documents
        |), l AS (
        |  SELECT doc_id, 1 AS kind, '_:bxx' || doc_id || 'xadeadbeef <http://ex/p> <http://ex/o/' || doc_id || '> <http://ex/g/' || (doc_id % 7) || '> .' AS line FROM documents
        |  UNION ALL SELECT doc_id, 2, '_:bxx' || doc_id || 'xadeadbeef <http://ex/p> _:oxx' || doc_id || 'xabeef _:gxx' || (doc_id % 5) || 'xafeed .' FROM documents
        |  UNION ALL SELECT doc_id, 3, '_:bxx' || doc_id || 'xadeadbeef <http://ex/p> "' || t || '"@en .' FROM esc
        |  UNION ALL SELECT doc_id, 4, '_:bxx' || doc_id || 'xadeadbeef <http://ex/p> "' || doc_id || '"^^<http://www.w3.org/2001/XMLSchema#integer> <http://ex/g/' || (doc_id % 7) || '> .' FROM documents
        |)
        |SELECT doc_id, kind, line FROM l""".stripMargin)),
    // incremental connected components: base labels are the 8-block
    // partition (an INPUT — the materialized prior state, not
    // recomputed), delta edges merge block pairs (%32), attach
    // brand-new x-nodes (%50) and add same-component no-ops (%24,
    // contracting to nothing); the label-graph CC runs on the
    // delta-sized contraction only, and the oracle is the
    // DEFINITIONAL full recompute over (base-label graph ∪ delta)
    // via the q26-style recursive min-label reach
    Query("q184_cc_delta", (s, d) => {
      val docs = t(s, d, "documents")
      val baseLabels = docs.select(
        format_string("n%06d", col("doc_id")).as("node"),
        format_string("n%06d", col("doc_id") - pmod(col("doc_id"), lit(8)))
          .as("component"))
      val merge = docs.where(pmod(col("doc_id"), lit(32)) === 0)
        .select(format_string("n%06d", col("doc_id")).as("a"),
          format_string("n%06d", col("doc_id") + 8).as("b"))
      val attach = docs.where(pmod(col("doc_id"), lit(50)) === 0)
        .select(format_string("x%06d", col("doc_id")).as("a"),
          format_string("n%06d", col("doc_id")).as("b"))
      val noop = docs.where(pmod(col("doc_id"), lit(24)) === 0)
        .select(format_string("n%06d", col("doc_id") + 1).as("a"),
          format_string("n%06d", col("doc_id") + 2).as("b"))
      KgPipeline.connectedComponentsDelta(baseLabels,
          merge.unionByName(attach).unionByName(noop))
        .select("node", "component")
    },
      // DuckDB twin of q184 (incremental CC): the DEFINITIONAL full
      // recompute — base-label graph ∪ delta edges, undirected min-label
      // reach (the q26 recursive formulation), min per node. Kept
      // independent of the Spark side's label-graph contraction (the
      // q132 rule); safe because merged clusters stay ≤ ~20 nodes under
      // the %32/%50/%24 lanes. Multi-consumed non-recursive CTEs are
      // MATERIALIZED (q71 rule).
      Some("""WITH RECURSIVE f AS (SELECT doc_id AS d FROM documents),
        |bl AS MATERIALIZED (
        |  SELECT printf('n%06d', d) AS node, printf('n%06d', d - d%8) AS lab FROM f),
        |de AS MATERIALIZED (
        |  SELECT printf('n%06d', d) AS a, printf('n%06d', d+8) AS b FROM f WHERE d % 32 = 0
        |  UNION ALL SELECT printf('x%06d', d), printf('n%06d', d) FROM f WHERE d % 50 = 0
        |  UNION ALL SELECT printf('n%06d', d+1), printf('n%06d', d+2) FROM f WHERE d % 24 = 0),
        |e0 AS MATERIALIZED (
        |  SELECT node AS a, lab AS b FROM bl WHERE node != lab
        |  UNION SELECT a, b FROM de WHERE a != b),
        |e AS MATERIALIZED (
        |  SELECT a, b FROM e0 UNION SELECT b AS a, a AS b FROM e0),
        |n AS (SELECT node FROM bl UNION SELECT a AS node FROM e),
        |reach AS (
        |  SELECT node, node AS lab FROM n
        |  UNION SELECT r.node, e.b AS lab FROM reach r JOIN e ON e.a = r.lab
        |)
        |SELECT node, min(lab) AS component FROM reach GROUP BY node""".stripMargin)),
    // coherence-reranked entity linking: two mentions per doc, each
    // with a strong-prior candidate and a weak-prior candidate that
    // only the odd clique relates — the vote flips the winner exactly
    // when BOTH mentions' residues sit outside the %3==2 class, so
    // the oracle is the CLOSED FORM of the argmax, independent of the
    // join/window plan
    Query("q187_link_coherence", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val mentions = docs.select(col("doc_id").as("doc"),
          concat(lit("m"), pmod(col("doc_id"), lit(12))).as("mention"))
        .unionByName(docs.select(col("doc_id").as("doc"),
          concat(lit("m"), pmod(col("doc_id") + 5, lit(12))).as("mention")))
      val candidates = (0 until 12).flatMap(k => Seq(
        (s"m$k", f"e${2 * k}%02d", 5L), (s"m$k", f"e${2 * k + 1}%02d", 4L)))
        .toDF("mention", "ent", "prior")
      val related = (for {
        k1 <- 0 until 12; k2 <- 0 until 12
        if k1 != k2 && k1 % 3 != 2 && k2 % 3 != 2
      } yield (f"e${2 * k1 + 1}%02d", f"e${2 * k2 + 1}%02d")).toDF("a", "b")
      KgPipeline.coherenceRank(mentions, candidates, related)
        .select(col("doc").as("doc_id"), col("mention"), col("ent"), col("score"))
    },
      // DuckDB twin of q187 (coherence linking): the CLOSED FORM of the
      // argmax — the vote flips the winner exactly when both residues
      // avoid the %3==2 class — deliberately independent of the Spark
      // side's vote-join + window plan (the q63 independence rule).
      Some("""WITH f AS (SELECT doc_id AS d FROM documents),
        |m AS (SELECT d, d % 12 AS k, (d + 5) % 12 AS k2 FROM f
        |      UNION ALL SELECT d, (d + 5) % 12, d % 12 FROM f)
        |SELECT d AS doc_id, 'm' || k AS mention,
        |  CASE WHEN k % 3 != 2 AND k2 % 3 != 2 THEN printf('e%02d', 2*k + 1)
        |       ELSE printf('e%02d', 2*k) END AS ent,
        |  CAST(CASE WHEN k % 3 != 2 AND k2 % 3 != 2 THEN 65 ELSE 50 END AS BIGINT) AS score
        |FROM m""".stripMargin)),
    // HTML Microdata extraction, VALUE-EXACT: each page is a pure
    // function of doc_id (lane 0 well-formed item with itemid, lane 1
    // malformed unquoted/unclosed markup, lane 2 nested bnode item,
    // lane 3 meta content + time datetime inference), so the oracle
    // states the expected triples directly. The bnode label contract —
    // md<counter> under the md5(url) document scope — is pinned
    // cross-engine (both compute md5 hex of the same url string).
    Query("q145_microdata_extract", (s, d) => {
      import s.implicits._
      val pages = t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val url = s"http://md.example/$id"
        val html = (id % 4).toInt match {
          case 0 =>
            s"""<html><body><div itemscope itemtype="http://schema.org/Person" itemid="http://e/p$id"><span itemprop="name">N$id</span><img itemprop="image" src="http://e/i$id.png"></div></body></html>"""
          case 1 =>
            s"<div itemscope itemtype=http://schema.org/Person itemid=http://e/p$id><span itemprop=name>N$id"
          case 2 =>
            s"""<div itemscope itemtype="http://schema.org/Person" itemid="http://e/p$id"><div itemprop="address" itemscope itemtype="http://schema.org/PostalAddress"><span itemprop="addressLocality">C${id % 50}</span></div></div>"""
          case _ =>
            s"""<div itemscope itemtype="http://schema.org/Event" itemid="http://e/v$id"><meta itemprop="name" content="E$id"><time itemprop="startDate" datetime="2024-01-${"%02d".format(2 + id % 27)}">x</time></div>"""
        }
        (url, html)
      }
      pages.flatMap { case (url, html) =>
        Extract.triplesOf(url, html.getBytes("UTF-8")).toOption.get
          .map(r => (r.subj, r.pred, r.obj, r.objKind, Option(r.datatype).getOrElse("")))
      }.toDF("s", "p", "o", "ok", "dt")
    },
      // DuckDB twin of q145 (Microdata extraction): the expected triples
      // stated DIRECTLY per doc_id lane (the q120 rule — the oracle writes
      // the final state, it does not replay the parser). Blank-node labels
      // replay cross-engine because the extractor's contract is pinned:
      // md<counter> in document order, '@' + md5(url) document scope —
      // DuckDB's md5 hex == the Scala urlScope hex.
      Some {
        val rdfT = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
        val xsdDate = "http://www.w3.org/2001/XMLSchema#date"
        s"""WITH d AS MATERIALIZED (
           |  SELECT doc_id AS id, CAST(doc_id AS VARCHAR) AS ids,
           |         md5('http://md.example/' || CAST(doc_id AS VARCHAR)) AS scope
           |  FROM documents
           |)
           |SELECT s, p, o, ok, dt FROM (
           |  SELECT 'http://e/p' || ids AS s, '$rdfT' AS p,
           |         'http://schema.org/Person' AS o, 'iri' AS ok, '' AS dt
           |  FROM d WHERE id % 4 IN (0, 1, 2)
           |  UNION ALL
           |  SELECT 'http://e/p' || ids, 'http://schema.org/name', 'N' || ids, 'literal', ''
           |  FROM d WHERE id % 4 IN (0, 1)
           |  UNION ALL
           |  SELECT 'http://e/p' || ids, 'http://schema.org/image',
           |         'http://e/i' || ids || '.png', 'iri', ''
           |  FROM d WHERE id % 4 = 0
           |  UNION ALL
           |  SELECT 'http://e/p' || ids, 'http://schema.org/address', '_:md0@' || scope, 'bnode', ''
           |  FROM d WHERE id % 4 = 2
           |  UNION ALL
           |  SELECT '_:md0@' || scope, '$rdfT', 'http://schema.org/PostalAddress', 'iri', ''
           |  FROM d WHERE id % 4 = 2
           |  UNION ALL
           |  SELECT '_:md0@' || scope, 'http://schema.org/addressLocality',
           |         'C' || CAST(id % 50 AS VARCHAR), 'literal', ''
           |  FROM d WHERE id % 4 = 2
           |  UNION ALL
           |  SELECT 'http://e/v' || ids, '$rdfT', 'http://schema.org/Event', 'iri', ''
           |  FROM d WHERE id % 4 = 3
           |  UNION ALL
           |  SELECT 'http://e/v' || ids, 'http://schema.org/name', 'E' || ids, 'literal', ''
           |  FROM d WHERE id % 4 = 3
           |  UNION ALL
           |  SELECT 'http://e/v' || ids, 'http://schema.org/startDate',
           |         '2024-01-' || printf('%02d', 2 + id % 27), 'literal', '$xsdDate'
           |  FROM d WHERE id % 4 = 3
           |)""".stripMargin
      }),
    // JSON-LD script-island extraction, VALUE-EXACT: lane 0 typed node
    // with integer literal, lane 1 nested author bnode (jl<block>_<n>
    // label contract under the md5(url) scope), lane 2 malformed first
    // block skipped + valid second block (per-block bnode namespacing
    // exercised via the block index), lane 3 term-def context with
    // @type:@id coercion (base-resolved IRI) and context @language.
    Query("q146_jsonld_extract", (s, d) => {
      import s.implicits._
      val pages = t(s, d, "documents").select(col("doc_id")).as[Long].map { id =>
        val url = s"http://jl.example/$id"
        def script(j: String) = s"""<script type="application/ld+json">$j</script>"""
        val html = (id % 4).toInt match {
          case 0 =>
            script(s"""{"@context":"https://schema.org","@id":"http://e/a$id","@type":"Article","name":"T$id","wordCount":${id % 1000}}""")
          case 1 =>
            script(s"""{"@context":"https://schema.org","@id":"http://e/a$id","author":{"@type":"Person","name":"A${id % 100}"}}""")
          case 2 =>
            script("{oops") + "\n" +
              script(s"""{"@context":"https://schema.org","@id":"http://e/b$id","name":"B$id"}""")
          case _ =>
            script(s"""{"@context":{"sc":"http://schema.org/","name":"sc:name","url":{"@id":"sc:url","@type":"@id"},"@language":"en"},"@id":"http://e/c$id","name":"C$id","url":"/p$id"}""")
        }
        (url, s"<html><body>$html</body></html>")
      }
      pages.flatMap { case (url, html) =>
        Extract.triplesOf(url, html.getBytes("UTF-8")).toOption.get
          .map(r => (r.subj, r.pred, r.obj, r.objKind,
            Option(r.lang).getOrElse(""), Option(r.datatype).getOrElse("")))
      }.toDF("s", "p", "o", "ok", "lang", "dt")
    },
      // DuckDB twin of q146 (JSON-LD extraction): expected triples stated
      // directly per lane (the q145/q120 rule). The jl<block>_<n> bnode
      // label pins BOTH the fresh-counter contract and the per-script-
      // block namespacing (lane 2's malformed block 0 must shift the valid
      // block to index 1 without emitting anything itself).
      Some {
        val rdfT = "http://www.w3.org/1999/02/22-rdf-syntax-ns#type"
        val langStr = "http://www.w3.org/1999/02/22-rdf-syntax-ns#langString"
        val xsdInt = "http://www.w3.org/2001/XMLSchema#integer"
        s"""WITH d AS MATERIALIZED (
           |  SELECT doc_id AS id, CAST(doc_id AS VARCHAR) AS ids,
           |         md5('http://jl.example/' || CAST(doc_id AS VARCHAR)) AS scope
           |  FROM documents
           |)
           |SELECT s, p, o, ok, lang, dt FROM (
           |  SELECT 'http://e/a' || ids AS s, '$rdfT' AS p, 'https://schema.org/Article' AS o,
           |         'iri' AS ok, '' AS lang, '' AS dt
           |  FROM d WHERE id % 4 = 0
           |  UNION ALL
           |  SELECT 'http://e/a' || ids, 'https://schema.org/name', 'T' || ids, 'literal', '', ''
           |  FROM d WHERE id % 4 = 0
           |  UNION ALL
           |  SELECT 'http://e/a' || ids, 'https://schema.org/wordCount',
           |         CAST(id % 1000 AS VARCHAR), 'literal', '', '$xsdInt'
           |  FROM d WHERE id % 4 = 0
           |  UNION ALL
           |  SELECT '_:jl0_0@' || scope, '$rdfT', 'https://schema.org/Person', 'iri', '', ''
           |  FROM d WHERE id % 4 = 1
           |  UNION ALL
           |  SELECT '_:jl0_0@' || scope, 'https://schema.org/name',
           |         'A' || CAST(id % 100 AS VARCHAR), 'literal', '', ''
           |  FROM d WHERE id % 4 = 1
           |  UNION ALL
           |  SELECT 'http://e/a' || ids, 'https://schema.org/author', '_:jl0_0@' || scope,
           |         'bnode', '', ''
           |  FROM d WHERE id % 4 = 1
           |  UNION ALL
           |  SELECT 'http://e/b' || ids, 'https://schema.org/name', 'B' || ids, 'literal', '', ''
           |  FROM d WHERE id % 4 = 2
           |  UNION ALL
           |  SELECT 'http://e/c' || ids, 'http://schema.org/name', 'C' || ids, 'literal',
           |         'en', '$langStr'
           |  FROM d WHERE id % 4 = 3
           |  UNION ALL
           |  SELECT 'http://e/c' || ids, 'http://schema.org/url',
           |         'http://jl.example/p' || ids, 'iri', '', ''
           |  FROM d WHERE id % 4 = 3
           |)""".stripMargin
      }),
    Query("q20_ntriples_escape", (s, d) => {
      t(s, d, "documents").select(
        col("doc_id"),
        concat(lit("http://ex/doc/"), col("doc_id")).as("subj"),
        lit("http://ex/text").as("pred"),
        concat(col("text"), lit("\n\"\\")).as("obj"),
        lit("literal").as("objKind"),
        lit(null).cast("string").as("lang"),
        lit(null).cast("string").as("datatype"))
        .select(col("doc_id"), graft.sources.RdfSources.nTriplesLineCol.as("line"))
    },
      Some("""SELECT doc_id,
        |  '<http://ex/doc/' || doc_id || '> <http://ex/text> "' ||
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    text || chr(10) || chr(34) || chr(92),
        |    '\\', '\\\\', 'g'), '"', '\\"', 'g'), chr(10), '\\n', 'g'), chr(13), '\\r', 'g')
        |  || '" .' AS line
        |FROM documents""".stripMargin)),
    Query("x_extract_triples", (s, _) => {
      import s.implicits._
      Extract.run(SyntheticPages.pages(s, copies = 2)).flatMap(_.triple).toDF()
    }),
    Query("x_extract_lineage", (s, _) => {
      import s.implicits._
      Extract.run(SyntheticPages.pages(s, copies = 2)).flatMap(_.lineage).toDF()
    }),
    Query("x_kg_pipeline", (s, _) => {
      val out = tempRoot("graft_kg").toString
      // 8-way on purpose (A/B'd r6): the pipeline is dominated by its
      // many small parquet stage WRITES, and 32 partitions means 4x
      // the files and tasks per tiny stage — measured ~7.4s (8-way)
      // vs ~9.6s (32-way) back-to-back in the same session. The
      // pure-compute extract twins below use the generator default
      // instead (x_entity_link 1.4s → 0.6s).
      val pages = SyntheticPages.pages(s, copies = 2, numPartitions = 8)
      KgPipeline.run(s, pages, out)("edges")
    }),
    Query("x_entity_link", (s, _) => {
      import s.implicits._
      val pages = SyntheticPages.pages(s, copies = 2)
      val triples = Extract.run(pages).flatMap(_.triple).toDF()
      KgPipeline.linkMentions(pages.toDF(), KgPipeline.entityAliases(triples))
    }),
    // WARC round-trip: synthesize a Common-Crawl-layout shard (one
    // gzip member per response record) from the fixture pages, read it
    // back through the WARC source, extract — the real web-crawl
    // ingestion path end-to-end (fixture set is bounded; the collect
    // is generator-side only, never part of the read path)
    Query("x_warc_source", (s, _) => {
      import s.implicits._
      val dir = tempRoot("graft_warc_q")
      val shard = dir.resolve("shard.warc.gz").toString
      val pages = SyntheticPages.pages(s, copies = 1, numPartitions = 2).collect()
      graft.sources.WarcSource.writeShardFile(
        shard, pages.iterator.map(p => (p.url, p.warc_ts, p.html)))
      Extract.run(graft.sources.WarcSource.pages(s, shard)).flatMap(_.triple).toDF()
    }),
    Query("x_rdfxml_file_source", (s, _) => {
      // the fixture corpus may sit inside the application jar, where the
      // binaryFile source cannot read it: copy xmlbase/ out first
      val dir = tempRoot("graft_rdfxml_q")
      SyntheticPages.fixtureFiles().collect { case (rel, bytes) if rel.startsWith("xmlbase/") =>
        java.nio.file.Files.write(dir.resolve(rel.stripPrefix("xmlbase/")), bytes)
      }
      graft.sources.RdfSources.rdfXmlFiles(s, s"$dir/*.rdf").toDF()
    }),
    Query("x_ntriples_sink", (s, _) => {
      import s.implicits._
      val triples = Extract.run(SyntheticPages.pages(s, copies = 1, numPartitions = 4)).flatMap(_.triple).toDF()
      graft.sources.RdfSources.toNTriplesLines(triples)
    }),
    Query("x_export_rdfxml", (s, _) => {
      import s.implicits._
      val triples = Extract.run(SyntheticPages.pages(s, copies = 2)).flatMap(_.triple).toDF()
      KgPipeline.exportRdfXml(triples).toDF("xml").where(length(col("xml")) > 0)
    }),
    Query("x_text_identity", (s, _) => {
      // byte-identical text-extraction invariant as a counting query:
      // rows where extractText(html) != text must be zero
      import s.implicits._
      val pages = SyntheticPages.pages(s, copies = 2)
      val n = pages.map(p => if (Extract.extractText(new String(p.html, "UTF-8")) == p.text) 0 else 1)
        .toDF("mismatch").agg(sum(col("mismatch")).as("mismatches"), count(lit(1)).as("pages"))
      n.where(col("mismatches") === 0)
    })
  )
}
