package graft.registry

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.pipeline._

import QueryKit._

/** The SPARQL/RDF family over the synthetic knowledge graph that
  * `QueryKit.Lane` builds: BGPs, paths, OWL/RDFS entailment, SHACL,
  * updates, canonical bnode labeling and the term functions.
  */
private[graft] object SparqlQueries {

  /** DuckDB twin of q133 (negative sampling): dense entity indices as
    * the NAIVE row_number over (md5-prefix bucket, ent) — equal to
    * the Spark side's two-phase rank because the bucket is the
    * order's own prefix (the q73 rule) — then the same integer
    * stepping, pool resolve and NOT EXISTS filtered-setting drop.
    * All operands non-negative (idx, ridx, k ≥ 0), so DuckDB % ==
    * Spark pmod.
    */
  private def q133Sql(k: Int = 3): String =
    s"""WITH e AS MATERIALIZED (
      |  SELECT DISTINCT h, r, t FROM (
      |    SELECT 'd' || CAST(doc_id AS VARCHAR) AS h, 'worksFor' AS r,
      |           'o' || CAST(doc_id % 16 AS VARCHAR) AS t FROM documents WHERE doc_id % 2 = 0
      |    UNION ALL
      |    SELECT 'd' || CAST(doc_id AS VARCHAR), 'memberOf',
      |           'o' || CAST(doc_id % 12 AS VARCHAR) FROM documents WHERE doc_id % 3 = 0
      |  ) u
      |),
      |ents AS (SELECT DISTINCT ent FROM (SELECT h AS ent FROM e UNION ALL SELECT t FROM e) v),
      |pool AS MATERIALIZED (
      |  SELECT ent, CAST(row_number() OVER (ORDER BY substring(md5(ent), 1, 2), ent) - 1 AS BIGINT) AS idx
      |  FROM ents
      |),
      |rels AS (SELECT r, CAST(row_number() OVER (ORDER BY r) - 1 AS BIGINT) AS ridx
      |         FROM (SELECT DISTINCT r FROM e) w),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n_ent FROM pool),
      |cand AS (
      |  SELECT e.h, e.r, e.t, CAST(kk.k AS BIGINT) AS neg_k,
      |         (ph.idx * 2654435761 + rels.ridx * 97 + pt.idx * 31 + kk.k * 40503) % n.n_ent AS nidx
      |  FROM e
      |  JOIN pool ph ON ph.ent = e.h
      |  JOIN pool pt ON pt.ent = e.t
      |  JOIN rels ON rels.r = e.r
      |  CROSS JOIN n
      |  CROSS JOIN unnest(range(0, $k)) kk(k)
      |)
      |SELECT c.h, c.r, c.t, c.neg_k, p.ent AS t_neg
      |FROM cand c JOIN pool p ON p.idx = c.nidx
      |WHERE NOT EXISTS (SELECT 1 FROM e x WHERE x.h = c.h AND x.r = c.r AND x.t = p.ent)""".stripMargin

  /** The q128 CTE chain (quads → mentions → labeled), shared with the
    * q135 digest composition. */
  private val q128Ctes: String =
    """quads AS MATERIALIZED (
      |  SELECT DISTINCT g, s, p, o FROM (
      |    SELECT source AS g, 'd' || CAST(doc_id AS VARCHAR) AS s, 'author' AS p,
      |           '_:b' || CAST(doc_id % 24 AS VARCHAR) AS o FROM documents
      |    UNION ALL
      |    SELECT source, '_:b' || CAST(doc_id % 24 AS VARCHAR), 'name',
      |           'n' || CAST(doc_id AS VARCHAR) FROM documents
      |    UNION ALL
      |    SELECT source, '_:b' || CAST(doc_id % 24 AS VARCHAR), 'knows',
      |           '_:k' || CAST(doc_id AS VARCHAR)
      |    FROM documents WHERE doc_id % 3 = 0
      |    UNION ALL
      |    SELECT source, '_:k' || CAST(doc_id AS VARCHAR), 'note',
      |           'm' || CAST(doc_id AS VARCHAR)
      |    FROM documents WHERE doc_id % 3 = 0
      |    UNION ALL
      |    SELECT source, 'd' || CAST(doc_id AS VARCHAR), 'lang', lang FROM documents
      |  ) u
      |),
      |mentions AS (
      |  SELECT g, s AS b,
      |         '_:a ' || p || ' ' ||
      |         CASE WHEN o = s THEN '_:a'
      |              WHEN o LIKE '\_:%' ESCAPE '\' THEN '_:z' ELSE o END AS line
      |  FROM quads WHERE s LIKE '\_:%' ESCAPE '\'
      |  UNION ALL
      |  SELECT g, o AS b,
      |         CASE WHEN s LIKE '\_:%' ESCAPE '\' THEN '_:z' ELSE s END ||
      |         ' ' || p || ' _:a' AS line
      |  FROM quads WHERE o LIKE '\_:%' ESCAPE '\' AND s <> o
      |),
      |labeled AS MATERIALIZED (
      |  SELECT g, b,
      |         '_:c' || CAST(row_number() OVER (PARTITION BY g ORDER BY h) - 1 AS VARCHAR) AS c
      |  FROM (SELECT g, b, md5(string_agg(line, chr(10) ORDER BY line)) AS h
      |        FROM mentions GROUP BY g, b) fd
      |)""".stripMargin

  val queries: Seq[Query] = Seq(
    // SPARQL DESCRIBE ?org WHERE { ?x worksFor ?org }: the
    // subject-outbound description slice — one distinct solution
    // column semi-joined against the graph. Only EVEN org ids are
    // employers (even doc_ids mod 16 land on even residues), so half
    // the label/sector rows survive and the person-subject name lane
    // drops entirely — the semi-join is doing real work
    Query("q107_describe", (s, d) => {
      val spo = spoOf(t(s, d, "documents"), Lane.name, Lane.worksFor, Lane.labels(12),
        Lane.sectors)
      TripleOps.describe(spo, Seq(("?x", "worksFor", "?org")), "?org")
        .select("s", "p", "o")
    },
      // DuckDB twin of q107 (DESCRIBE): the described-node set as a
      // native EXISTS over the worksFor objects — subject-outbound slice.
      Some(s"""WITH spo AS (
        |${spoSql(Lane.name, Lane.worksFor, Lane.labels(12), Lane.sectors)}
        |)
        |SELECT t.s, t.p, t.o FROM spo t
        |WHERE EXISTS (SELECT 1 FROM spo w WHERE w.p = 'worksFor' AND w.o = t.s)""".stripMargin)),
    // SPARQL BIND + expression FILTER: Extend adds computed bindings
    // (a concat tag, the name length) with no cardinality change,
    // then FILTER selects on the bound expression — both stay inside
    // whole-stage codegen, zero shuffles beyond the BGP join itself
    Query("q108_bind_filter", (s, d) => {
      val spo = spoOf(t(s, d, "documents"), Lane.name, Lane.worksFor)
      val sols = TripleOps.bgp(spo,
        Seq(("?x", "name", "?name"), ("?x", "worksFor", "?org")))
      val bound = TripleOps.bind(
        TripleOps.bind(sols, "tag", concat(col("org"), lit("/"), col("name"))),
        "nlen", length(col("name")).cast("bigint"))
      bound.where(col("nlen") >= 3)
        .select(col("x"), col("name"), col("org"), col("tag"), col("nlen"))
    },
      // DuckDB twin of q108 (BIND/Extend + expression FILTER): the bound
      // expressions written directly in the SELECT list; length() counts
      // characters in both engines (ASCII fixture).
      Some(s"""WITH spo AS (
        |${spoSql(Lane.name, Lane.worksFor)}
        |)
        |SELECT n.s AS x, n.o AS name, w.o AS org, w.o || '/' || n.o AS tag,
        |       CAST(length(n.o) AS BIGINT) AS nlen
        |FROM spo n JOIN spo w ON w.s = n.s AND w.p = 'worksFor'
        |WHERE n.p = 'name' AND length(n.o) >= 3""".stripMargin)),
    // SPARQL subquery: the inner { SELECT ?org (COUNT(*) AS ?n) …
    // GROUP BY ?org } aggregates BEFORE the outer label join — the
    // spec's bottom-up subquery evaluation, and at scale the reason
    // subqueries exist: aggregate the TB-sized affiliation slice down
    // to org cardinality FIRST, then join the small result
    Query("q109_subquery", (s, d) => {
      val spo = spoOf(t(s, d, "documents"), Lane.worksFor, Lane.labels(12))
      val inner = TripleOps.bgp(spo, Seq(("?x", "worksFor", "?org")))
        .groupBy(col("org")).agg(count(lit(1)).as("n"))
      TripleOps.bgp(spo, Seq(("?org", "label", "?lbl")))
        .join(inner, Seq("org"))
        .select(col("org"), col("lbl"), col("n"))
    },
      // DuckDB twin of q109 (subquery): the inner aggregation as a
      // derived table joined to the label slice.
      Some(s"""WITH spo AS (
        |${spoSql(Lane.worksFor, Lane.labels(12))}
        |)
        |SELECT l.s AS org, l.o AS lbl, cnt.n AS n
        |FROM spo l
        |JOIN (SELECT o AS org, COUNT(*) AS n FROM spo WHERE p = 'worksFor' GROUP BY o) cnt
        |  ON cnt.org = l.s
        |WHERE l.p = 'label'""".stripMargin)),
    // SPARQL sequence path with inverse: reportsTo/^reportsTo =
    // "shares a direct manager" — each step is a predicate slice
    // (inverse = o→s traversal), steps chain on the meeting node and
    // dedup to the pair set; the self-pairs the round trip always
    // produces are FILTERed off, the spec's `?x != ?y` idiom
    Query("q110_path_seq", (s, d) => {
      val spo = spoOf(t(s, d, "documents"), Lane.reportsTo, Lane.name)
      TripleOps.pathSteps(spo, Seq(("reportsTo", false), ("reportsTo", true)))
        .where(col("src") =!= col("dst"))
        .select(col("src"), col("dst"))
    },
      // DuckDB twin of q110 (sequence path with inverse): the
      // shares-a-manager self-join written directly — (reportsTo edge) ⋈
      // (reportsTo edge) on the manager, self-pairs excluded. The edge
      // set has unique subjects, so no DISTINCT is needed either side.
      Some("""WITH e AS (
        |  SELECT 'd' || CAST(doc_id AS VARCHAR) AS s,
        |         'd' || CAST(doc_id // 3 AS VARCHAR) AS o
        |  FROM documents WHERE doc_id > 0
        |)
        |SELECT a.s AS src, b.s AS dst
        |FROM e a JOIN e b ON a.o = b.o AND a.s <> b.s""".stripMargin)),
    // SPARQL GRAPH ?g { … } over quads: both patterns must hold in the
    // SAME named graph — docs %3==0 carry their bucket quad in a
    // different graph ('other') than their lang quad, so the shared ?g
    // variable drops them; graph name = source shard, the provenance
    // query a per-shard extraction corpus answers
    Query("q111_graph_quads", (s, d) => {
      val docs = t(s, d, "documents")
      val quads = docs.select(col("source").as("g"), dId.as("s"),
          lit("lang").as("p"), col("lang").as("o"))
        .unionByName(docs.select(
          when(pmod(col("doc_id"), lit(3)) === 0, lit("other"))
            .otherwise(col("source")).as("g"),
          dId.as("s"), lit("bucket").as("p"),
          concat(lit("b"), pmod(col("doc_id"), lit(7))).as("o")))
      TripleOps.bgpQuads(quads, "?g",
        Seq(("?x", "lang", "?l"), ("?x", "bucket", "?b")))
        .select(col("g"), col("x"), col("l"), col("b"))
    },
      // DuckDB twin of q111 (GRAPH block over quads): the shared-graph
      // join written natively — b.g = a.g is the GRAPH ?g semantics.
      Some("""WITH quads AS (
        |  SELECT source AS g, 'd' || CAST(doc_id AS VARCHAR) AS s, 'lang' AS p,
        |         lang AS o FROM documents
        |  UNION ALL
        |  SELECT CASE WHEN doc_id % 3 = 0 THEN 'other' ELSE source END,
        |         'd' || CAST(doc_id AS VARCHAR), 'bucket',
        |         'b' || CAST(doc_id % 7 AS VARCHAR) FROM documents
        |)
        |SELECT a.g AS g, a.s AS x, a.o AS l, b.o AS b
        |FROM quads a JOIN quads b ON b.g = a.g AND b.s = a.s AND b.p = 'bucket'
        |WHERE a.p = 'lang'""".stripMargin)),
    // OWL-lite schema-driven entailment: partOf is declared
    // owl:TransitiveProperty and owl:inverseOf hasPart — mirror the
    // asserted hasPart edges in (inverseOf), close partOf over the
    // div-2 forest (transitive), mirror the closure back out
    // (inverseOf again = the fixpoint for this schema, since hasPart
    // itself is not declared transitive); the name lane passes
    // through untouched, proving the predicate slicing
    Query("q112_owl_entail", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val spo = docs.where(col("doc_id") > 0)
          .select(dId.as("s"), lit("partOf").as("p"),
            concat(lit("d"), expr("doc_id div 2")).as("o"))
        .unionByName(docs.where(col("doc_id") > 0 && pmod(col("doc_id"), lit(11)) === 0)
          .select(concat(lit("d"), expr("doc_id div 2")).as("s"),
            lit("hasPart").as("p"), dId.as("o")))
        .unionByName(Lane.name(docs))
      val inv = Seq(("partOf", "hasPart")).toDF("p", "q")
      // intermediate stages defer the graph-set dedup to the final
      // inverse pass (r6): one full-graph distinct instead of three —
      // set-equal because dups only re-derive collapsed rows
      val mirrored = TripleOps.inverseOfEntail(spo, inv, dedup = false)
      val closed = TripleOps.transitivePropEntail(mirrored, Seq("partOf"), dedup = false)
      TripleOps.inverseOfEntail(closed, inv).select("s", "p", "o")
    },
      // DuckDB twin of q112 (owl:inverseOf + owl:TransitiveProperty):
      // the partOf closure as a native WITH RECURSIVE over the merged
      // (asserted ∪ hasPart-mirrored) edge set, hasPart re-derived as the
      // closure's mirror, names passed through; UNION dedups — the
      // graph-set semantics both sides share.
      Some(s"""WITH RECURSIVE base AS (
        |  SELECT 'd' || CAST(doc_id AS VARCHAR) AS s, 'partOf' AS p,
        |         'd' || CAST(doc_id // 2 AS VARCHAR) AS o
        |  FROM documents WHERE doc_id > 0
        |  UNION ALL
        |  SELECT 'd' || CAST(doc_id // 2 AS VARCHAR), 'hasPart',
        |         'd' || CAST(doc_id AS VARCHAR)
        |  FROM documents WHERE doc_id > 0 AND doc_id % 11 = 0
        |  UNION ALL
        |${Lane.name.bare}
        |),
        |part AS (
        |  SELECT s, o FROM base WHERE p = 'partOf'
        |  UNION
        |  SELECT o AS s, s AS o FROM base WHERE p = 'hasPart'
        |),
        |anc AS (
        |  SELECT s, o FROM part
        |  UNION
        |  SELECT a.s, p2.o FROM anc a JOIN part p2 ON p2.s = a.o
        |)
        |SELECT s, p, o FROM base WHERE p = 'name'
        |UNION
        |SELECT s, 'partOf', o FROM anc
        |UNION
        |SELECT o, 'hasPart', s FROM anc""".stripMargin)),
    // SPARQL UPDATE (DELETE/INSERT WHERE): migrate labeled-org
    // employment edges to the inverted `employs` predicate in one
    // atomic transformation — bindings against the PRE-update graph,
    // delete via (s,p,o) anti-join, insert via construct, set-dedup;
    // edges to unlabeled orgs (o12/o14) and the name lane survive
    Query("q113_sparql_update", (s, d) => {
      val spo = spoOf(t(s, d, "documents"), Lane.name, Lane.worksFor, Lane.labels(12))
      TripleOps.deleteInsert(spo,
        wherePatterns = Seq(("?x", "worksFor", "?org"), ("?org", "label", "?lbl")),
        deleteTemplate = Seq(("?x", "worksFor", "?org")),
        insertTemplate = Seq(("?org", "employs", "?x")))
        .select("s", "p", "o")
    },
      // DuckDB twin of q113 (SPARQL UPDATE): native EXCEPT/UNION set
      // algebra — (graph EXCEPT delete-instantiation) UNION
      // insert-instantiation, both templates from the same pre-update
      // binding set (EXCEPT and UNION are left-associative equal
      // precedence, so this parses as ((spo EXCEPT del) UNION ins)).
      Some(s"""WITH spo AS (
        |${spoSql(Lane.name, Lane.worksFor, Lane.labels(12))}
        |),
        |sols AS (
        |  SELECT w.s AS x, w.o AS org FROM spo w
        |  JOIN spo l ON l.p = 'label' AND l.s = w.o
        |  WHERE w.p = 'worksFor'
        |)
        |SELECT s, p, o FROM spo
        |EXCEPT
        |SELECT x, 'worksFor', org FROM sols
        |UNION
        |SELECT org, 'employs', x FROM sols""".stripMargin)),
    // OWL property-axiom violations: worksFor declared functional
    // (planted second employer on even multiples of 21), reportsTo
    // declared irreflexive (planted self-edge on multiples of 13);
    // each axiom is a predicate slice — count-distinct per (s,p) or
    // a pure filter, no joins
    Query("q115_owl_constraints", (s, d) => {
      val docs = t(s, d, "documents")
      val spo = Lane.worksFor(docs)
        .unionByName(docs
          .where(pmod(col("doc_id"), lit(21)) === 0 && pmod(col("doc_id"), lit(2)) === 0)
          .select(dId.as("s"), lit("worksFor").as("p"), lit("oX").as("o")))
        .unionByName(Lane.reportsTo(docs))
        .unionByName(docs.where(pmod(col("doc_id"), lit(13)) === 0)
          .select(dId.as("s"), lit("reportsTo").as("p"), dId.as("o")))
        .unionByName(Lane.name(docs))
      TripleOps.owlConstraintViolations(spo,
        functional = Seq("worksFor"), irreflexive = Seq("reportsTo"))
    },
      // DuckDB twin of q115 (OWL property axioms): functional as a
      // grouped distinct-count HAVING, irreflexive as the self-edge
      // filter; the name lane and legal edges contribute nothing.
      Some(s"""WITH spo AS (
        |${Lane.worksFor.sql}
        |  UNION ALL
        |  SELECT 'd' || CAST(doc_id AS VARCHAR), 'worksFor', 'oX'
        |  FROM documents WHERE doc_id % 21 = 0 AND doc_id % 2 = 0
        |  UNION ALL
        |${Lane.reportsTo.bare}
        |  UNION ALL
        |  SELECT 'd' || CAST(doc_id AS VARCHAR), 'reportsTo',
        |         'd' || CAST(doc_id AS VARCHAR) FROM documents WHERE doc_id % 13 = 0
        |  UNION ALL
        |${Lane.name.bare}
        |)
        |SELECT s, p, 'functional' AS violation, n FROM (
        |  SELECT s, p, CAST(COUNT(DISTINCT o) AS BIGINT) AS n
        |  FROM spo WHERE p = 'worksFor' GROUP BY s, p) f
        |WHERE n > 1
        |UNION ALL
        |SELECT s, p, 'irreflexive', CAST(1 AS BIGINT)
        |FROM spo WHERE p = 'reportsTo' AND s = o""".stripMargin)),
    // incremental BGP view maintenance: the crawl increment (odd %3
    // docs' employment edges — %6==0 re-asserts base triples, which
    // must yield nothing — plus two new org labels) answered by
    // delta-join telescoping against the base view, never a full
    // recompute; the oracle is the DEFINITION (sols(base ∪ Δ) EXCEPT
    // sols(base)), an independent formulation of the telescoped sum
    Query("q116_bgp_incremental", (s, d) => {
      val docs = t(s, d, "documents")
      val work = Lane.worksForAll(docs)
      val base = work.where(pmod(col("doc_id"), lit(2)) === 0)
        .unionByName(Lane.labels(12)(docs))
      val added = work.where(pmod(col("doc_id"), lit(3)) === 0)
        .unionByName(Lane.labels(14, from = 12)(docs))
      TripleOps.bgpDelta(base, added,
        Seq(("?x", "worksFor", "?org"), ("?org", "label", "?lbl")))
        .select(col("x"), col("org"), col("lbl"))
    },
      // DuckDB twin of q116 (incremental BGP): the DEFINITION of the
      // delta — solutions over base ∪ Δ (set union) EXCEPT solutions
      // over base — deliberately independent of the Spark side's
      // delta-join telescoping. base and fullg are each consumed twice
      // (the q71 rule → MATERIALIZED).
      Some(s"""WITH base AS MATERIALIZED (
        |${spoSql(Lane.worksFor, Lane.labels(12))}
        |),
        |delta AS (
        |  SELECT 'd' || CAST(doc_id AS VARCHAR) AS s, 'worksFor' AS p,
        |         'o' || CAST(doc_id % 16 AS VARCHAR) AS o FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |${Lane.labels(14, from = 12).bare}
        |),
        |fullg AS MATERIALIZED (
        |  SELECT s, p, o FROM base UNION SELECT s, p, o FROM delta
        |),
        |sols_full AS (
        |  SELECT w.s AS x, w.o AS org, l.o AS lbl FROM fullg w
        |  JOIN fullg l ON l.p = 'label' AND l.s = w.o WHERE w.p = 'worksFor'
        |),
        |sols_base AS (
        |  SELECT w.s AS x, w.o AS org, l.o AS lbl FROM base w
        |  JOIN base l ON l.p = 'label' AND l.s = w.o WHERE w.p = 'worksFor'
        |)
        |SELECT x, org, lbl FROM sols_full
        |EXCEPT
        |SELECT x, org, lbl FROM sols_base""".stripMargin)),
    // SPARQL 1.1 negated-property-set + zero-or-one path:
    // !(name)/worksFor? — follow any NON-schema link (employment or
    // mentorship), then optionally hop to the employer; the
    // zero-length leg of `?` keeps the direct link endpoints, the
    // one-length leg adds the mentee's org — the "any related entity"
    // traversal of a heterogeneous web KG
    Query("q119_path_negated", (s, d) => {
      val docs = t(s, d, "documents")
      val spo = spoOf(docs, Lane.name, Lane.worksFor)
        .unionByName(docs.where(pmod(col("doc_id"), lit(7)) === 0 && col("doc_id") > 0)
          .select(dId.as("s"), lit("mentorOf").as("p"),
            concat(lit("d"), expr("doc_id div 7")).as("o")))
      TripleOps.path(spo, Seq(TripleOps.NegatedSet(Seq("name")),
        TripleOps.ZeroOrOne("worksFor")))
        .select(col("src"), col("dst"))
    },
      // DuckDB twin of q119 (negated set + zero-or-one path): the
      // algebraic identity seq(A, B?) = A ∪ (A ⋈ B) written directly —
      // independent of the Spark side's identity-universe hop frame.
      Some(s"""WITH spo AS MATERIALIZED (
        |${spoSql(Lane.name, Lane.worksFor)}
        |  UNION ALL
        |  SELECT 'd' || CAST(doc_id AS VARCHAR), 'mentorOf',
        |         'd' || CAST(doc_id // 7 AS VARCHAR) FROM documents
        |  WHERE doc_id % 7 = 0 AND doc_id > 0
        |),
        |e AS MATERIALIZED (SELECT DISTINCT s AS src, o AS dst FROM spo WHERE p <> 'name'),
        |wf AS (SELECT DISTINCT s, o FROM spo WHERE p = 'worksFor')
        |SELECT src, dst FROM e
        |UNION
        |SELECT e.src, w.o FROM e JOIN wf w ON w.s = e.dst""".stripMargin)),
    // the retraction mirror of q116: a takedown batch (every fifth
    // doc's employment edge — the odd ones were never asserted and
    // must retract nothing — plus org 12's label) answered by the
    // first-delta-position telescoped sum; the oracle is again the
    // DEFINITION (sols(base) EXCEPT sols(base ∖ removed))
    Query("q118_bgp_retract", (s, d) => {
      val docs = t(s, d, "documents")
      val work = Lane.worksForAll(docs)
      val base = work.where(pmod(col("doc_id"), lit(2)) === 0)
        .unionByName(Lane.labels(14)(docs))
      val removed = work.where(pmod(col("doc_id"), lit(5)) === 0)
        .unionByName(Lane.labels(13, from = 12)(docs))
      TripleOps.bgpDeltaRetract(base, removed,
        Seq(("?x", "worksFor", "?org"), ("?org", "label", "?lbl")))
        .select(col("x"), col("org"), col("lbl"))
    },
      // DuckDB twin of q118 (BGP retraction): the DEFINITION of the lost
      // solutions — sols(base) EXCEPT sols(base ∖ removed) — independent
      // of the Spark side's first-delta-position telescoping. EXCEPT on
      // the triple level is exactly the Δ := removed ∩ base semi-join
      // (retracting a never-asserted triple is a no-op on the set).
      Some(s"""WITH base AS MATERIALIZED (
        |${spoSql(Lane.worksFor, Lane.labels(14))}
        |),
        |removed AS (
        |  SELECT 'd' || CAST(doc_id AS VARCHAR) AS s, 'worksFor' AS p,
        |         'o' || CAST(doc_id % 16 AS VARCHAR) AS o FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT 'o12', 'label', 'L12'
        |),
        |remain AS MATERIALIZED (
        |  SELECT s, p, o FROM base EXCEPT SELECT s, p, o FROM removed
        |),
        |sols_base AS (
        |  SELECT w.s AS x, w.o AS org, l.o AS lbl FROM base w
        |  JOIN base l ON l.p = 'label' AND l.s = w.o WHERE w.p = 'worksFor'
        |),
        |sols_remain AS (
        |  SELECT w.s AS x, w.o AS org, l.o AS lbl FROM remain w
        |  JOIN remain l ON l.p = 'label' AND l.s = w.o WHERE w.p = 'worksFor'
        |)
        |SELECT x, org, lbl FROM sols_base
        |EXCEPT
        |SELECT x, org, lbl FROM sols_remain""".stripMargin)),
    // typed-literal access layer: object terms in N-Triples form
    // ("lex"^^dt, "lex"@lang, "lex", bare IRIs) parsed into
    // (lex, dt, lang, kind) by shared RE2 patterns (the q36 rule),
    // then the SPARQL FILTER shape — integer-typed age > 50 OR an
    // English label; the cast is guarded by the datatype and exact
    // (integer lexical forms both engines)
    Query("q125_typed_literals", (s, d) => {
      val docs = t(s, d, "documents")
      val spo = Lane.age(docs)
        .unionByName(docs.select(dId.as("s"), lit("label").as("p"),
          concat(lit("\"name"), pmod(col("doc_id"), lit(100)),
            when(pmod(col("doc_id"), lit(2)) === 0, lit("\"@en"))
              .otherwise(lit("\"@de"))).as("o")))
        .unionByName(docs.select(dId.as("s"), lit("note").as("p"),
          concat(lit("\"plain"), pmod(col("doc_id"), lit(10)), lit("\"")).as("o")))
        .unionByName(Lane.worksFor(docs))
      val parsed = spo.select(Seq(col("s"), col("p")) ++ TripleOps.termColumns(col("o")): _*)
      parsed.where(col("kind") === "literal" &&
          ((col("dt") === "xsd:integer" && col("lex").cast("long") > 50) ||
            col("lang") === "en"))
        .select(col("s"), col("p"), col("lex"), col("dt"), col("lang"))
    },
      // DuckDB twin of q125 (typed literals): the SAME RE2 patterns
      // (TripleOps.TypedLitRe/LangLitRe/PlainLitRe, spliced — the q36
      // shared-constant rule; they contain `"` and `\`, both inert
      // inside single-quoted DuckDB strings), the same CASE parse, the
      // dt-guarded TRY_CAST filter.
      Some {
        val ty = TripleOps.TypedLitRe
        val la = TripleOps.LangLitRe
        val pl = TripleOps.PlainLitRe
        s"""WITH spo AS MATERIALIZED (
          |${Lane.age.sql}
          |  UNION ALL
          |  SELECT 'd' || CAST(doc_id AS VARCHAR), 'label',
          |         '"name' || CAST(doc_id % 100 AS VARCHAR) ||
          |         CASE WHEN doc_id % 2 = 0 THEN '"@en' ELSE '"@de' END FROM documents
          |  UNION ALL
          |  SELECT 'd' || CAST(doc_id AS VARCHAR), 'note',
          |         '"plain' || CAST(doc_id % 10 AS VARCHAR) || '"' FROM documents
          |  UNION ALL
          |${Lane.worksFor.bare}
          |),
          |parsed AS (
          |  SELECT s, p,
          |    CASE WHEN regexp_matches(o, '$ty') THEN regexp_extract(o, '$ty', 1)
          |         WHEN regexp_matches(o, '$la') THEN regexp_extract(o, '$la', 1)
          |         WHEN regexp_matches(o, '$pl') THEN regexp_extract(o, '$pl', 1)
          |         ELSE '' END AS lex,
          |    CASE WHEN regexp_matches(o, '$ty') THEN regexp_extract(o, '$ty', 2)
          |         ELSE '' END AS dt,
          |    CASE WHEN regexp_matches(o, '$ty') THEN ''
          |         WHEN regexp_matches(o, '$la') THEN regexp_extract(o, '$la', 2)
          |         ELSE '' END AS lang,
          |    CASE WHEN regexp_matches(o, '$ty') OR regexp_matches(o, '$la')
          |              OR regexp_matches(o, '$pl') THEN 'literal'
          |         ELSE 'iri_or_bnode' END AS kind
          |  FROM spo
          |)
          |SELECT s, p, lex, dt, lang FROM parsed
          |WHERE kind = 'literal' AND
          |      ((dt = 'xsd:integer' AND TRY_CAST(lex AS BIGINT) > 50) OR lang = 'en')""".stripMargin
      }),
    // RDF 1.1 skolemization (§3.5): bnode authors become well-known
    // genid IRIs (mergeable across datasets); the deskolemize inverse
    // is spec-pinned — the oracle replicates the mangle directly
    Query("q126_skolemize", (s, d) => {
      val docs = t(s, d, "documents")
      val spo = docs.where(pmod(col("doc_id"), lit(3)) === 0)
          .select(dId.as("s"), lit("author").as("p"),
            concat(lit("_:b"), pmod(col("doc_id"), lit(50))).as("o"))
        .unionByName(docs.where(pmod(col("doc_id"), lit(3)) === 0)
          .select(concat(lit("_:b"), pmod(col("doc_id"), lit(50))).as("s"),
            lit("name").as("p"), concat(lit("n"), pmod(col("doc_id"), lit(50))).as("o")))
        .unionByName(Lane.lang(docs))
      TripleOps.skolemize(spo.distinct()).select("s", "p", "o")
    },
      // DuckDB twin of q126 (skolemization): the genid mangle written as
      // a CASE/substring replacement over the SET-deduped graph.
      Some("""WITH spo AS (
        |  SELECT DISTINCT s, p, o FROM (
        |    SELECT 'd' || CAST(doc_id AS VARCHAR) AS s, 'author' AS p,
        |           '_:b' || CAST(doc_id % 50 AS VARCHAR) AS o FROM documents WHERE doc_id % 3 = 0
        |    UNION ALL
        |    SELECT '_:b' || CAST(doc_id % 50 AS VARCHAR), 'name',
        |           'n' || CAST(doc_id % 50 AS VARCHAR) FROM documents WHERE doc_id % 3 = 0
        |    UNION ALL
        |    SELECT 'd' || CAST(doc_id AS VARCHAR), 'lang', lang FROM documents
        |  ) u
        |)
        |SELECT
        |  CASE WHEN s LIKE '\_:%' ESCAPE '\'
        |       THEN 'https://graft.invalid/.well-known/genid/' || substring(s, 3)
        |       ELSE s END AS s,
        |  p,
        |  CASE WHEN o LIKE '\_:%' ESCAPE '\'
        |       THEN 'https://graft.invalid/.well-known/genid/' || substring(o, 3)
        |       ELSE o END AS o
        |FROM spo""".stripMargin)),
    // canonical per-graph digests over the per-source named graphs:
    // md5 of the binary-sorted distinct triple lines — the
    // publish-time integrity stamp (ground graphs; bnodes would
    // skolemize first, the spec's portability prescription)
    Query("q127_graph_digest", (s, d) => {
      val docs = t(s, d, "documents")
      val quads = docs.select(col("source").as("g"), dId.as("s"),
          lit("lang").as("p"), col("lang").as("o"))
        .unionByName(docs.select(col("source").as("g"), dId.as("s"),
          lit("bucket").as("p"), concat(lit("b"), pmod(col("doc_id"), lit(7))).as("o")))
      TripleOps.graphDigest(quads).select(col("g"), col("digest"), col("n_triples"))
    },
      // DuckDB twin of q127 (graph digest): ordered string_agg over the
      // distinct triple lines — binary collation matches Spark's
      // sort_array on the ASCII fixture (the digest itself is md5 both
      // sides).
      Some("""WITH quads AS (
        |  SELECT source AS g, 'd' || CAST(doc_id AS VARCHAR) AS s,
        |         'lang' AS p, lang AS o FROM documents
        |  UNION ALL
        |  SELECT source, 'd' || CAST(doc_id AS VARCHAR), 'bucket',
        |         'b' || CAST(doc_id % 7 AS VARCHAR) FROM documents
        |),
        |lines AS (SELECT DISTINCT g, s || ' ' || p || ' ' || o AS line FROM quads)
        |SELECT g, md5(string_agg(line, chr(10) ORDER BY line)) AS digest,
        |       CAST(COUNT(*) AS BIGINT) AS n_triples
        |FROM lines GROUP BY g""".stripMargin)),
    // RDFC-1.0 first-degree canonical labeling over per-source named
    // graphs with bnode authors: bnodes relabeled _:c{rank} by
    // first-degree hash (self = _:a, other bnodes = _:z), unique-hash
    // regime enforced (collision throws); bnode-bnode knows edges
    // exercise the _:z placeholder, and EVERY bnode carries its own
    // per-doc literal (name/note) — a dangling edge-target bnode's
    // only line would be '_:z knows _:a', indistinguishable from any
    // other dangling target in the graph (measured: 20 collisions)
    Query("q128_canonical_bnodes", (s, d) => {
      val quads = bnodeAuthorQuads(t(s, d, "documents"))
      TripleOps.canonicalBNodeQuads(quads).select("g", "s", "p", "o")
    },
      // DuckDB twin of q128 (canonical bnode labeling): the same
      // first-degree construction — per-mention lines with the reference
      // bnode as _:a and other bnodes as _:z (self-mention contributes
      // ONE line: the o-branch excludes s = o), md5 over the
      // binary-ORDER-BY string_agg (the q127 rule), row_number over the
      // collision-free hash order, two relabeling left joins. quads and
      // labeled are multi-consumed → MATERIALIZED (the q71 rule).
      Some(s"""WITH $q128Ctes
        |SELECT q.g, COALESCE(ls.c, q.s) AS s, q.p, COALESCE(lo.c, q.o) AS o
        |FROM quads q
        |LEFT JOIN labeled ls ON ls.g = q.g AND ls.b = q.s
        |LEFT JOIN labeled lo ON lo.g = q.g AND lo.b = q.o""".stripMargin)),
    // SPARQL numeric aggregates over TYPED literals — the SUM / MAX /
    // AVG / SAMPLE half of the aggregate surface (q105 carries the
    // counting half): ?x worksFor ?org . ?x age ?age (xsd:integer)
    // GROUP BY ?org. The lexical forms parse through the q125 term
    // layer with the dt-guarded exact integer cast; AVG publishes the
    // floor whole-unit quotient (sum div n on non-negative operands —
    // the q68 regime, no FP); SAMPLE's spec-arbitrary pick is pinned
    // to MIN (the q105 GROUP_CONCAT determinism rule)
    Query("q129_bgp_num_aggregates", (s, d) => {
      val spo = spoOf(t(s, d, "documents"), Lane.age, Lane.worksFor)
      val sols = TripleOps.bgp(spo, Seq(("?x", "worksFor", "?org"), ("?x", "age", "?a")))
      val typed = sols.select(col("org") +: TripleOps.termColumns(col("a")): _*)
        .where(col("kind") === "literal" && col("dt") === "xsd:integer")
        .select(col("org"), col("lex").cast("long").as("v"))
      typed.groupBy(col("org")).agg(
        count(lit(1)).as("n"),
        sum(col("v")).as("sum_age"),
        max(col("v")).as("max_age"),
        expr("sum(v) div count(1)").as("avg_age_floor"),
        min(col("v")).as("sample_age"))
    },
      // DuckDB twin of q129 (numeric aggregates): the q125 regex parse
      // of the typed object terms (shared RE2 pattern, dt-guarded exact
      // cast), then SUM / MAX / floor-AVG / MIN — the HUGEINT sum casts
      // back to BIGINT (the q70 rule) and the avg quotient is `//` on
      // non-negative operands only (the q68 regime, == Spark `div`).
      Some {
        val ty = TripleOps.TypedLitRe
        s"""WITH spo AS (
          |${spoSql(Lane.age, Lane.worksFor)}
          |), sols AS (
          |  SELECT w.o AS org, a.o AS a
          |  FROM spo w JOIN spo a ON a.s = w.s
          |  WHERE w.p = 'worksFor' AND a.p = 'age'
          |), typed AS (
          |  SELECT org, TRY_CAST(regexp_extract(a, '$ty', 1) AS BIGINT) AS v
          |  FROM sols
          |  WHERE regexp_matches(a, '$ty') AND regexp_extract(a, '$ty', 2) = 'xsd:integer'
          |)
          |SELECT org, CAST(count(*) AS BIGINT) AS n,
          |       CAST(sum(v) AS BIGINT) AS sum_age,
          |       max(v) AS max_age,
          |       CAST(sum(v) AS BIGINT) // CAST(count(*) AS BIGINT) AS avg_age_floor,
          |       min(v) AS sample_age
          |FROM typed GROUP BY org""".stripMargin
      }),
    // SPARQL string/term function layer over lang-tagged literals:
    // LANG()-guarded FILTER (en only) + STRSTARTS (substring equality,
    // not LIKE — the q75 escaping rule), then the BIND battery —
    // STRLEN / UCASE / SUBSTR / CONCAT / REPLACE. ASCII fixture keeps
    // length/upper engine-identical; the regex is RE2-subset (q31
    // rule) and single-match-per-string, with the 'g' flag pinned in
    // the oracle anyway
    Query("q131_sparql_strfuncs", (s, d) => {
      val docs = t(s, d, "documents")
      val spo = docs.select(dId.as("s"), lit("label").as("p"),
        concat(lit("\"name"), pmod(col("doc_id"), lit(100)),
          when(pmod(col("doc_id"), lit(2)) === 0, lit("\"@en"))
            .otherwise(lit("\"@de"))).as("o"))
      val parsed = spo.select(Seq(col("s")) ++ TripleOps.termColumns(col("o")): _*)
      parsed.where(col("kind") === "literal" && col("lang") === "en" &&
          substring(col("lex"), 1, 5) === "name1")
        .select(col("s"), col("lex"), col("lang"),
          length(col("lex")).cast("bigint").as("len"),
          upper(col("lex")).as("up"),
          substring(col("lex"), 1, 4).as("pre"),
          concat(col("lex"), lit("@"), col("lang")).as("full"),
          regexp_replace(col("lex"), "[0-9]+", "N").as("masked"))
    },
      // DuckDB twin of q131 (string functions): the q125 regex parse,
      // then the same function battery — substring is (start, LENGTH)
      // 1-based in BOTH engines here (unlike list_slice, the q57 trap),
      // regexp_replace carries the explicit 'g' flag (DuckDB defaults to
      // first-match; Spark replaces all).
      Some {
        val la = TripleOps.LangLitRe
        s"""WITH spo AS (
          |  SELECT 'd' || CAST(doc_id AS VARCHAR) AS s,
          |         '"name' || CAST(doc_id % 100 AS VARCHAR) ||
          |         CASE WHEN doc_id % 2 = 0 THEN '"@en' ELSE '"@de' END AS o
          |  FROM documents
          |), parsed AS (
          |  SELECT s, regexp_extract(o, '$la', 1) AS lex, regexp_extract(o, '$la', 2) AS lang
          |  FROM spo WHERE regexp_matches(o, '$la')
          |)
          |SELECT s, lex, lang,
          |       CAST(length(lex) AS BIGINT) AS len,
          |       upper(lex) AS up,
          |       substring(lex, 1, 4) AS pre,
          |       lex || '@' || lang AS "full",
          |       regexp_replace(lex, '[0-9]+', 'N', 'g') AS masked
          |FROM parsed
          |WHERE lang = 'en' AND substring(lex, 1, 5) = 'name1'""".stripMargin
      }),
    // dataset diff + patch (the RDF-Patch shape): two ground graph
    // versions — v2 rewrites %5-docs' lang, drops the odd half of the
    // bucket lane and adds a %3 lane — diffed into tagged A/D rows;
    // the spec pins applyPatch(prev, diff) == next
    Query("q132_graph_diff", (s, d) => {
      val docs = t(s, d, "documents")
      val prev = Lane.lang(docs)
        .unionByName(docs.where(pmod(col("doc_id"), lit(2)) === 0)
          .select(dId.as("s"), lit("bucket").as("p"),
            concat(lit("b"), pmod(col("doc_id"), lit(7))).as("o")))
      val next = docs.select(dId.as("s"), lit("lang").as("p"),
          when(pmod(col("doc_id"), lit(5)) === 0, lit("xx")).otherwise(col("lang")).as("o"))
        .unionByName(docs.where(pmod(col("doc_id"), lit(3)) === 0)
          .select(dId.as("s"), lit("bucket").as("p"),
            concat(lit("b"), pmod(col("doc_id"), lit(7))).as("o")))
      TripleOps.graphDiff(prev, next).select("op", "s", "p", "o")
    },
      // DuckDB twin of q132 (graph diff): EXCEPT both directions over
      // the two version CTEs — the definitional form, independent of the
      // Spark side's anti-join plan.
      Some(s"""WITH prev AS MATERIALIZED (
        |${Lane.lang.sql}
        |  UNION ALL
        |  SELECT 'd' || CAST(doc_id AS VARCHAR), 'bucket', 'b' || CAST(doc_id % 7 AS VARCHAR)
        |  FROM documents WHERE doc_id % 2 = 0
        |), nxt AS MATERIALIZED (
        |  SELECT 'd' || CAST(doc_id AS VARCHAR) AS s, 'lang' AS p,
        |         CASE WHEN doc_id % 5 = 0 THEN 'xx' ELSE lang END AS o FROM documents
        |  UNION ALL
        |  SELECT 'd' || CAST(doc_id AS VARCHAR), 'bucket', 'b' || CAST(doc_id % 7 AS VARCHAR)
        |  FROM documents WHERE doc_id % 3 = 0
        |)
        |SELECT 'A' AS op, s, p, o FROM (SELECT s, p, o FROM nxt EXCEPT SELECT s, p, o FROM prev)
        |UNION ALL
        |SELECT 'D', s, p, o FROM (SELECT s, p, o FROM prev EXCEPT SELECT s, p, o FROM nxt)""".stripMargin)),
    // KG-embedding training prep: k=3 filtered tail corruptions per
    // positive — dense entity indices via the q73 two-phase rank
    // (oracle replays it as ONE naive ORDER BY (md5-prefix, ent)),
    // integer multiplicative stepping picks the corrupt index, and
    // corruptions colliding with true positives anti-join away
    Query("q133_kg_negatives", (s, d) => {
      val edges = spoOf(t(s, d, "documents"), Lane.worksFor, Lane.memberOf).toDF("h", "r", "t")
      TripleOps.negativeSamples(edges, k = 3)
        .select("h", "r", "t", "neg_k", "t_neg")
    },
      Some(q133Sql())),
    // schema summary (quotient graph): class-level edge bundles of
    // the typed instance graph — docs typed c{id%12}, orgs typed
    // Org{k%3}, worksFor edges between them; multi-typed sources
    // (%4-docs carry a second type) fan into one bundle row per
    // class pair, the q91-closure-compatible semantics
    Query("q134_schema_summary", (s, d) => {
      val docs = t(s, d, "documents")
      val types = docs.select(dId.as("inst"),
          concat(lit("c"), pmod(col("doc_id"), lit(12))).as("cls"))
        .unionByName(docs.where(pmod(col("doc_id"), lit(4)) === 0)
          .select(dId.as("inst"), lit("cSpecial").as("cls")))
        .unionByName(docs.select(concat(lit("o"), pmod(col("doc_id"), lit(16))).as("inst"),
          concat(lit("Org"), pmod(pmod(col("doc_id"), lit(16)), lit(3))).as("cls")))
      TripleOps.schemaSummary(types, Lane.worksFor(docs))
        .select("src_cls", "p", "dst_cls", "n_edges", "n_src", "n_dst")
    },
      // DuckDB twin of q134 (schema summary): the same two typing joins
      // + grouped counts, types deduped first (the multi-type fan-out is
      // the semantics, duplicate type rows are not).
      Some(s"""WITH types AS MATERIALIZED (
        |  SELECT DISTINCT inst, cls FROM (
        |    SELECT 'd' || CAST(doc_id AS VARCHAR) AS inst,
        |           'c' || CAST(doc_id % 12 AS VARCHAR) AS cls FROM documents
        |    UNION ALL
        |    SELECT 'd' || CAST(doc_id AS VARCHAR), 'cSpecial' FROM documents WHERE doc_id % 4 = 0
        |    UNION ALL
        |    SELECT 'o' || CAST(doc_id % 16 AS VARCHAR),
        |           'Org' || CAST((doc_id % 16) % 3 AS VARCHAR) FROM documents
        |  ) u
        |), edges AS (
        |${Lane.worksFor.sql}
        |)
        |SELECT ts.cls AS src_cls, ed.p, tt.cls AS dst_cls,
        |       CAST(count(*) AS BIGINT) AS n_edges,
        |       CAST(count(DISTINCT ed.s) AS BIGINT) AS n_src,
        |       CAST(count(DISTINCT ed.o) AS BIGINT) AS n_dst
        |FROM edges ed
        |JOIN types ts ON ts.inst = ed.s
        |JOIN types tt ON tt.inst = ed.o
        |GROUP BY ts.cls, ed.p, tt.cls""".stripMargin)),
    // the composition the q128 machinery exists FOR: canonical
    // labeling then the q127 digest = isomorphism-invariant integrity
    // stamps for bnode-BEARING named graphs (the q128 fixture's quads,
    // so the oracle is q128's pipeline with q127's digest tail)
    Query("q135_canonical_digest", (s, d) => {
      val quads = bnodeAuthorQuads(t(s, d, "documents"))
      TripleOps.graphDigest(TripleOps.canonicalBNodeQuads(quads))
        .select(col("g"), col("digest"), col("n_triples"))
    },
      // DuckDB twin of q135: the q128 canonicalization pipeline with the
      // q127 digest tail over the relabeled lines.
      Some {
        s"""WITH $q128Ctes
          |, relabeled AS (
          |  SELECT DISTINCT q.g, COALESCE(ls.c, q.s) || ' ' || q.p || ' ' || COALESCE(lo.c, q.o) AS line
          |  FROM quads q
          |  LEFT JOIN labeled ls ON ls.g = q.g AND ls.b = q.s
          |  LEFT JOIN labeled lo ON lo.g = q.g AND lo.b = q.o
          |)
          |SELECT g, md5(string_agg(line, chr(10) ORDER BY line)) AS digest,
          |       CAST(COUNT(*) AS BIGINT) AS n_triples
          |FROM relabeled GROUP BY g""".stripMargin
      }),
    // time-travel snapshots of a versioned assertion log: lang
    // asserted at 1000+id%7, retracted for %5-docs at 2000,
    // re-asserted 'yy' for %10-docs at 3000; bucket lane at 1500.
    // Snapshot semantics: latest event ≤ T wins, asserts survive —
    // evaluated at T=2500 (retractions visible, re-asserts not) and
    // T=3500 (re-asserts back), union-tagged by t_at
    Query("q136_triple_snapshot", (s, d) => {
      val docs = t(s, d, "documents")
      val log = docs.select((lit(1000) + pmod(col("doc_id"), lit(7))).cast("bigint").as("ts"),
          lit("A").as("op"), dId.as("s"), lit("lang").as("p"), col("lang").as("o"))
        .unionByName(docs.where(pmod(col("doc_id"), lit(5)) === 0)
          .select(lit(2000L).as("ts"), lit("D").as("op"), dId.as("s"),
            lit("lang").as("p"), col("lang").as("o")))
        .unionByName(docs.where(pmod(col("doc_id"), lit(10)) === 0)
          .select(lit(3000L).as("ts"), lit("A").as("op"), dId.as("s"),
            lit("lang").as("p"), lit("yy").as("o")))
        .unionByName(docs.where(pmod(col("doc_id"), lit(2)) === 0)
          .select(lit(1500L).as("ts"), lit("A").as("op"), dId.as("s"),
            lit("bucket").as("p"), concat(lit("b"), pmod(col("doc_id"), lit(7))).as("o")))
      TripleOps.snapshotAt(log, 2500L).select(lit(2500L).as("t_at"), col("s"), col("p"), col("o"))
        .unionByName(TripleOps.snapshotAt(log, 3500L)
          .select(lit(3500L).as("t_at"), col("s"), col("p"), col("o")))
    },
      // DuckDB twin of q136 (snapshots): the same last-event-wins
      // formulation — grouped max(ts) per (cut, triple) joined back to
      // the event log, asserts survive — evaluated for both cuts via a
      // cross join with the unnested cutoff list.
      Some("""WITH log AS MATERIALIZED (
        |  SELECT CAST(1000 + doc_id % 7 AS BIGINT) AS ts, 'A' AS op,
        |         'd' || CAST(doc_id AS VARCHAR) AS s, 'lang' AS p, lang AS o FROM documents
        |  UNION ALL
        |  SELECT 2000, 'D', 'd' || CAST(doc_id AS VARCHAR), 'lang', lang
        |  FROM documents WHERE doc_id % 5 = 0
        |  UNION ALL
        |  SELECT 3000, 'A', 'd' || CAST(doc_id AS VARCHAR), 'lang', 'yy'
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT 1500, 'A', 'd' || CAST(doc_id AS VARCHAR), 'bucket',
        |         'b' || CAST(doc_id % 7 AS VARCHAR) FROM documents WHERE doc_id % 2 = 0
        |), cuts AS (SELECT CAST(unnest([2500, 3500]) AS BIGINT) AS t_at),
        |ev AS MATERIALIZED (
        |  SELECT c.t_at, l.ts, l.op, l.s, l.p, l.o
        |  FROM log l CROSS JOIN cuts c WHERE l.ts <= c.t_at
        |), last AS (
        |  SELECT t_at, s, p, o, max(ts) AS ts FROM ev GROUP BY t_at, s, p, o
        |)
        |SELECT la.t_at, la.s, la.p, la.o
        |FROM last la JOIN ev USING (t_at, s, p, o, ts)
        |WHERE ev.op = 'A'""".stripMargin)),
    // CONSTRUCT with template BLANK NODES (SPARQL spec: fresh bnodes
    // per solution, one node per template label within a solution):
    // each worksFor solution grows a qualified role node _:r carrying
    // the employee, the org and a type — the deterministic label is
    // name + 'x' + md5 over the sorted-column binding tuple, which
    // the oracle replays verbatim
    Query("q137_construct_bnodes", (s, d) => {
      val spo = Lane.worksFor(t(s, d, "documents"))
      val sols = TripleOps.bgp(spo, Seq(("?x", "worksFor", "?org")))
      TripleOps.construct(sols, Seq(
        ("?x", "hasRole", "_:r"), ("_:r", "roleIn", "?org"), ("_:r", "type", "Role")))
        .select("s", "p", "o")
    },
      // DuckDB twin of q137 (CONSTRUCT bnodes): the same deterministic
      // per-solution label — 'rx' || md5(org || chr(1) || x), the
      // solution's columns in sorted-name order (org, x) — across the
      // three template lanes, then the graph-set DISTINCT.
      Some("""WITH sols AS MATERIALIZED (
        |  SELECT 'd' || CAST(doc_id AS VARCHAR) AS x,
        |         'o' || CAST(doc_id % 16 AS VARCHAR) AS org
        |  FROM documents WHERE doc_id % 2 = 0
        |), bn AS MATERIALIZED (
        |  SELECT x, org, '_:rx' || md5(org || chr(1) || x) AS r FROM sols
        |)
        |SELECT DISTINCT s, p, o FROM (
        |  SELECT x AS s, 'hasRole' AS p, r AS o FROM bn
        |  UNION ALL SELECT r, 'roleIn', org FROM bn
        |  UNION ALL SELECT r, 'type', 'Role' FROM bn
        |) u""".stripMargin)),
    // SPARQL results-CSV serialization: RFC-4180 quoting over a
    // solution table whose values exercise every lane — embedded
    // comma, embedded quote (doubled), and plain — plus the
    // header-first discipline (is_header column; an empty solution
    // set still yields the header line)
    Query("q138_results_csv", (s, d) => {
      val docs = t(s, d, "documents")
      val sols = docs.select(dId.as("x"),
        concat(lit("v,"), pmod(col("doc_id"), lit(10))).as("a"),
        concat(lit("q\""), pmod(col("doc_id"), lit(7))).as("b"),
        col("lang").as("c"))
      TripleOps.resultsCsv(sols, Seq("x", "a", "b", "c"))
        .select("is_header", "line")
    },
      // DuckDB twin of q138 (results CSV): the same RFC-4180 CASE per
      // field — regexp_matches on the quote/comma/CR/LF class, inner
      // quotes doubled via replace — and the header as its own
      // constant-select lane.
      Some("""WITH sols AS (
        |  SELECT 'd' || CAST(doc_id AS VARCHAR) AS x,
        |         'v,' || CAST(doc_id % 10 AS VARCHAR) AS a,
        |         'q"' || CAST(doc_id % 7 AS VARCHAR) AS b,
        |         lang AS c
        |  FROM documents
        |), fields AS (
        |  SELECT
        |    CASE WHEN regexp_matches(x, '[",\r\n]') THEN '"' || replace(x, '"', '""') || '"' ELSE x END AS fx,
        |    CASE WHEN regexp_matches(a, '[",\r\n]') THEN '"' || replace(a, '"', '""') || '"' ELSE a END AS fa,
        |    CASE WHEN regexp_matches(b, '[",\r\n]') THEN '"' || replace(b, '"', '""') || '"' ELSE b END AS fb,
        |    CASE WHEN regexp_matches(c, '[",\r\n]') THEN '"' || replace(c, '"', '""') || '"' ELSE c END AS fc
        |  FROM sols
        |)
        |SELECT CAST(0 AS BIGINT) AS is_header, 'x,a,b,c' AS line
        |UNION ALL
        |SELECT 1, fx || ',' || fa || ',' || fb || ',' || fc FROM fields""".stripMargin)),
    // incremental AGGREGATE-view maintenance: the q134 schema summary
    // refreshed under edge additions — additive n_added telescopes
    // from the delta, distinct cardinalities re-derive over TOUCHED
    // class pairs only; %6-docs' added edges land on a new predicate
    // (fundedBy), %4-docs duplicate existing worksFor edges (must not
    // touch). Oracle = the definitional full summary semi-joined to
    // the genuinely-new delta's groups
    Query("q139_schema_summary_delta", (s, d) => {
      val docs = t(s, d, "documents")
      val oId = concat(lit("o"), pmod(col("doc_id"), lit(16)))
      val types = docs.select(dId.as("inst"),
          concat(lit("c"), pmod(col("doc_id"), lit(12))).as("cls"))
        .unionByName(docs.select(oId.as("inst"),
          concat(lit("Org"), pmod(pmod(col("doc_id"), lit(16)), lit(3))).as("cls")))
      val base = Lane.worksFor(docs)
      val added = docs.where(pmod(col("doc_id"), lit(6)) === 0)
          .select(dId.as("s"), lit("fundedBy").as("p"), oId.as("o"))
        .unionByName(docs.where(pmod(col("doc_id"), lit(4)) === 0)
          .select(dId.as("s"), lit("worksFor").as("p"), oId.as("o")))
      TripleOps.schemaSummaryDelta(types, base, added)
        .select("src_cls", "p", "dst_cls", "n_added", "n_edges", "n_src", "n_dst")
    },
      // DuckDB twin of q139 (summary delta): the DEFINITIONAL form —
      // full summary of base ∪ added, restricted to the class-pair
      // groups of the genuinely-new delta (added EXCEPT base), with the
      // delta's own per-group count joined in — independent of the
      // Spark side's semi-join telescoping.
      Some(s"""WITH types AS MATERIALIZED (
        |  SELECT DISTINCT inst, cls FROM (
        |    SELECT 'd' || CAST(doc_id AS VARCHAR) AS inst,
        |           'c' || CAST(doc_id % 12 AS VARCHAR) AS cls FROM documents
        |    UNION ALL
        |    SELECT 'o' || CAST(doc_id % 16 AS VARCHAR),
        |           'Org' || CAST((doc_id % 16) % 3 AS VARCHAR) FROM documents
        |  ) u
        |), base AS MATERIALIZED (
        |${Lane.worksFor.sql}
        |), added AS MATERIALIZED (
        |  SELECT 'd' || CAST(doc_id AS VARCHAR) AS s, 'fundedBy' AS p,
        |         'o' || CAST(doc_id % 16 AS VARCHAR) AS o FROM documents WHERE doc_id % 6 = 0
        |  UNION ALL
        |  SELECT 'd' || CAST(doc_id AS VARCHAR), 'worksFor',
        |         'o' || CAST(doc_id % 16 AS VARCHAR) FROM documents WHERE doc_id % 4 = 0
        |), addnew AS MATERIALIZED (
        |  SELECT s, p, o FROM added EXCEPT SELECT s, p, o FROM base
        |), delta AS MATERIALIZED (
        |  SELECT ts.cls AS src_cls, an.p, tt.cls AS dst_cls,
        |         CAST(count(*) AS BIGINT) AS n_added
        |  FROM addnew an JOIN types ts ON ts.inst = an.s JOIN types tt ON tt.inst = an.o
        |  GROUP BY ts.cls, an.p, tt.cls
        |), allq AS (
        |  SELECT DISTINCT s, p, o FROM (SELECT * FROM base UNION ALL SELECT * FROM added) v
        |), full_sum AS (
        |  SELECT ts.cls AS src_cls, e.p, tt.cls AS dst_cls,
        |         CAST(count(*) AS BIGINT) AS n_edges,
        |         CAST(count(DISTINCT e.s) AS BIGINT) AS n_src,
        |         CAST(count(DISTINCT e.o) AS BIGINT) AS n_dst
        |  FROM allq e JOIN types ts ON ts.inst = e.s JOIN types tt ON tt.inst = e.o
        |  GROUP BY ts.cls, e.p, tt.cls
        |)
        |SELECT f.src_cls, f.p, f.dst_cls, d.n_added, f.n_edges, f.n_src, f.n_dst
        |FROM full_sum f JOIN delta d
        |  ON d.src_cls = f.src_cls AND d.p = f.p AND d.dst_cls = f.dst_cls""".stripMargin)),
    // PROJECTED-view retraction (full DRed): the view projects ?x out
    // of (?x worksFor ?org)(?org label ?lbl) — removing the labels of
    // orgs o0..o7 over-deletes every x working for them, but %4-docs
    // re-derive through their second (oX) affiliation and survive;
    // oracle is the definitional proj(sols(base)) EXCEPT
    // proj(sols(base∖removed))
    Query("q140_bgp_retract_projected", (s, d) => {
      val docs = t(s, d, "documents")
      val base = Lane.worksForAll(docs)
        .unionByName(docs.where(pmod(col("doc_id"), lit(4)) === 0)
          .select(dId.as("s"), lit("worksFor").as("p"), lit("oX").as("o")))
        .unionByName(Lane.labels(16)(docs))
        .unionByName(s.range(1).select(lit("oX").as("s"),
          lit("label").as("p"), lit("LX").as("o")))
      val removed = Lane.labels(8)(docs)
      TripleOps.bgpDeltaRetractProjected(base, removed,
        Seq(("?x", "worksFor", "?org"), ("?org", "label", "?lbl")), Seq("?x"))
        .select("x")
    },
      // DuckDB twin of q140 (projected retraction): the DEFINITIONAL
      // proj(sols(base)) EXCEPT proj(sols(base ∖ removed)) — the q132
      // rule: keep the oracle the definition, independent of the Spark
      // side's over-delete/re-derive (DRed) split. remain is EXCEPT-set,
      // matching the Spark anti-join on exact (s,p,o).
      Some(s"""WITH base AS MATERIALIZED (
        |${Lane.worksForAll.sql}
        |  UNION ALL
        |  SELECT 'd' || CAST(doc_id AS VARCHAR), 'worksFor', 'oX'
        |  FROM documents WHERE doc_id % 4 = 0
        |  UNION ALL
        |${Lane.labels(16).bare}
        |  UNION ALL
        |  SELECT 'oX', 'label', 'LX'
        |),
        |removed AS (
        |  SELECT 'o' || CAST(i AS VARCHAR) AS s, 'label' AS p,
        |         'L' || CAST(i AS VARCHAR) AS o FROM range(0, 8) t(i)
        |),
        |remain AS MATERIALIZED (
        |  SELECT s, p, o FROM base EXCEPT SELECT s, p, o FROM removed
        |),
        |proj_base AS (
        |  SELECT DISTINCT w.s AS x FROM base w
        |  JOIN base l ON l.p = 'label' AND l.s = w.o WHERE w.p = 'worksFor'
        |),
        |proj_remain AS (
        |  SELECT DISTINCT w.s AS x FROM remain w
        |  JOIN remain l ON l.p = 'label' AND l.s = w.o WHERE w.p = 'worksFor'
        |)
        |SELECT x FROM proj_base EXCEPT SELECT x FROM proj_remain""".stripMargin)),
    // RDF collection (rdf:List) reconstruction: per-doc cons-cell
    // chains of length 1 + doc_id%4 unrolled into ordered
    // (s, p, idx, elem) rows; %10-docs also enter mid-chain (suffix
    // re-based at idx 0), %5-docs carry an empty-list (nil) entry
    // that emits nothing. Oracle walks the same chains with a
    // recursive CTE
    Query("q141_rdf_list_unroll", (s, d) => {
      val docs = t(s, d, "documents")
      val lm1 = pmod(col("doc_id"), lit(4))
      val cell = (i: Column) => concat(lit("c"), col("doc_id"), lit("_"), i)
      val cells = docs.select(col("doc_id"), lm1.as("lm1"),
        explode(sequence(lit(0), lm1)).as("i"))
      val firsts = cells.select(cell(col("i")).as("s"), lit("first").as("p"),
        concat(lit("e"), pmod(col("doc_id") + col("i"), lit(7))).as("o"))
      val rests = cells.select(cell(col("i")).as("s"), lit("rest").as("p"),
        when(col("i") < col("lm1"), cell(col("i") + 1)).otherwise(lit("nil")).as("o"))
      val entries = docs.select(dId.as("s"),
          lit("keywords").as("p"), cell(lit(0)).as("o"))
        .unionByName(docs.where(pmod(col("doc_id"), lit(10)) === 0 && lm1 >= 1)
          .select(dId.as("s"),
            lit("top2").as("p"), cell(lit(1)).as("o")))
        .unionByName(docs.where(pmod(col("doc_id"), lit(5)) === 0)
          .select(dId.as("s"),
            lit("alsoTags").as("p"), lit("nil").as("o")))
      TripleOps.rdfListUnroll(firsts.unionByName(rests).unionByName(entries))
        .select("s", "p", "idx", "elem")
    },
      // DuckDB twin of q141 (rdf:List unroll): the same cons-cell
      // fixture rebuilt via unnest(range(...)), then a RECURSIVE walk
      // down the rest-chain carrying the index — an independent O(len)
      // formulation of the Spark side's pointer doubling. Safe here
      // because chains cap at 4 cells (the q117 don't-fatten rule).
      // Empty-list (nil) entries never seed the walk.
      Some("""WITH RECURSIVE cells AS MATERIALIZED (
        |  SELECT doc_id, doc_id % 4 AS lm1, unnest(range(0, doc_id % 4 + 1)) AS i
        |  FROM documents
        |), firsts AS MATERIALIZED (
        |  SELECT 'c' || CAST(doc_id AS VARCHAR) || '_' || CAST(i AS VARCHAR) AS s,
        |         'e' || CAST((doc_id + i) % 7 AS VARCHAR) AS o FROM cells
        |), rests AS MATERIALIZED (
        |  SELECT 'c' || CAST(doc_id AS VARCHAR) || '_' || CAST(i AS VARCHAR) AS s,
        |         CASE WHEN i < lm1
        |              THEN 'c' || CAST(doc_id AS VARCHAR) || '_' || CAST(i + 1 AS VARCHAR)
        |              ELSE 'nil' END AS o
        |  FROM cells
        |), entries AS (
        |  SELECT 'd' || CAST(doc_id AS VARCHAR) AS s, 'keywords' AS p,
        |         'c' || CAST(doc_id AS VARCHAR) || '_0' AS head FROM documents
        |  UNION ALL
        |  SELECT 'd' || CAST(doc_id AS VARCHAR), 'top2',
        |         'c' || CAST(doc_id AS VARCHAR) || '_1'
        |  FROM documents WHERE doc_id % 10 = 0 AND doc_id % 4 >= 1
        |  UNION ALL
        |  SELECT 'd' || CAST(doc_id AS VARCHAR), 'alsoTags', 'nil'
        |  FROM documents WHERE doc_id % 5 = 0
        |), walk AS (
        |  SELECT e.s, e.p, e.head AS cell, 0 AS idx FROM entries e WHERE e.head <> 'nil'
        |  UNION ALL
        |  SELECT w.s, w.p, r.o, w.idx + 1 FROM walk w
        |  JOIN rests r ON r.s = w.cell AND r.o <> 'nil'
        |)
        |SELECT w.s, w.p, CAST(w.idx AS BIGINT) AS idx, f.o AS elem
        |FROM walk w JOIN firsts f ON f.s = w.cell""".stripMargin)),
    // SPARQL GROUP_CONCAT: per-org member lists, order pinned to the
    // zero-padded subject id (the q117/q98 rule: lexicographic ==
    // numeric) — SPARQL leaves concat order implementation-defined,
    // so both engines sort explicitly on the same unique key
    Query("q142_group_concat", (s, d) => {
      val docs = t(s, d, "documents")
      val spo = docs.select(format_string("d%06d", col("doc_id")).as("s"),
        lit("worksFor").as("p"), concat(lit("o"), pmod(col("doc_id"), lit(16))).as("o"))
      val sols = TripleOps.bgp(spo, Seq(("?x", "worksFor", "?org")))
      TripleOps.groupConcat(sols, Seq("org"), "x", "x", ",", out = "members")
        .select("org", "members")
    },
      // DuckDB twin of q142 (GROUP_CONCAT): string_agg with an explicit
      // ORDER BY on the zero-padded unique member id — the q103 rule
      // (never an implementation-defined concat order) on the q117
      // printf == format_string identity.
      Some("""SELECT 'o' || CAST(doc_id % 16 AS VARCHAR) AS org,
        |       string_agg(printf('d%06d', doc_id), ','
        |                  ORDER BY printf('d%06d', doc_id)) AS members
        |FROM documents GROUP BY 1""".stripMargin)),
    // IFP entity resolution end-to-end: subjects sharing an email
    // (doc_id%17 classes) are inferred sameAs (star-to-min links),
    // then the graph is canonicalized — emails collapse to one row
    // per identity class, labels re-subject onto the class minimum.
    // Zero-padded ids make the CC's lexicographic min numeric (q98)
    Query("q143_ifp_entity_resolution", (s, d) => {
      val docs = t(s, d, "documents")
      val dId = format_string("d%06d", col("doc_id"))
      val spo = docs.select(dId.as("s"), lit("email").as("p"),
          concat(lit("e"), pmod(col("doc_id"), lit(17))).as("o"))
        .unionByName(docs.select(dId.as("s"), lit("label").as("p"),
          concat(lit("L"), col("doc_id")).as("o")))
      val sa = TripleOps.ifpSameAs(spo, Seq("email"))
      TripleOps.sameAsCanonicalize(spo.unionByName(sa))
        .select("s", "p", "o")
    },
      // DuckDB twin of q143 (IFP resolution): the canonical member of
      // each email class is the window min over the zero-padded id
      // (q98: lexicographic == numeric) — an independent formulation of
      // infer-star-links-then-CC, valid because email classes are
      // DISJOINT by construction (single IFP, one value per subject);
      // cross-value chaining is the unit spec's job, not this fixture's.
      Some("""WITH canon AS MATERIALIZED (
        |  SELECT printf('d%06d', doc_id) AS node,
        |         'e' || CAST(doc_id % 17 AS VARCHAR) AS em,
        |         'L' || CAST(doc_id AS VARCHAR) AS lbl,
        |         min(printf('d%06d', doc_id)) OVER (PARTITION BY doc_id % 17) AS c
        |  FROM documents
        |)
        |SELECT DISTINCT c AS s, 'email' AS p, em AS o FROM canon
        |UNION
        |SELECT c, 'label', lbl FROM canon""".stripMargin)),
    // SPARQL p+ (unbounded one-or-more path) over the div-2 link
    // tree: every node reaches all its ancestors down to the root —
    // transitive closure via pair doubling, oracled by an
    // independent recursive walk
    Query("q144_path_closure", (s, d) => {
      val docs = t(s, d, "documents")
      val edges = docs.where(col("doc_id") >= 1)
        .select(format_string("n%06d", col("doc_id")).as("s"),
          lit("linksTo").as("p"),
          format_string("n%06d", expr("doc_id div 2")).as("o"))
      TripleOps.path(edges, Seq(TripleOps.OneOrMore("linksTo")))
        .select("src", "dst")
    },
      // DuckDB twin of q144 (p+ closure): recursive ancestor walk over
      // the div-2 tree — `doc_id // 2` on non-negatives is Spark's
      // `div` (q62 rule); UNION-dedup recursion terminates at the root.
      Some("""WITH RECURSIVE e AS MATERIALIZED (
        |  SELECT doc_id AS a, doc_id // 2 AS b FROM documents WHERE doc_id >= 1
        |), walk AS (
        |  SELECT a, b FROM e
        |  UNION
        |  SELECT w.a, e2.b FROM walk w JOIN e e2 ON e2.a = w.b
        |)
        |SELECT printf('n%06d', a) AS src, printf('n%06d', b) AS dst FROM walk""".stripMargin)),
    // SHACL property-pair constraints: sh:equals (one-sided extra
    // alias), sh:disjoint (planted shared tag), sh:lessThan (inverted
    // low/high lane — the min collapse of the every-pair rule), and
    // sh:uniqueLang (duplicated @en label); each lane fires on its
    // own residue class, conforming docs stay silent
    Query("q180_shacl_pairs", (s, d) => {
      val docs = t(s, d, "documents")
      val m = pmod(col("doc_id"), lit(50))
      val spo = docs.select(dId.as("s"), lit("alias_a").as("p"),
          concat(lit("\"a"), pmod(col("doc_id"), lit(20)), lit("\"")).as("o"))
        .unionByName(docs.where(pmod(col("doc_id"), lit(7)) === 0)
          .select(dId.as("s"), lit("alias_a").as("p"), lit("\"extra\"").as("o")))
        .unionByName(docs.select(dId.as("s"), lit("alias_b").as("p"),
          concat(lit("\"a"), pmod(col("doc_id"), lit(20)), lit("\"")).as("o")))
        .unionByName(docs.select(dId.as("s"), lit("tag").as("p"),
          concat(lit("\"t"), pmod(col("doc_id"), lit(12)), lit("\"")).as("o")))
        .unionByName(docs.select(dId.as("s"), lit("banned").as("p"),
          concat(lit("\"t"), pmod(col("doc_id") + 1, lit(12)), lit("\"")).as("o")))
        .unionByName(docs.where(pmod(col("doc_id"), lit(11)) === 0)
          .select(dId.as("s"), lit("banned").as("p"),
            concat(lit("\"t"), pmod(col("doc_id"), lit(12)), lit("\"")).as("o")))
        .unionByName(docs.select(dId.as("s"), lit("low").as("p"),
          concat(lit("\""), m, lit("\"^^xsd:integer")).as("o")))
        .unionByName(docs.select(dId.as("s"), lit("high").as("p"),
          concat(lit("\""),
            when(pmod(col("doc_id"), lit(9)) === 0, m - 5).otherwise(m + 10),
            lit("\"^^xsd:integer")).as("o")))
        .unionByName(docs.select(dId.as("s"), lit("label").as("p"),
          concat(lit("\"hi"), pmod(col("doc_id"), lit(5)), lit("\"@en")).as("o")))
        .unionByName(docs.select(dId.as("s"), lit("label").as("p"),
          concat(lit("\"salut"), pmod(col("doc_id"), lit(5)), lit("\"@fr")).as("o")))
        .unionByName(docs.where(pmod(col("doc_id"), lit(13)) === 0)
          .select(dId.as("s"), lit("label").as("p"), lit("\"dup\"@en").as("o")))
      TripleOps.pairConstraintViolations(spo, docs.select(dId.as("s")),
          equalsPairs = Seq(("alias_a", "alias_b")),
          disjointPairs = Seq(("tag", "banned")),
          lessThanPairs = Seq(("low", "high")),
          uniqueLangPaths = Seq("label"))
        .select("s", "violation", "p1", "p2", "n")
    },
      // DuckDB twin of q180 (SHACL pairs): the same value tables, each
      // constraint restated DEFINITIONALLY — equals as the two-sided
      // EXCEPT (the q132 rule), disjoint as INTERSECT, lessThan from the
      // generating arithmetic (the q155 restatement rule) with the same
      // min collapse, uniqueLang as a per-(s, lang) HAVING. Only
      // violating focus nodes group, matching the filter-then-group
      // Spark shape.
      Some("""WITH f AS (SELECT 'd' || doc_id AS s, doc_id AS d FROM documents),
        |aa AS (SELECT DISTINCT s, '"a' || (d % 20) || '"' AS o FROM f
        |       UNION SELECT s, '"extra"' FROM f WHERE d % 7 = 0),
        |ab AS (SELECT DISTINCT s, '"a' || (d % 20) || '"' AS o FROM f),
        |onlya AS (SELECT s, o FROM aa EXCEPT SELECT s, o FROM ab),
        |onlyb AS (SELECT s, o FROM ab EXCEPT SELECT s, o FROM aa),
        |eq AS (SELECT s, 'equals' AS violation, 'alias_a' AS p1, 'alias_b' AS p2,
        |       CAST(count(*) AS BIGINT) AS n
        |       FROM (SELECT * FROM onlya UNION ALL SELECT * FROM onlyb) x GROUP BY s),
        |tg AS (SELECT DISTINCT s, '"t' || (d % 12) || '"' AS o FROM f),
        |bn AS (SELECT DISTINCT s, o FROM (
        |        SELECT s, '"t' || ((d + 1) % 12) || '"' AS o FROM f
        |        UNION ALL SELECT s, '"t' || (d % 12) || '"' FROM f WHERE d % 11 = 0) bx),
        |dis AS (SELECT s, 'disjoint' AS violation, 'tag' AS p1, 'banned' AS p2,
        |        CAST(count(*) AS BIGINT) AS n
        |        FROM (SELECT s, o FROM tg INTERSECT SELECT s, o FROM bn) x GROUP BY s),
        |lo AS (SELECT DISTINCT s, d % 50 AS v FROM f),
        |hi AS (SELECT DISTINCT s,
        |        CASE WHEN d % 9 = 0 THEN d % 50 - 5 ELSE d % 50 + 10 END AS v FROM f),
        |hm AS (SELECT s, min(v) AS mn FROM hi GROUP BY s),
        |lt AS (SELECT lo.s, 'lessThan' AS violation, 'low' AS p1, 'high' AS p2,
        |       CAST(count(*) AS BIGINT) AS n
        |       FROM lo JOIN hm ON hm.s = lo.s WHERE lo.v >= hm.mn GROUP BY lo.s),
        |lab AS (SELECT DISTINCT s, lang, o FROM (
        |        SELECT s, 'en' AS lang, '"hi' || (d % 5) || '"@en' AS o FROM f
        |        UNION ALL SELECT s, 'fr', '"salut' || (d % 5) || '"@fr' FROM f
        |        UNION ALL SELECT s, 'en', '"dup"@en' FROM f WHERE d % 13 = 0) lx),
        |dl AS (SELECT s, lang FROM lab GROUP BY s, lang HAVING count(*) > 1),
        |ul AS (SELECT s, 'uniqueLang' AS violation, 'label' AS p1, 'label' AS p2,
        |       CAST(count(*) AS BIGINT) AS n FROM dl GROUP BY s)
        |SELECT * FROM eq UNION ALL SELECT * FROM dis
        |UNION ALL SELECT * FROM lt UNION ALL SELECT * FROM ul""".stripMargin)),
    // OWL 2 RL class restrictions, one rule application each:
    // cls-hv1 (typed VIPs derive their status), cls-hv2 (gold status
    // derives the type), cls-svf1 (orgs employing a typed Person
    // become Employers), cls-avf (members of a typed Team become
    // Players) — restriction schema broadcast, instance triples never
    // shuffle on a schema key
    Query("q181_owl_restrictions", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val spo = docs.where(pmod(col("doc_id"), lit(10)) === 0)
          .select(dId.as("s"), lit("rdf:type").as("p"), lit("VIP").as("o"))
        .unionByName(docs.where(pmod(col("doc_id"), lit(10)) === 5)
          .select(dId.as("s"), lit("status").as("p"), lit("\"gold\"").as("o")))
        .unionByName(docs.select(
          concat(lit("o"), pmod(col("doc_id"), lit(16))).as("s"),
          lit("employs").as("p"), dId.as("o")))
        .unionByName(docs.where(pmod(col("doc_id"), lit(3)) === 0)
          .select(dId.as("s"), lit("rdf:type").as("p"), lit("Person").as("o")))
        .unionByName(docs.where(pmod(col("doc_id"), lit(8)) === 0)
          .select(concat(lit("t"), pmod(col("doc_id"), lit(20))).as("s"),
            lit("rdf:type").as("p"), lit("Team").as("o")))
        .unionByName(docs.select(
          concat(lit("t"), pmod(col("doc_id"), lit(20))).as("s"),
          lit("member").as("p"), dId.as("o")))
      val r = Seq(
        ("VIP", "status", "hasValue", "\"gold\""),
        ("Employer", "employs", "someValuesFrom", "Person"),
        ("Team", "member", "allValuesFrom", "Player"))
        .toDF("cls", "prop", "kind", "value")
      TripleOps.restrictionEntail(spo, r).select("s", "p", "o")
    },
      // DuckDB twin of q181 (OWL restrictions): same constructed facts,
      // the four RL rules restated as plain schema-table joins; final
      // DISTINCT mirrors the derived-set semantics.
      Some("""WITH f AS (SELECT 'd' || doc_id AS s, doc_id AS d FROM documents),
        |spo AS (
        |  SELECT s, 'rdf:type' AS p, 'VIP' AS o FROM f WHERE d % 10 = 0
        |  UNION ALL SELECT s, 'status', '"gold"' FROM f WHERE d % 10 = 5
        |  UNION ALL SELECT 'o' || (d % 16), 'employs', s FROM f
        |  UNION ALL SELECT s, 'rdf:type', 'Person' FROM f WHERE d % 3 = 0
        |  UNION ALL SELECT 't' || (d % 20), 'rdf:type', 'Team' FROM f WHERE d % 8 = 0
        |  UNION ALL SELECT 't' || (d % 20), 'member', s FROM f
        |),
        |types AS (SELECT DISTINCT s AS inst, o AS tcls FROM spo WHERE p = 'rdf:type'),
        |r(cls, prop, kind, value) AS (VALUES
        |  ('VIP', 'status', 'hasValue', '"gold"'),
        |  ('Employer', 'employs', 'someValuesFrom', 'Person'),
        |  ('Team', 'member', 'allValuesFrom', 'Player')),
        |hv1 AS (SELECT t.inst AS s, r.prop AS p, r.value AS o
        |        FROM types t JOIN r ON r.kind = 'hasValue' AND t.tcls = r.cls),
        |hv2 AS (SELECT x.s, 'rdf:type' AS p, r.cls AS o
        |        FROM spo x JOIN r ON r.kind = 'hasValue' AND x.p = r.prop AND x.o = r.value),
        |svf1 AS (SELECT x.s, 'rdf:type' AS p, r.cls AS o
        |         FROM spo x JOIN r ON r.kind = 'someValuesFrom' AND x.p = r.prop
        |         JOIN types t ON t.inst = x.o AND t.tcls = r.value),
        |af AS (SELECT x.o AS s, 'rdf:type' AS p, r.value AS o
        |       FROM types t JOIN r ON r.kind = 'allValuesFrom' AND t.tcls = r.cls
        |       JOIN spo x ON x.s = t.inst AND x.p = r.prop)
        |SELECT DISTINCT s, p, o FROM (
        |  SELECT * FROM hv1 UNION ALL SELECT * FROM hv2
        |  UNION ALL SELECT * FROM svf1 UNION ALL SELECT * FROM af) u""".stripMargin)),
    // SHACL logical + closed shapes: sh:and/sh:or over (email, phone)
    // presence, sh:not on the spam lane (doubled on %22 for an
    // observable count), sh:xone over (nick, email), sh:closed with
    // meta ignored — every lane fires on its own residue class and
    // the oracle restates presence as pure residue CASE arithmetic
    Query("q182_shacl_logical", (s, d) => {
      val docs = t(s, d, "documents")
      val spo = docs.select(dId.as("s"), lit("name").as("p"),
          concat(lit("\"n"), pmod(col("doc_id"), lit(30)), lit("\"")).as("o"))
        .unionByName(docs.where(pmod(col("doc_id"), lit(3)) === 0)
          .select(dId.as("s"), lit("email").as("p"),
            concat(lit("\"e"), pmod(col("doc_id"), lit(9)), lit("\"")).as("o")))
        .unionByName(docs.where(pmod(col("doc_id"), lit(5)) === 0)
          .select(dId.as("s"), lit("phone").as("p"),
            concat(lit("\"p"), pmod(col("doc_id"), lit(8)), lit("\"")).as("o")))
        .unionByName(docs.where(pmod(col("doc_id"), lit(7)) === 0)
          .select(dId.as("s"), lit("nick").as("p"),
            concat(lit("\"k"), pmod(col("doc_id"), lit(6)), lit("\"")).as("o")))
        .unionByName(docs.where(pmod(col("doc_id"), lit(11)) === 0)
          .select(dId.as("s"), lit("spam").as("p"), lit("\"s1\"").as("o")))
        .unionByName(docs.where(pmod(col("doc_id"), lit(22)) === 0)
          .select(dId.as("s"), lit("spam").as("p"), lit("\"s2\"").as("o")))
        .unionByName(docs.select(dId.as("s"), lit("meta").as("p"),
          lit("\"m\"").as("o")))
      TripleOps.logicalShapeViolations(spo, docs.select(dId.as("s")),
          andPairs = Seq(("email", "phone")),
          orPairs = Seq(("email", "phone")),
          notProps = Seq("spam"),
          xonePairs = Seq(("nick", "email")),
          closedAllowed = Some(Seq("name", "email", "phone", "nick")),
          closedIgnored = Seq("meta"))
        .select("s", "violation", "p1", "p2", "n")
    },
      // DuckDB twin of q182 (SHACL logical/closed shapes): presence of
      // each component predicate is a pure residue test, so every lane
      // restates as CASE arithmetic over doc_id — no joins at all; the
      // not/closed counts are the DISTINCT value counts (1 + the %22
      // doubling lane).
      Some("""WITH f AS (SELECT 'd' || doc_id AS s, doc_id AS d FROM documents),
        |andv AS (SELECT s, 'and' AS violation, 'email' AS p1, 'phone' AS p2,
        |  CAST((CASE WHEN d % 3 != 0 THEN 1 ELSE 0 END)
        |     + (CASE WHEN d % 5 != 0 THEN 1 ELSE 0 END) AS BIGINT) AS n
        |  FROM f WHERE d % 3 != 0 OR d % 5 != 0),
        |orv AS (SELECT s, 'or' AS violation, 'email' AS p1, 'phone' AS p2,
        |  CAST(1 AS BIGINT) AS n FROM f WHERE d % 3 != 0 AND d % 5 != 0),
        |notv AS (SELECT s, 'not' AS violation, 'spam' AS p1, '' AS p2,
        |  CAST(CASE WHEN d % 22 = 0 THEN 2 ELSE 1 END AS BIGINT) AS n
        |  FROM f WHERE d % 11 = 0),
        |xonev AS (SELECT s, 'xone' AS violation, 'nick' AS p1, 'email' AS p2,
        |  CAST((CASE WHEN d % 7 = 0 THEN 1 ELSE 0 END)
        |     + (CASE WHEN d % 3 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n
        |  FROM f WHERE (d % 7 = 0) = (d % 3 = 0)),
        |clv AS (SELECT s, 'closed' AS violation, 'spam' AS p1, '' AS p2,
        |  CAST(CASE WHEN d % 22 = 0 THEN 2 ELSE 1 END AS BIGINT) AS n
        |  FROM f WHERE d % 11 = 0)
        |SELECT * FROM andv UNION ALL SELECT * FROM orv
        |UNION ALL SELECT * FROM notv UNION ALL SELECT * FROM xonev
        |UNION ALL SELECT * FROM clv""".stripMargin)),
    // owl:hasKey (prp-key): Person keyed on (ssn_a, ssn_b) — tuple
    // groups are the doc_id mod lcm(40,25)=200 residues, star links
    // to the zero-padded minimum subject (q98/q143 rules); the %10==9
    // untyped lane and the %17==0 missing-prop lane are excluded even
    // where they share tuples, and the %30==0 lane is multi-valued on
    // ssn_a so the combination fan-out is exercised at every SF
    Query("q183_owl_haskey", (s, d) => {
      val docs = t(s, d, "documents")
      val dId = format_string("d%06d", col("doc_id"))
      val spo = docs.where(pmod(col("doc_id"), lit(10)) =!= 9)
          .select(dId.as("s"), lit("rdf:type").as("p"), lit("Person").as("o"))
        .unionByName(docs.where(pmod(col("doc_id"), lit(17)) =!= 0)
          .select(dId.as("s"), lit("ssn_a").as("p"),
            concat(lit("a"), pmod(col("doc_id"), lit(40))).as("o")))
        .unionByName(docs.where(pmod(col("doc_id"), lit(30)) === 0)
          .select(dId.as("s"), lit("ssn_a").as("p"),
            concat(lit("a"), pmod(col("doc_id") + 1, lit(40))).as("o")))
        .unionByName(docs.select(dId.as("s"), lit("ssn_b").as("p"),
          concat(lit("b"), pmod(col("doc_id"), lit(25))).as("o")))
      TripleOps.hasKeySameAs(spo, Seq(("Person", Seq("ssn_a", "ssn_b"))))
        .select("s", "p", "o")
    },
      // DuckDB twin of q183 (owl:hasKey): the key-tuple groups restated
      // with the same join-then-window-min formulation as q143 (valid
      // here for the same reason — tuple groups are disjoint per key),
      // zero-padded ids keeping lexicographic min numeric (q98 rule);
      // the multi-valued %30 lane fans to both combinations via the
      // UNION inside va.
      Some("""WITH f AS (SELECT printf('d%06d', doc_id) AS s, doc_id AS d FROM documents),
        |typed AS (SELECT s, d FROM f WHERE d % 10 != 9),
        |va AS (SELECT s, 'a' || (d % 40) AS v0 FROM f WHERE d % 17 != 0
        |       UNION SELECT s, 'a' || ((d + 1) % 40) FROM f WHERE d % 30 = 0),
        |vb AS (SELECT DISTINCT s, 'b' || (d % 25) AS v1 FROM f),
        |keyed AS (SELECT t.s, va.v0, vb.v1
        |          FROM typed t JOIN va ON va.s = t.s JOIN vb ON vb.s = t.s),
        |mm AS (SELECT s, min(s) OVER (PARTITION BY v0, v1) AS m FROM keyed)
        |SELECT DISTINCT m AS s, 'sameAs' AS p, s AS o FROM mm WHERE s != m""".stripMargin)),
    // OWL 2 RL property-axiom checks: prp-asyp over the div-2 tree
    // with a %43 reversed lane (canonical parent<=child witness),
    // prp-pdw on a planted shared (s, o) at %21 with a %9 noise lane
    // that never collides, prp-npa1 firing at lcm(14,35)=70, and
    // eq-diff1 with the differentFrom lane stored REVERSED so the
    // symmetric match is load-bearing
    Query("q185_owl_prop_axioms", (s, d) => {
      val docs = t(s, d, "documents")
      val nId = format_string("n%06d", col("doc_id"))
      val par = format_string("n%06d", expr("doc_id div 2"))
      val spo = docs.where(col("doc_id") >= 2)
          .select(nId.as("s"), lit("follows").as("p"), par.as("o"))
        .unionByName(docs.where(col("doc_id") >= 2 &&
            pmod(col("doc_id"), lit(43)) === 0)
          .select(par.as("s"), lit("follows").as("p"), nId.as("o")))
        .unionByName(docs.select(nId.as("s"), lit("likes").as("p"),
          concat(lit("v"), pmod(col("doc_id"), lit(10))).as("o")))
        .unionByName(docs.where(pmod(col("doc_id"), lit(21)) === 0)
          .select(nId.as("s"), lit("dislikes").as("p"),
            concat(lit("v"), pmod(col("doc_id"), lit(10))).as("o")))
        .unionByName(docs.where(pmod(col("doc_id"), lit(9)) === 0)
          .select(nId.as("s"), lit("dislikes").as("p"),
            concat(lit("v"), pmod(col("doc_id") + 1, lit(10))).as("o")))
        .unionByName(docs.where(pmod(col("doc_id"), lit(14)) === 0)
          .select(nId.as("s"), lit("role").as("p"), lit("admin").as("o")))
        .unionByName(docs.where(pmod(col("doc_id"), lit(6)) === 0)
          .select(nId.as("s"), lit("role").as("p"), lit("user").as("o")))
        .unionByName(docs.where(pmod(col("doc_id"), lit(12)) === 0)
          .select(concat(lit("u"), pmod(col("doc_id"), lit(30))).as("s"),
            lit("sameAs").as("p"),
            concat(lit("w"), pmod(col("doc_id"), lit(30))).as("o")))
        .unionByName(docs.where(pmod(col("doc_id"), lit(18)) === 0)
          .select(concat(lit("w"), pmod(col("doc_id"), lit(30))).as("s"),
            lit("differentFrom").as("p"),
            concat(lit("u"), pmod(col("doc_id"), lit(30))).as("o")))
      val neg = docs.where(pmod(col("doc_id"), lit(35)) === 0)
        .select(nId.as("s"), lit("role").as("p"), lit("admin").as("o"))
      TripleOps.propertyAxiomViolations(spo,
          asymmetricProps = Seq("follows"),
          disjointPropPairs = Seq(("likes", "dislikes")),
          negativeAssertions = Some(neg),
          checkEqDiff = true)
        .select("violation", "x", "y", "p")
    },
      // DuckDB twin of q185 (property-axiom checks): each lane restated
      // as slice joins; the differentFrom lane is stated directly as the
      // matched (u, w) pair set — the symmetric-match pre-application —
      // keeping it independent of the Spark side's union-of-reversals.
      Some("""WITH f AS (SELECT doc_id AS d FROM documents),
        |tree AS MATERIALIZED (
        |  SELECT printf('n%06d', d) AS s, printf('n%06d', d // 2) AS o
        |  FROM f WHERE d >= 2
        |  UNION
        |  SELECT printf('n%06d', d // 2), printf('n%06d', d)
        |  FROM f WHERE d >= 2 AND d % 43 = 0),
        |asym AS (SELECT 'asymmetric' AS violation, a.s AS x, a.o AS y, 'follows' AS p
        |         FROM tree a JOIN tree b ON b.s = a.o AND b.o = a.s
        |         WHERE a.s <= a.o),
        |lk AS (SELECT DISTINCT printf('n%06d', d) AS s, 'v' || (d % 10) AS o FROM f),
        |dk AS (SELECT DISTINCT s, o FROM (
        |       SELECT printf('n%06d', d) AS s, 'v' || (d % 10) AS o FROM f WHERE d % 21 = 0
        |       UNION ALL SELECT printf('n%06d', d), 'v' || ((d + 1) % 10) FROM f WHERE d % 9 = 0) z),
        |pdw AS (SELECT 'disjointProp' AS violation, lk.s AS x, lk.o AS y,
        |        'likes/dislikes' AS p
        |        FROM lk JOIN dk ON dk.s = lk.s AND dk.o = lk.o),
        |npa AS (SELECT DISTINCT 'negAssert' AS violation, printf('n%06d', d) AS x,
        |        'admin' AS y, 'role' AS p FROM f WHERE d % 14 = 0 AND d % 35 = 0),
        |sa AS (SELECT DISTINCT 'u' || (d % 30) AS s, 'w' || (d % 30) AS o FROM f WHERE d % 12 = 0),
        |dfr AS (SELECT DISTINCT 'u' || (d % 30) AS s, 'w' || (d % 30) AS o FROM f WHERE d % 18 = 0),
        |eqd AS (SELECT 'eqDiff' AS violation, sa.s AS x, sa.o AS y, 'sameAs' AS p
        |        FROM sa JOIN dfr ON dfr.s = sa.s AND dfr.o = sa.o)
        |SELECT DISTINCT violation, x, y, p FROM (
        |  SELECT * FROM asym UNION ALL SELECT * FROM pdw
        |  UNION ALL SELECT * FROM npa UNION ALL SELECT * FROM eqd) u""".stripMargin)),
    // k-bisimulation quotient over the div-2 tree + a %8<2 'link'
    // lane (incl. the %8==0 self-loop), types on even ids only — the
    // depth-2 classes separate what depth-1 cannot, and the oracle
    // replays the hash-refinement rounds with ordered string_agg over
    // DISTINCT items (== sort_array(collect_set)) and the chr(1/2/3)
    // separator discipline
    Query("q186_bisim_summary", (s, d) => {
      val docs = t(s, d, "documents")
      val nId = format_string("n%06d", col("doc_id"))
      val types = docs.where(pmod(col("doc_id"), lit(2)) === 0)
        .select(nId.as("s"), concat(lit("T"), pmod(col("doc_id"), lit(3))).as("t"))
      val edges = docs.where(col("doc_id") >= 2)
          .select(nId.as("s"), lit("parent").as("p"),
            format_string("n%06d", expr("doc_id div 2")).as("o"))
        .unionByName(docs.where(pmod(col("doc_id"), lit(8)) < 2)
          .select(nId.as("s"), lit("link").as("p"),
            format_string("n%06d",
              col("doc_id") - pmod(col("doc_id"), lit(4))).as("o")))
      TripleOps.bisimulationSummary(types, edges, rounds = 2)
        .select("cs", "p", "co", "n")
    },
      // DuckDB twin of q186 (k-bisimulation): the two refinement rounds
      // replayed with DISTINCT-subselect + ordered string_agg (the exact
      // value of sort_array(collect_set)) and md5 over the chr(1/2/3)
      // separator discipline; multi-consumed CTEs MATERIALIZED (q71
      // rule). The hash chain is byte-identical in both engines —
      // lowercase hex md5 over single-byte control separators.
      Some("""WITH f AS (SELECT doc_id AS d FROM documents),
        |e AS MATERIALIZED (SELECT DISTINCT s, p, o FROM (
        |  SELECT printf('n%06d', d) AS s, 'parent' AS p, printf('n%06d', d // 2) AS o
        |  FROM f WHERE d >= 2
        |  UNION ALL
        |  SELECT printf('n%06d', d), 'link', printf('n%06d', d - d % 4)
        |  FROM f WHERE d % 8 < 2) e0),
        |ty AS (SELECT DISTINCT printf('n%06d', d) AS s, 'T' || (d % 3) AS t
        |       FROM f WHERE d % 2 = 0),
        |nodes AS (SELECT DISTINCT s FROM (
        |  SELECT s FROM e UNION ALL SELECT o FROM e UNION ALL SELECT s FROM ty) nx),
        |t0 AS (SELECT s, string_agg(t, chr(1) ORDER BY t) AS tv FROM ty GROUP BY s),
        |c0 AS MATERIALIZED (
        |  SELECT n.s AS node, md5(coalesce(t0.tv, '')) AS cls
        |  FROM nodes n LEFT JOIN t0 ON t0.s = n.s),
        |i1 AS (SELECT DISTINCT e.s AS s, e.p || chr(1) || c.cls AS item
        |       FROM e JOIN c0 c ON c.node = e.o),
        |g1 AS (SELECT s, string_agg(item, chr(2) ORDER BY item) AS sig
        |       FROM i1 GROUP BY s),
        |c1 AS MATERIALIZED (
        |  SELECT c.node, md5(c.cls || chr(3) || coalesce(g.sig, '')) AS cls
        |  FROM c0 c LEFT JOIN g1 g ON g.s = c.node),
        |i2 AS (SELECT DISTINCT e.s AS s, e.p || chr(1) || c.cls AS item
        |       FROM e JOIN c1 c ON c.node = e.o),
        |g2 AS (SELECT s, string_agg(item, chr(2) ORDER BY item) AS sig
        |       FROM i2 GROUP BY s),
        |c2 AS MATERIALIZED (
        |  SELECT c.node, md5(c.cls || chr(3) || coalesce(g.sig, '')) AS cls
        |  FROM c1 c LEFT JOIN g2 g ON g.s = c.node)
        |SELECT substring(cs.cls, 1, 12) AS cs, e.p, substring(co.cls, 1, 12) AS co,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM e JOIN c2 cs ON cs.node = e.s JOIN c2 co ON co.node = e.o
        |GROUP BY 1, 2, 3""".stripMargin)),
    // SPARQL total term ordering: a five-kind residue ladder (unbound,
    // bnode, IRI, signed xsd:integer literal, plain literal) ranked
    // under the pinned total order with doc_id closing the tie — the
    // top-k plans as TakeOrderedAndProject (no global sort) and the
    // oracle restates the same key ladder
    Query("q190_term_order", (s, d) => {
      val docs = t(s, d, "documents")
      val dd = col("doc_id")
      val term = when(pmod(dd, lit(13)) === 0, lit(null).cast("string"))
        .when(pmod(dd, lit(5)) === 0, concat(lit("_:b"), pmod(dd, lit(7))))
        .when(pmod(dd, lit(3)) === 0,
          concat(lit("\""), pmod(dd, lit(90)) - 40, lit("\"^^xsd:integer")))
        .when(pmod(dd, lit(2)) === 0, concat(lit("\"w"), pmod(dd, lit(26)), lit("\"")))
        .otherwise(concat(lit("http://ex/"), pmod(dd, lit(20))))
      TripleOps.termOrderTopK(docs.select(term.as("term"), dd.as("doc_id")),
          "term", "doc_id", 200)
        .select("rank", "term", "doc_id")
    },
      // DuckDB twin of q190 (term ordering): the same five-key ladder —
      // kind rank, numeric-literal flag, guarded BIGINT decode, lexical
      // form, doc_id tiebreak — with substring tests instead of LIKE
      // (underscore is a LIKE wildcard) and regexp_full_match for the
      // xsd:integer shape.
      Some("""WITH f AS (SELECT doc_id AS d FROM documents),
        |tm AS (SELECT d,
        |  CASE WHEN d % 13 = 0 THEN NULL
        |       WHEN d % 5 = 0 THEN '_:b' || (d % 7)
        |       WHEN d % 3 = 0 THEN '"' || (d % 90 - 40) || '"^^xsd:integer'
        |       WHEN d % 2 = 0 THEN '"w' || (d % 26) || '"'
        |       ELSE 'http://ex/' || (d % 20) END AS term
        |  FROM f),
        |keyed AS (SELECT d, term,
        |  CASE WHEN term IS NULL THEN 0
        |       WHEN substring(term, 1, 2) = '_:' THEN 1
        |       WHEN substring(term, 1, 1) = '"' THEN 3 ELSE 2 END AS k0,
        |  CASE WHEN substring(term, 1, 1) = '"'
        |        AND NOT regexp_full_match(term, '"-?[0-9]+"\^\^xsd:integer')
        |       THEN 1 ELSE 0 END AS k1,
        |  CASE WHEN term IS NOT NULL
        |        AND regexp_full_match(term, '"-?[0-9]+"\^\^xsd:integer')
        |       THEN CAST(regexp_extract(term, '^"(-?[0-9]+)"', 1) AS BIGINT)
        |       ELSE 0 END AS k2,
        |  coalesce(term, '') AS k3
        |  FROM tm)
        |SELECT CAST(row_number() OVER (ORDER BY k0, k1, k2, k3, d) AS BIGINT) AS rank,
        |  term, d AS doc_id
        |FROM keyed ORDER BY k0, k1, k2, k3, d LIMIT 200""".stripMargin)),
    // AMIE-style chain-rule mining over a five-predicate KG: the
    // grandparent <- parent.parent and basedIn <- worksFor.locatedIn
    // rules plus every accidental combination, scored in ONE z-join;
    // minSupport=5 prunes the tail, the hub cap never fires at test
    // fanouts (o-hubs peak ~in*1) and the oracle replays the full
    // census incl. the cap
    Query("q191_rule_mining", (s, d) => {
      val docs = t(s, d, "documents")
      val nId = format_string("n%06d", col("doc_id"))
      val spo = docs.select(nId.as("s"), lit("worksFor").as("p"),
          concat(lit("o"), pmod(col("doc_id"), lit(16))).as("o"))
        .unionByName(docs.select(
          concat(lit("o"), pmod(col("doc_id"), lit(16))).as("s"),
          lit("locatedIn").as("p"),
          concat(lit("c"), pmod(pmod(col("doc_id"), lit(16)), lit(4))).as("o")))
        .unionByName(docs.where(pmod(col("doc_id"), lit(2)) === 0)
          .select(nId.as("s"), lit("basedIn").as("p"),
            concat(lit("c"), pmod(pmod(col("doc_id"), lit(16)), lit(4))).as("o")))
        .unionByName(docs.where(col("doc_id") >= 2)
          .select(nId.as("s"), lit("parent").as("p"),
            format_string("n%06d", expr("doc_id div 2")).as("o")))
        .unionByName(docs.where(col("doc_id") >= 4 &&
            pmod(col("doc_id"), lit(6)) === 0)
          .select(nId.as("s"), lit("grandparent").as("p"),
            format_string("n%06d", expr("doc_id div 4")).as("o")))
      TripleOps.mineChainRules(spo, minSupport = 5L)
        .select("head", "b1", "b2", "support", "body_n", "conf_ppm")
    },
      // DuckDB twin of q191 (rule mining): the same five constructed
      // predicate lanes, the same fanout-capped z-join census — body
      // pairs dedup before the head join, truncating ppm confidence
      // (q62 rule); a replay, as the operator is definitional.
      Some("""WITH f AS (SELECT doc_id AS d FROM documents),
        |spo AS MATERIALIZED (SELECT DISTINCT s, p, o FROM (
        |  SELECT printf('n%06d', d) AS s, 'worksFor' AS p, 'o' || (d % 16) AS o FROM f
        |  UNION ALL SELECT 'o' || (d % 16), 'locatedIn', 'c' || ((d % 16) % 4) FROM f
        |  UNION ALL SELECT printf('n%06d', d), 'basedIn', 'c' || ((d % 16) % 4)
        |    FROM f WHERE d % 2 = 0
        |  UNION ALL SELECT printf('n%06d', d), 'parent', printf('n%06d', d // 2)
        |    FROM f WHERE d >= 2
        |  UNION ALL SELECT printf('n%06d', d), 'grandparent', printf('n%06d', d // 4)
        |    FROM f WHERE d >= 4 AND d % 6 = 0) u),
        |ind AS (SELECT o AS z, count(*) AS ind FROM spo GROUP BY o),
        |outd AS (SELECT s AS z, count(*) AS outd FROM spo GROUP BY s),
        |okz AS (SELECT i.z FROM ind i JOIN outd t ON t.z = i.z
        |        WHERE i.ind * t.outd <= 1000000),
        |body AS MATERIALIZED (
        |  SELECT DISTINCT l1.p AS b1, l2.p AS b2, l1.s AS x, l2.o AS y
        |  FROM spo l1 JOIN okz ON okz.z = l1.o JOIN spo l2 ON l2.s = l1.o),
        |bn AS (SELECT b1, b2, count(*) AS body_n FROM body GROUP BY b1, b2),
        |sup AS (SELECT h.p AS head, b.b1, b.b2, count(*) AS support
        |        FROM body b JOIN spo h ON h.s = b.x AND h.o = b.y
        |        GROUP BY 1, 2, 3 HAVING count(*) >= 5)
        |SELECT s.head, s.b1, s.b2, CAST(s.support AS BIGINT) AS support,
        |  CAST(bn.body_n AS BIGINT) AS body_n,
        |  CAST(s.support * 1000000 // bn.body_n AS BIGINT) AS conf_ppm
        |FROM sup s JOIN bn ON bn.b1 = s.b1 AND bn.b2 = s.b2""".stripMargin)),
    // SHACL path-cardinality shapes: a 2-step sequence (worksFor →
    // managedBy, orgs in the %4==3 residue unmanaged → minCount), an
    // alternation (nick|name, the %9 lane reaches 3 values →
    // maxCount), and an inverse path (^mentor mentee count over the
    // div-2 tree, internal nodes with both children → maxCount); the
    // oracle restates each count in closed residue form
    Query("q194_shacl_path", (s, d) => {
      val docs = t(s, d, "documents")
      val nId = format_string("n%06d", col("doc_id"))
      val spo = docs.select(nId.as("s"), lit("worksFor").as("p"),
          concat(lit("o"), pmod(col("doc_id"), lit(16))).as("o"))
        .unionByName(docs.where(pmod(pmod(col("doc_id"), lit(16)), lit(4)) =!= 3)
          .select(concat(lit("o"), pmod(col("doc_id"), lit(16))).as("s"),
            lit("managedBy").as("p"),
            concat(lit("m"), pmod(col("doc_id"), lit(16))).as("o")))
        .unionByName(docs.select(nId.as("s"), lit("name").as("p"),
          concat(lit("\"nm"), pmod(col("doc_id"), lit(30)), lit("\"")).as("o")))
        .unionByName(docs.where(pmod(col("doc_id"), lit(3)) === 0)
          .select(nId.as("s"), lit("nick").as("p"), lit("\"k1\"").as("o")))
        .unionByName(docs.where(pmod(col("doc_id"), lit(9)) === 0)
          .select(nId.as("s"), lit("nick").as("p"), lit("\"k2\"").as("o")))
        .unionByName(docs.where(col("doc_id") >= 2)
          .select(nId.as("s"), lit("mentor").as("p"),
            format_string("n%06d", expr("doc_id div 2")).as("o")))
      TripleOps.validatePathShapes(spo, docs.select(nId.as("s")), Seq(
        ("mgr", Seq(TripleOps.PredStep("worksFor"),
          TripleOps.PredStep("managedBy")), 1, 1000000),
        ("alias", Seq(TripleOps.Alt(Seq(TripleOps.PredStep("nick"),
          TripleOps.PredStep("name")))), 1, 2),
        ("mentees", Seq(TripleOps.PredStep("mentor", inverse = true)), 0, 1)))
        .select("s", "shape", "violation", "n")
    },
      // DuckDB twin of q194 (path-shape cardinalities): every lane's
      // value count collapses to closed residue form — the mgr sequence
      // reaches a manager iff d%4 != 3 (16 ≡ 0 mod 4), the alias
      // alternation counts 1 + the %3 + %9 nick lanes, the mentee
      // inverse count is the definitional children join over the div-2
      // tree.
      Some("""WITH f AS (SELECT doc_id AS d FROM documents),
        |mgr AS (SELECT printf('n%06d', d) AS s, 'mgr' AS shape,
        |        'minCount' AS violation, CAST(0 AS BIGINT) AS n
        |        FROM f WHERE (d % 16) % 4 = 3),
        |al AS (SELECT printf('n%06d', d), 'alias', 'maxCount', CAST(3 AS BIGINT)
        |       FROM f WHERE d % 9 = 0),
        |men AS (SELECT printf('n%06d', p.d), 'mentees', 'maxCount',
        |        CAST(count(*) AS BIGINT)
        |        FROM f p JOIN f c ON c.d >= 2 AND c.d // 2 = p.d
        |        GROUP BY p.d HAVING count(*) > 1)
        |SELECT * FROM mgr UNION ALL SELECT * FROM al
        |UNION ALL SELECT * FROM men""".stripMargin)),
    // SHACL sh:qualifiedValueShape (qualifiedMinCount=1 /
    // qualifiedMaxCount=1 over the sh:class Expert inner shape): each
    // doc knows m((d+7i)%20) on lanes i=0 (always), i=1 (d%2==0),
    // i=2 (d%5==0); Expert membership is the residue%3==0 set, so the
    // conforming count is pure residue arithmetic — qualifiedMin
    // fires on 10 of 20 residues, qualifiedMax exactly on d%20==15
    // (the only residue with two conforming lanes). The three lane
    // values are distinct mod 20 (7i pairwise distinct), so the
    // operator's distinct-value count equals the lane count
    Query("q209_shacl_qualified", (s, d) => {
      val docs = t(s, d, "documents")
      val dId = format_string("d%06d", col("doc_id"))
      val r = pmod(col("doc_id"), lit(20))
      val spo = docs.select(dId.as("s"), lit("knows").as("p"),
          concat(lit("m"), r).as("o"))
        .unionByName(docs.where(pmod(col("doc_id"), lit(2)) === 0)
          .select(dId.as("s"), lit("knows").as("p"),
            concat(lit("m"), pmod(col("doc_id") + 7, lit(20))).as("o")))
        .unionByName(docs.where(pmod(col("doc_id"), lit(5)) === 0)
          .select(dId.as("s"), lit("knows").as("p"),
            concat(lit("m"), pmod(col("doc_id") + 14, lit(20))).as("o")))
        .unionByName(docs.where(pmod(r, lit(3)) === 0)
          .select(concat(lit("m"), r).as("s"), lit("rdf:type").as("p"),
            lit("Expert").as("o")))
      TripleOps.qualifiedShapeViolations(spo, docs.select(dId.as("s")),
          prop = "knows", valueClass = "Expert", minCount = 1, maxCount = 1)
        .select("s", "violation", "n")
    },
      // DuckDB twin of q209 (sh:qualifiedValueShape): the conforming
      // count collapses to closed residue form — lane i's value
      // (r + 7i) % 20 conforms iff it lands in the %3==0 Expert set,
      // lanes gate on d%2 / d%5. The three lane values are pairwise
      // distinct mod 20, so lane arithmetic == the operator's
      // distinct-value count (the fixture note on the Spark side).
      Some("""WITH f AS (SELECT doc_id AS d, doc_id % 20 AS r FROM documents),
        |c AS (SELECT printf('d%06d', d) AS s,
        |  (CASE WHEN r % 3 = 0 THEN 1 ELSE 0 END)
        |  + (CASE WHEN d % 2 = 0 AND ((r + 7) % 20) % 3 = 0 THEN 1 ELSE 0 END)
        |  + (CASE WHEN d % 5 = 0 AND ((r + 14) % 20) % 3 = 0 THEN 1 ELSE 0 END) AS qn
        |  FROM f)
        |SELECT s, 'qualifiedMin' AS violation, CAST(qn AS BIGINT) AS n
        |FROM c WHERE qn < 1
        |UNION ALL
        |SELECT s, 'qualifiedMax' AS violation, CAST(qn AS BIGINT) AS n
        |FROM c WHERE qn > 1""".stripMargin)),
    // RDFC-style n-degree canonicalization over graphs with PLANTED
    // automorphic twins: the per-graph pair _:u/_:v share a
    // first-degree hash (identical tag lines + knows edges into the
    // common _:w), routing EVERY graph through the recursive n-degree
    // lane (RdfCanon); per-doc author bnodes keep unique hashes. The
    // oracle replays the first-degree ranking for the unique bnodes
    // and hands the twins the two ids AFTER the unique block in label
    // order — valid ONLY because the twins are automorphic: either
    // assignment relabels to the same quad SET, which is what the
    // sorted-rows compare hashes
    Query("q200_canon_ndegree", (s, d) => {
      val docs = t(s, d, "documents")
      val bId = concat(lit("_:b"), col("doc_id"))
      val srcs = docs.select(col("source").as("g")).distinct()
      val quads = docs.select(col("source").as("g"), dId.as("s"),
          lit("author").as("p"), bId.as("o"))
        .unionByName(docs.select(col("source").as("g"), bId.as("s"),
          lit("name").as("p"), concat(lit("n"), col("doc_id")).as("o")))
        .unionByName(srcs.select(col("g"), lit("rroot").as("s"),
          lit("tag").as("p"), lit("_:u").as("o")))
        .unionByName(srcs.select(col("g"), lit("rroot").as("s"),
          lit("tag").as("p"), lit("_:v").as("o")))
        .unionByName(srcs.select(col("g"), lit("_:u").as("s"),
          lit("knows").as("p"), lit("_:w").as("o")))
        .unionByName(srcs.select(col("g"), lit("_:v").as("s"),
          lit("knows").as("p"), lit("_:w").as("o")))
        .unionByName(srcs.select(col("g"), lit("_:w").as("s"),
          lit("name").as("p"), lit("wroot").as("o")))
      TripleOps.canonicalBNodeQuads(quads).select("g", "s", "p", "o")
    },
      // q200: the q128 first-degree chain over the twin-planted quads;
      // unique-hash bnodes rank by hash AMONG THEMSELVES (they are
      // issued first), the per-graph collision pair takes the next two
      // ids in LABEL order — sound only via the automorphism argument
      // (see the Spark-side comment). srcs/quads/fd/labeled are
      // multi-consumed → MATERIALIZED (q71 rule).
      Some("""WITH srcs AS MATERIALIZED (SELECT DISTINCT source FROM documents),
        |quads AS MATERIALIZED (
        |  SELECT DISTINCT g, s, p, o FROM (
        |    SELECT source AS g, 'd' || CAST(doc_id AS VARCHAR) AS s, 'author' AS p,
        |           '_:b' || CAST(doc_id AS VARCHAR) AS o FROM documents
        |    UNION ALL
        |    SELECT source, '_:b' || CAST(doc_id AS VARCHAR), 'name',
        |           'n' || CAST(doc_id AS VARCHAR) FROM documents
        |    UNION ALL SELECT source, 'rroot', 'tag', '_:u' FROM srcs
        |    UNION ALL SELECT source, 'rroot', 'tag', '_:v' FROM srcs
        |    UNION ALL SELECT source, '_:u', 'knows', '_:w' FROM srcs
        |    UNION ALL SELECT source, '_:v', 'knows', '_:w' FROM srcs
        |    UNION ALL SELECT source, '_:w', 'name', 'wroot' FROM srcs
        |  ) u),
        |mentions AS (
        |  SELECT g, s AS b,
        |         '_:a ' || p || ' ' ||
        |         CASE WHEN o = s THEN '_:a'
        |              WHEN o LIKE '\_:%' ESCAPE '\' THEN '_:z' ELSE o END AS line
        |  FROM quads WHERE s LIKE '\_:%' ESCAPE '\'
        |  UNION ALL
        |  SELECT g, o AS b,
        |         CASE WHEN s LIKE '\_:%' ESCAPE '\' THEN '_:z' ELSE s END ||
        |         ' ' || p || ' _:a' AS line
        |  FROM quads WHERE o LIKE '\_:%' ESCAPE '\' AND s <> o
        |),
        |fd0 AS (SELECT g, b, md5(string_agg(line, chr(10) ORDER BY line)) AS h
        |        FROM mentions GROUP BY g, b),
        |fd AS MATERIALIZED (
        |  SELECT g, b, h, count(*) OVER (PARTITION BY g, h) AS k FROM fd0),
        |lab_u AS (
        |  SELECT g, b,
        |         '_:c' || CAST(row_number() OVER (PARTITION BY g ORDER BY h) - 1 AS VARCHAR) AS c
        |  FROM fd WHERE k = 1),
        |n1 AS (SELECT g, count(*) AS nu FROM fd WHERE k = 1 GROUP BY g),
        |lab_t AS (
        |  SELECT fd.g, fd.b,
        |         '_:c' || CAST(nu + row_number() OVER (PARTITION BY fd.g ORDER BY fd.b) - 1 AS VARCHAR) AS c
        |  FROM fd JOIN n1 ON n1.g = fd.g WHERE k > 1),
        |labeled AS MATERIALIZED (
        |  SELECT * FROM lab_u UNION ALL SELECT * FROM lab_t)
        |SELECT q.g, COALESCE(ls.c, q.s) AS s, q.p, COALESCE(lo.c, q.o) AS o
        |FROM quads q
        |LEFT JOIN labeled ls ON ls.g = q.g AND ls.b = q.s
        |LEFT JOIN labeled lo ON lo.g = q.g AND lo.b = q.o""".stripMargin)),
    // characteristic sets (Neumann & Moerkotte) — THE classic RDF
    // cardinality-estimation statistic: subjects grouped by their
    // DISTINCT-predicate set, with subject and triple counts per set.
    // One subject-keyed shuffle (collect_set partial-aggregates
    // map-side), then a set-keyed census; the cset key rides the q186
    // discipline (sort_array(collect_set) == DuckDB ordered
    // string_agg over a distinct subselect). The %10 second-topic
    // lane makes n_triples exceed the predicate count for some sets
    Query("q206_char_sets", (s, d) => {
      val docs = t(s, d, "documents")
      val spo = Lane.lang(docs)
        .unionByName(docs.where(pmod(col("doc_id"), lit(2)) === 0)
          .select(dId.as("s"), lit("author").as("p"),
            concat(lit("a"), pmod(col("doc_id"), lit(24))).as("o")))
        .unionByName(docs.where(pmod(col("doc_id"), lit(3)) === 0)
          .select(dId.as("s"), lit("topic").as("p"),
            concat(lit("t"), pmod(col("doc_id"), lit(8))).as("o")))
        .unionByName(docs.where(pmod(col("doc_id"), lit(10)) === 0)
          .select(dId.as("s"), lit("topic").as("p"),
            concat(lit("t"), pmod(col("doc_id"), lit(8)) + 1).as("o")))
        .unionByName(docs.where(pmod(col("doc_id"), lit(5)) === 0)
          .select(dId.as("s"), lit("cite").as("p"),
            concat(lit("d"), pmod(col("doc_id") * 7, lit(1000))).as("o")))
      val per = spo.groupBy(col("s")).agg(
        concat_ws("|", sort_array(collect_set(col("p")))).as("cset"),
        count(lit(1)).as("nt"))
      per.groupBy(col("cset")).agg(
        count(lit(1)).cast("bigint").as("n_subjects"),
        sum(col("nt")).cast("bigint").as("n_triples"))
    },
      // q206: the q186 set-key discipline — ordered string_agg over the
      // (s, p) DISTINCT subselect, never string_agg(DISTINCT ...).
      Some(s"""WITH spo AS (
        |${Lane.lang.sql}
        |  UNION ALL
        |  SELECT 'd' || CAST(doc_id AS VARCHAR), 'author', 'a' || CAST(doc_id % 24 AS VARCHAR)
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT 'd' || CAST(doc_id AS VARCHAR), 'topic', 't' || CAST(doc_id % 8 AS VARCHAR)
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |  SELECT 'd' || CAST(doc_id AS VARCHAR), 'topic', 't' || CAST(doc_id % 8 + 1 AS VARCHAR)
        |  FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |  SELECT 'd' || CAST(doc_id AS VARCHAR), 'cite', 'd' || CAST((doc_id * 7) % 1000 AS VARCHAR)
        |  FROM documents WHERE doc_id % 5 = 0
        |),
        |ps AS (SELECT s, p FROM spo GROUP BY s, p),
        |cs AS (SELECT s, string_agg(p, '|' ORDER BY p) AS cset FROM ps GROUP BY s),
        |nt AS (SELECT s, count(*) AS nt FROM spo GROUP BY s)
        |SELECT cset, CAST(count(*) AS BIGINT) AS n_subjects,
        |  CAST(sum(nt) AS BIGINT) AS n_triples
        |FROM cs JOIN nt ON nt.s = cs.s GROUP BY cset""".stripMargin)),
    // RDF-star edge annotations: confidence statements about quoted
    // << x worksFor org >> triples (the RDF 1.2 idiom that replaces
    // 4-triple reification), queried back by the SPARQL-star basic
    // pattern — a non-quoted confidence row plants the negative lane
    // the rlike filter must exclude
    Query("q170_rdf_star", (s, d) => {
      val docs = t(s, d, "documents")
      val org = concat(lit("o"), pmod(col("doc_id"), lit(16)))
      val qt = TripleOps.quoteTriple(dId, lit("worksFor"), org)
      val spo = Lane.worksForAll(docs)
        .unionByName(docs.select(qt.as("s"), lit("confidence").as("p"),
          concat(lit("c"), pmod(col("doc_id"), lit(5))).as("o")))
        .unionByName(docs.select(qt.as("s"), lit("source").as("p"),
          concat(lit("s"), pmod(col("doc_id"), lit(3))).as("o")))
        .unionByName(docs.select(dId.as("s"), lit("confidence").as("p"),
          lit("c9").as("o"))) // non-quoted subject: must not match
      TripleOps.starAnnotations(spo, "worksFor", "confidence")
        .select("qs", "qo", "v")
    },
      // DuckDB twin of q170 (RDF-star): the annotation solutions stated
      // directly from the generating arithmetic — the planted non-quoted
      // confidence row must be absent, which the direct statement
      // encodes by construction.
      Some("""SELECT 'd' || CAST(doc_id AS VARCHAR) AS qs,
        |       'o' || CAST(doc_id % 16 AS VARCHAR) AS qo,
        |       'c' || CAST(doc_id % 5 AS VARCHAR) AS v
        |FROM documents""".stripMargin)),
    // OWL 2 RL prp-eqp: equivalentProperty entailment — the {p0,p1,p2}
    // and {p3,p4} classes (chained through p1: symmetric-transitive
    // closure of the schema pairs) fan every asserted triple out to
    // all class members; p5 stays alone
    Query("q171_owl_equiv_prop", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val spo = docs.select(dId.as("s"),
        concat(lit("p"), pmod(col("doc_id"), lit(6))).as("p"),
        concat(lit("v"), pmod(col("doc_id"), lit(10))).as("o"))
      val equiv = Seq(("p0", "p1"), ("p1", "p2"), ("p3", "p4")).toDF("a", "b")
      TripleOps.equivPropEntail(spo, equiv).select("s", "p", "o")
    },
      // DuckDB twin of q171 (prp-eqp): the equivalence classes enumerated
      // as an explicit member map (the closure of {p0,p1,p2} and {p3,p4}
      // written out) — independent of the Spark closure computation.
      Some("""WITH t AS (
        |  SELECT 'd' || CAST(doc_id AS VARCHAR) AS s,
        |         'p' || CAST(doc_id % 6 AS VARCHAR) AS p,
        |         'v' || CAST(doc_id % 10 AS VARCHAR) AS o
        |  FROM documents
        |), m(p, q) AS (VALUES
        |  ('p0','p0'),('p0','p1'),('p0','p2'),
        |  ('p1','p0'),('p1','p1'),('p1','p2'),
        |  ('p2','p0'),('p2','p1'),('p2','p2'),
        |  ('p3','p3'),('p3','p4'),('p4','p3'),('p4','p4'),
        |  ('p5','p5'))
        |SELECT DISTINCT s, m.q AS p, o FROM t JOIN m USING (p)""".stripMargin)),
    // NOT EXISTS over OPTIONAL-fed solutions — the unbound-variable
    // substitution corner: an UNBOUND ?m stays a FREE variable in the
    // filter pattern, so the existence check is unconstrained and
    // (because flagged mentors exist) NOT EXISTS drops every
    // unbound-?m solution too — only bound-and-unflagged mentors
    // survive; a naive null-key anti-join would wrongly keep the
    // unbound rows
    Query("q169_exists_unbound", (s, d) => {
      val docs = t(s, d, "documents")
      val spo = Lane.worksForAll(docs)
        .unionByName(docs.where(pmod(col("doc_id"), lit(4)) === 0)
          .select(dId.as("s"), lit("mentor").as("p"),
            concat(lit("m"), pmod(col("doc_id"), lit(10))).as("o")))
        .unionByName(docs.where(pmod(col("doc_id"), lit(10)) < 5)
          .select(concat(lit("m"), pmod(col("doc_id"), lit(10))).as("s"),
            lit("flagged").as("p"), lit("1").as("o")))
      val sols = TripleOps.bgpOptional(spo,
        Seq(("?x", "worksFor", "?org")), Seq(Seq(("?x", "mentor", "?m"))))
      TripleOps.filterExistsUnbound(sols, spo, Seq(("?m", "flagged", "?f")),
          negate = true)
        .select("x", "org", "m")
    },
      // DuckDB twin of q169 (NOT EXISTS with unbound): the DEFINITIONAL
      // survivor set stated directly — bound mentors outside the flagged
      // residue classes; the unbound-?m drop (free variable matches the
      // existing flagged rows) is what makes the WHERE clause this
      // simple.
      Some("""SELECT 'd' || CAST(doc_id AS VARCHAR) AS x,
        |       'o' || CAST(doc_id % 16 AS VARCHAR) AS org,
        |       'm' || CAST(doc_id % 10 AS VARCHAR) AS m
        |FROM documents WHERE doc_id % 4 = 0 AND doc_id % 10 >= 5""".stripMargin)),
    // SPARQL COUNT(?var) vs COUNT(*) over OPTIONAL-fed solutions: the
    // spec's aggregate skips UNBOUND bindings — identical to SQL
    // count(col) null-skipping — while COUNT(*) counts every
    // solution; SUM/MAX over the optional variable likewise ignore
    // unbound rows (nulls), never poison the aggregate
    Query("q168_agg_unbound", (s, d) => {
      val docs = t(s, d, "documents")
      val spo = Lane.worksForAll(docs)
        .unionByName(docs.where(pmod(col("doc_id"), lit(3)) === 0)
          .select(dId.as("s"), lit("bonus").as("p"),
            pmod(col("doc_id"), lit(500)).cast("string").as("o")))
      val sols = TripleOps.bgpOptional(spo,
        Seq(("?x", "worksFor", "?org")), Seq(Seq(("?x", "bonus", "?b"))))
      sols.groupBy(col("org")).agg(
        count(lit(1)).as("n_all"),
        count(col("b")).as("n_bonus"),
        coalesce(sum(col("b").cast("long")), lit(0L)).as("sum_bonus"),
        coalesce(max(col("b").cast("long")), lit(-1L)).as("max_bonus"))
    },
      // DuckDB twin of q168 (aggregate unbound discipline): LEFT JOIN
      // rebuilds the optional solutions; count(col)/sum/max null-skip in
      // BOTH engines (the exact semantics under test — n_bonus < n_all
      // in every group); the COALESCE lanes are the all-unbound-group
      // guard, identical both sides (not exercised at these SFs where
      // every org has bonus members).
      Some("""WITH sols AS (
        |  SELECT 'o' || CAST(d.doc_id % 16 AS VARCHAR) AS org,
        |         b.bonus AS b
        |  FROM documents d LEFT JOIN (
        |    SELECT doc_id, CAST(doc_id % 500 AS BIGINT) AS bonus
        |    FROM documents WHERE doc_id % 3 = 0) b USING (doc_id)
        |)
        |SELECT org, count(*) AS n_all, count(b) AS n_bonus,
        |       COALESCE(CAST(sum(b) AS BIGINT), 0) AS sum_bonus,
        |       COALESCE(max(b), -1) AS max_bonus
        |FROM sols GROUP BY org""".stripMargin)),
    // SPARQL per-group top-k subquery (the §12 canonical example
    // shape: for each group, the k best members): rank by (age DESC,
    // member ASC) — the tiebreak is load-bearing (q103 rule) because
    // ages collide across members — then keep rank <= 2; expressed as
    // one (org)-partitioned window over the joined solutions
    Query("q167_subquery_topk_group", (s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = t(s, d, "documents")
      val spo = Lane.worksForAll(docs)
        .unionByName(docs.select(dId.as("s"), lit("age").as("p"),
          pmod(col("doc_id"), lit(90)).cast("string").as("o")))
      val sols = TripleOps.bgp(spo, Seq(("?x", "worksFor", "?org"), ("?x", "age", "?a")))
        .select(col("x"), col("org"), col("a").cast("long").as("age"))
      sols.withColumn("rk", row_number().over(
          Window.partitionBy(col("org")).orderBy(col("age").desc, col("x"))))
        .where(col("rk") <= 2)
        .select(col("org"), col("x"), col("age"), col("rk").cast("long").as("rk"))
    },
      // DuckDB twin of q167 (per-group top-k): same (age DESC, member
      // ASC) deterministic rank — equal ages across members make the
      // tiebreak observable at every SF.
      Some("""WITH sols AS (
        |  SELECT 'o' || CAST(doc_id % 16 AS VARCHAR) AS org,
        |         'd' || CAST(doc_id AS VARCHAR) AS x,
        |         CAST(doc_id % 90 AS BIGINT) AS age
        |  FROM documents
        |)
        |SELECT org, x, age, CAST(rk AS BIGINT) AS rk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY org ORDER BY age DESC, x) AS rk FROM sols
        |) WHERE rk <= 2""".stripMargin)),
    // rdf:List construction (the write side of q141's unroll): one
    // cons chain per group, elements in (ord, v) order with unique
    // ord, deterministic md5-prefix cell labels — round-tripped by
    // rdfListUnroll in the unit spec, and replayed label-for-label by
    // the oracle's window formulation
    Query("q166_rdf_list_build", (s, d) => {
      val docs = t(s, d, "documents")
      val items = docs.select(
        concat(lit("g"), pmod(col("doc_id"), lit(100))).as("s"),
        col("doc_id").as("ord"),
        concat(lit("t"), pmod(col("doc_id"), lit(7))).as("v"))
      TripleOps.buildLists(items).select("s", "p", "o")
    },
      // DuckDB twin of q166 (rdf:List build): same window positions and
      // md5-prefix cell labels ('s|idx' — Spark's concat_ws('|') form);
      // unique ord keeps row_number deterministic (q103 rule).
      Some("""WITH items AS (
        |  SELECT 'g' || CAST(doc_id % 100 AS VARCHAR) AS s, doc_id AS ord,
        |         't' || CAST(doc_id % 7 AS VARCHAR) AS v
        |  FROM documents
        |), r AS (
        |  SELECT s, v,
        |         CAST(row_number() OVER (PARTITION BY s ORDER BY ord, v) - 1 AS BIGINT) AS idx,
        |         CAST(count(*) OVER (PARTITION BY s) AS BIGINT) AS n
        |  FROM items
        |)
        |SELECT s, p, o FROM (
        |  SELECT s, 'hasList' AS p, '_:lb' || substring(md5(s || '|0'), 1, 8) AS o
        |  FROM r WHERE idx = 0
        |  UNION ALL
        |  SELECT '_:lb' || substring(md5(s || '|' || CAST(idx AS VARCHAR)), 1, 8),
        |         'rdf:first', v FROM r
        |  UNION ALL
        |  SELECT '_:lb' || substring(md5(s || '|' || CAST(idx AS VARCHAR)), 1, 8),
        |         'rdf:rest',
        |         CASE WHEN idx = n - 1 THEN 'rdf:nil'
        |              ELSE '_:lb' || substring(md5(s || '|' || CAST(idx + 1 AS VARCHAR)), 1, 8) END
        |  FROM r
        |)""".stripMargin)),
    // DESCRIBE with Concise Bounded Description: matched nodes plus
    // the recursive closure of their BLANK-NODE objects (address →
    // geo chain), stopping at IRIs (the linked http://x/* nodes'
    // triples must NOT appear even though they are objects of the
    // described subject)
    Query("q165_describe_cbd", (s, d) => {
      val docs = t(s, d, "documents")
      val aB = concat(lit("_:a"), col("doc_id"))
      val gB = concat(lit("_:g"), col("doc_id"))
      val spo = Lane.worksForAll(docs)
        .unionByName(docs.select(dId.as("s"), lit("addr").as("p"), aB.as("o")))
        .unionByName(docs.select(dId.as("s"), lit("link").as("p"),
          concat(lit("http://x/"), pmod(col("doc_id"), lit(11))).as("o")))
        .unionByName(docs.select(aB.as("s"), lit("city").as("p"),
          concat(lit("C"), pmod(col("doc_id"), lit(50))).as("o")))
        .unionByName(docs.select(aB.as("s"), lit("geo").as("p"), gB.as("o")))
        .unionByName(docs.select(gB.as("s"), lit("lat").as("p"),
          concat(lit("L"), pmod(col("doc_id"), lit(90))).as("o")))
        .unionByName(docs.select(concat(lit("http://x/"), pmod(col("doc_id"), lit(11))).as("s"),
          lit("label").as("p"), concat(lit("X"), pmod(col("doc_id"), lit(11))).as("o")))
      TripleOps.describeCbd(spo, Seq(("?x", "worksFor", "o3")), "?x")
        .select("s", "p", "o")
    },
      // DuckDB twin of q165 (DESCRIBE CBD): the o3 members' own triples
      // plus their bnode chain stated directly — the linked IRI nodes'
      // label triples are ABSENT, which is the CBD boundary under test.
      Some("""WITH d AS (SELECT doc_id AS id, CAST(doc_id AS VARCHAR) AS ids
        |           FROM documents WHERE doc_id % 16 = 3)
        |SELECT s, p, o FROM (
        |  SELECT 'd' || ids AS s, 'worksFor' AS p, 'o3' AS o FROM d
        |  UNION ALL SELECT 'd' || ids, 'addr', '_:a' || ids FROM d
        |  UNION ALL SELECT 'd' || ids, 'link', 'http://x/' || CAST(id % 11 AS VARCHAR) FROM d
        |  UNION ALL SELECT '_:a' || ids, 'city', 'C' || CAST(id % 50 AS VARCHAR) FROM d
        |  UNION ALL SELECT '_:a' || ids, 'geo', '_:g' || ids FROM d
        |  UNION ALL SELECT '_:g' || ids, 'lat', 'L' || CAST(id % 90 AS VARCHAR) FROM d
        |)""".stripMargin)),
    // SPARQL term constructors (the write half of §17.4): STRDT/
    // STRLANG literal-string builders (round-tripping through the
    // q149 accessors by construction), IRI() against the query base
    // (absolute pass-through), and deterministic per-solution BNODE()
    // labels (md5-prefix of solution key + argument)
    Query("q163_term_constructors", (s, d) => {
      val docs = t(s, d, "documents")
      docs.select(dId.as("s"),
        TripleOps.strDt(concat(lit("v"), pmod(col("doc_id"), lit(90))),
          lit("xsd:token")).as("typed"),
        TripleOps.strLang(concat(lit("name"), pmod(col("doc_id"), lit(100))),
          when(pmod(col("doc_id"), lit(2)) === 0, lit("EN")).otherwise(lit("de"))).as("tagged"),
        TripleOps.iriCol(
          when(pmod(col("doc_id"), lit(3)) === 0,
            concat(lit("http://abs.example/a"), pmod(col("doc_id"), lit(9))))
            .otherwise(concat(lit("rel/p"), pmod(col("doc_id"), lit(9)))),
          "http://b.example/").as("iri"),
        TripleOps.bnodeCol(dId, lit("x")).as("bn"))
    },
      // DuckDB twin of q163 (term constructors): literal strings and IRIs
      // stated directly per lane; the BNODE label replays the md5-prefix
      // contract (solution key + chr(1) + argument — byte-identical to
      // Spark's concat_ws with the  separator).
      Some("""SELECT 'd' || CAST(doc_id AS VARCHAR) AS s,
        |       '"v' || CAST(doc_id % 90 AS VARCHAR) || '"^^xsd:token' AS typed,
        |       '"name' || CAST(doc_id % 100 AS VARCHAR) || '"@' ||
        |         CASE WHEN doc_id % 2 = 0 THEN 'en' ELSE 'de' END AS tagged,
        |       CASE WHEN doc_id % 3 = 0
        |            THEN 'http://abs.example/a' || CAST(doc_id % 9 AS VARCHAR)
        |            ELSE 'http://b.example/rel/p' || CAST(doc_id % 9 AS VARCHAR) END AS iri,
        |       '_:bn' || substring(md5('d' || CAST(doc_id AS VARCHAR) || chr(1) || 'x'), 1, 8) AS bn
        |FROM documents""".stripMargin)),
    // SPARQL/XPath numeric functions on integer rationals a/7 (a
    // signed): ABS, FLOOR, CEILING, and xpath:round (half toward
    // +infinity) — all in pure integer arithmetic, negative operands
    // routed through non-negative div identities so Spark div and
    // DuckDB // agree (the q62 regime)
    Query("q164_numeric_funcs", (s, d) => {
      val docs = t(s, d, "documents")
      val a = (pmod(col("doc_id"), lit(201)) - 100).cast("long")
      docs.select(dId.as("s"), a.as("a"))
        .select(col("s"), col("a"),
          abs(col("a")).as("abs_a"),
          when(col("a") >= 0, expr("a div 7"))
            .otherwise(-expr("(-a + 6) div 7")).as("fl"),
          when(col("a") >= 0, expr("(a + 6) div 7"))
            .otherwise(-expr("(-a) div 7")).as("ce"),
          when(col("a") * 2 + 7 >= 0, expr("(2 * a + 7) div 14"))
            .otherwise(-expr("(-(2 * a + 7) + 13) div 14")).as("rnd"))
    },
      // DuckDB twin of q164 (numeric functions): identical non-negative
      // div identities (`//` == Spark div only on non-negatives — the
      // q62 regime routed through sign cases), xpath round = floor of
      // (2a+b)/(2b).
      Some("""WITH d AS (SELECT 'd' || CAST(doc_id AS VARCHAR) AS s,
        |                  CAST(doc_id % 201 - 100 AS BIGINT) AS a
        |           FROM documents)
        |SELECT s, a, abs(a) AS abs_a,
        |       CASE WHEN a >= 0 THEN a // 7 ELSE -((-a + 6) // 7) END AS fl,
        |       CASE WHEN a >= 0 THEN (a + 6) // 7 ELSE -((-a) // 7) END AS ce,
        |       CASE WHEN 2 * a + 7 >= 0 THEN (2 * a + 7) // 14
        |            ELSE -((-(2 * a + 7) + 13) // 14) END AS rnd
        |FROM d""".stripMargin)),
    // Incremental fusion-view maintenance: new assertions (color
    // re-votes for the id%10<3 docs) re-derive winners ONLY for their
    // touched (entity, property) groups — untouched groups keep their
    // base winners via the anti-join lane; the oracle is the
    // DEFINITIONAL full fusion over base ∪ delta (q139 rule: keep it
    // independent of the semi-restrict plan)
    Query("q162_fusion_delta", (s, d) => {
      val docs = t(s, d, "documents")
      val base = spoOf(docs, Lane.colors, Lane.shapes)
      val added = docs.where(pmod(col("doc_id"), lit(10)) < 3)
        .select(concat(lit("e"), pmod(col("doc_id"), lit(50))).as("s"), lit("color").as("p"),
          concat(lit("v"), pmod(col("doc_id") * 11, lit(3))).as("o"))
      TripleOps.resolveConflictsDelta(base, added).select("s", "p", "o", "support")
    },
      // DuckDB twin of q162 (fusion delta): the DEFINITIONAL full fusion
      // over base ∪ delta — independent of the Spark anti-join/semi-
      // restrict maintenance plan (the q139/q132 rule).
      Some(s"""WITH a AS (
        |${spoSql(Lane.colors, Lane.shapes)}
        |  UNION ALL
        |  SELECT 'e' || CAST(doc_id % 50 AS VARCHAR), 'color',
        |         'v' || CAST((doc_id * 11) % 3 AS VARCHAR) FROM documents
        |  WHERE doc_id % 10 < 3
        |), v AS (
        |  SELECT s, p, o, count(*) AS support FROM a GROUP BY 1, 2, 3
        |)
        |SELECT s, p, o, support FROM (
        |  SELECT *, row_number() OVER (PARTITION BY s, p ORDER BY support DESC, o) AS rk FROM v
        |) WHERE rk = 1""".stripMargin)),
    // SHACL value constraints (core §4.2-4.4): sh:pattern over the
    // value string (RE2-subset regex), sh:in term-set membership,
    // sh:minLength, sh:datatype via the term-structure decode — four
    // planted violation lanes, each firing on its own residue class
    Query("q158_shacl_values", (s, d) => {
      val docs = t(s, d, "documents")
      val spo = docs.select(dId.as("s"), lit("email").as("p"),
          when(pmod(col("doc_id"), lit(5)) === 0,
            concat(lit("\"bad email "), col("doc_id"), lit("\"")))
            .otherwise(concat(lit("\"user"), pmod(col("doc_id"), lit(100)),
              lit("@ex.org\""))).as("o"))
        .unionByName(docs.select(dId.as("s"), lit("status").as("p"),
          when(pmod(col("doc_id"), lit(3)) === 0, lit("\"a\""))
            .when(pmod(col("doc_id"), lit(3)) === 1, lit("\"b\""))
            .otherwise(lit("\"zz\"")).as("o")))
        .unionByName(docs.select(dId.as("s"), lit("code").as("p"),
          when(pmod(col("doc_id"), lit(7)) === 0, lit("\"x\""))
            .otherwise(concat(lit("\"xy"), pmod(col("doc_id"), lit(9)), lit("\""))).as("o")))
        .unionByName(docs.select(dId.as("s"), lit("age").as("p"),
          when(pmod(col("doc_id"), lit(2)) === 0,
            concat(lit("\""), pmod(col("doc_id"), lit(90)), lit("\"^^xsd:integer")))
            .otherwise(concat(lit("\""), pmod(col("doc_id"), lit(90)), lit("\""))).as("o")))
      val focus = docs.select(dId.as("s"))
      TripleOps.validateShapes(spo, focus, Seq(
          TripleOps.PropertyShape("email", pattern = Some("^[a-z0-9]+@[a-z.]+$")),
          TripleOps.PropertyShape("status", inSet = Some(Seq("\"a\"", "\"b\""))),
          TripleOps.PropertyShape("code", minLength = 2L),
          TripleOps.PropertyShape("age", datatype = Some("xsd:integer"))))
        .select("s", "path", "violation", "n")
    },
      // DuckDB twin of q158 (SHACL value constraints): violation rows
      // stated directly per residue lane (the q145 rule) — deliberately
      // independent of the Spark regex/term-decode machinery.
      Some("""WITH d AS (SELECT doc_id AS id, CAST(doc_id AS VARCHAR) AS ids FROM documents)
        |SELECT s, path, violation, n FROM (
        |  SELECT 'd' || ids AS s, 'email' AS path, 'pattern' AS violation,
        |         CAST(1 AS BIGINT) AS n
        |  FROM d WHERE id % 5 = 0
        |  UNION ALL
        |  SELECT 'd' || ids, 'status', 'in', CAST(1 AS BIGINT) FROM d WHERE id % 3 = 2
        |  UNION ALL
        |  SELECT 'd' || ids, 'code', 'minLength', CAST(1 AS BIGINT) FROM d WHERE id % 7 = 0
        |  UNION ALL
        |  SELECT 'd' || ids, 'age', 'datatype', CAST(1 AS BIGINT) FROM d WHERE id % 2 = 1
        |)""".stripMargin)),
    // OWL 2 RL cax-dw: owl:disjointWith consistency check — every
    // instance typed with both classes of a disjoint pair is a
    // violation witness; each doc carries types c(id%6) and
    // c((id+3)%6), so exactly the {0,3} and {1,4} residue pairs fire
    Query("q159_owl_disjoint", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val types = docs.select(dId.as("inst"),
          concat(lit("c"), pmod(col("doc_id"), lit(6))).as("cls"))
        .unionByName(docs.select(dId.as("inst"),
          concat(lit("c"), pmod(col("doc_id") + 3, lit(6))).as("cls")))
      val dis = Seq(("c0", "c3"), ("c1", "c4")).toDF("a", "b")
      TripleOps.disjointViolations(types, dis).select("inst", "a", "b")
    },
      // DuckDB twin of q159 (cax-dw): witnesses stated directly from the
      // residue arithmetic — {0,3} hit (c0,c3), {1,4} hit (c1,c4).
      Some("""SELECT 'd' || CAST(doc_id AS VARCHAR) AS inst,
        |       CASE WHEN doc_id % 6 IN (0, 3) THEN 'c0' ELSE 'c1' END AS a,
        |       CASE WHEN doc_id % 6 IN (0, 3) THEN 'c3' ELSE 'c4' END AS b
        |FROM documents WHERE doc_id % 6 IN (0, 1, 3, 4)""".stripMargin)),
    // SPARQL string/hash function layer round 2: STRBEFORE/STRAFTER
    // (empty-on-absent via the instr guard), CONTAINS, ENCODE_FOR_URI
    // (documented fixture-alphabet subset: space and '/' percent-
    // encode via chained replaces, engine-identical), and MD5 (Spark
    // md5 == DuckDB md5 hex)
    Query("q154_strfuncs2", (s, d) => {
      val docs = t(s, d, "documents")
      val u = concat(lit("http://ex.org/path"), pmod(col("doc_id"), lit(20)),
        lit("/page?x="), pmod(col("doc_id"), lit(7)))
      val tRaw = concat(lit("a b/c"), pmod(col("doc_id"), lit(5)))
      docs.select(dId.as("s"), u.as("u"), tRaw.as("traw"))
        .select(col("s"),
          when(instr(col("u"), "?") > 0,
            expr("substring(u, 1, instr(u, '?') - 1)")).otherwise(lit("")).as("before"),
          when(instr(col("u"), "?") > 0,
            expr("substring(u, instr(u, '?') + 1, 1000000)")).otherwise(lit("")).as("after"),
          when(col("u").contains("5"), lit(1L)).otherwise(lit(0L)).as("has5"),
          regexp_replace(regexp_replace(col("traw"), " ", "%20"), "/", "%2F").as("enc"),
          md5(col("u")).as("h"))
    },
      // DuckDB twin of q154 (string/hash round 2): before/after/enc are
      // stated directly from doc_id (q145 rule); has5 replays CONTAINS
      // over the same constructed string; md5 is the engine-identical
      // primitive (q9/q16 family).
      Some("""WITH d AS (
        |  SELECT doc_id AS id, CAST(doc_id AS VARCHAR) AS ids,
        |         'http://ex.org/path' || CAST(doc_id % 20 AS VARCHAR) ||
        |           '/page?x=' || CAST(doc_id % 7 AS VARCHAR) AS u
        |  FROM documents
        |)
        |SELECT 'd' || ids AS s,
        |       'http://ex.org/path' || CAST(id % 20 AS VARCHAR) || '/page' AS before,
        |       'x=' || CAST(id % 7 AS VARCHAR) AS after,
        |       CASE WHEN contains(u, '5') THEN CAST(1 AS BIGINT) ELSE CAST(0 AS BIGINT) END AS has5,
        |       'a%20b%2Fc' || CAST(id % 5 AS VARCHAR) AS enc,
        |       md5(u) AS h
        |FROM d""".stripMargin)),
    // SPARQL XPath-style dateTime accessors (YEAR/MONTH/DAY/HOURS/
    // MINUTES/SECONDS/TZ) over xsd:dateTime LEXICAL forms — pure
    // fixed-offset substring slices (the q131 substring-parity rule),
    // no calendar library and no session timezone anywhere near the
    // path (the q49 NTZ discipline)
    Query("q155_datetime_accessors", (s, d) => {
      val docs = t(s, d, "documents")
      val lex = concat(
        format_string("%04d", lit(2020) + pmod(col("doc_id"), lit(5))), lit("-"),
        format_string("%02d", lit(1) + pmod(col("doc_id"), lit(12))), lit("-"),
        format_string("%02d", lit(1) + pmod(col("doc_id"), lit(28))), lit("T"),
        format_string("%02d", pmod(col("doc_id"), lit(24))), lit(":"),
        format_string("%02d", pmod(col("doc_id"), lit(60))), lit(":"),
        format_string("%02d", pmod(col("doc_id") * 7, lit(60))),
        when(pmod(col("doc_id"), lit(2)) === 0, lit("Z")).otherwise(lit("+05:30")))
      docs.select(dId.as("s"), lex.as("lex"))
        .select(col("s"),
          substring(col("lex"), 1, 4).cast("long").as("yr"),
          substring(col("lex"), 6, 2).cast("long").as("mo"),
          substring(col("lex"), 9, 2).cast("long").as("dy"),
          substring(col("lex"), 12, 2).cast("long").as("hh"),
          substring(col("lex"), 15, 2).cast("long").as("mi"),
          substring(col("lex"), 18, 2).cast("long").as("ss"),
          substring(col("lex"), 20, 10).as("tz"))
    },
      // DuckDB twin of q155 (dateTime accessors): components restated
      // directly from doc_id — deliberately NOT a substring replay, so
      // the Spark slice offsets are checked against the generating
      // arithmetic; tz is the only string lane.
      Some("""SELECT 'd' || CAST(doc_id AS VARCHAR) AS s,
        |       2020 + doc_id % 5 AS yr,
        |       1 + doc_id % 12 AS mo,
        |       1 + doc_id % 28 AS dy,
        |       doc_id % 24 AS hh,
        |       doc_id % 60 AS mi,
        |       (doc_id * 7) % 60 AS ss,
        |       CASE WHEN doc_id % 2 = 0 THEN 'Z' ELSE '+05:30' END AS tz
        |FROM documents""".stripMargin)),
    // KG fusion: conflicting extracted values per (entity, property)
    // resolve by support voting — most assertions win, lexicographic
    // min value on ties (deterministic under any arrival order);
    // duplicate assertion rows are votes by design
    Query("q156_kg_fusion", (s, d) => {
      val a = spoOf(t(s, d, "documents"), Lane.colors, Lane.shapes)
      TripleOps.resolveConflicts(a).select("s", "p", "o", "support")
    },
      // DuckDB twin of q156 (KG fusion): the same vote-count + top-1
      // window formulation — support DESC, value ASC tiebreak; counts
      // are BIGINT both engines.
      Some(s"""WITH a AS (
        |${spoSql(Lane.colors, Lane.shapes)}
        |), v AS (
        |  SELECT s, p, o, count(*) AS support FROM a GROUP BY 1, 2, 3
        |)
        |SELECT s, p, o, support FROM (
        |  SELECT *, row_number() OVER (PARTITION BY s, p ORDER BY support DESC, o) AS rk FROM v
        |) WHERE rk = 1""".stripMargin)),
    // SPARQL COUNT(DISTINCT ?x) vs COUNT(*): the duplicated solution
    // lane makes the distinction observable — n_rows doubles, the
    // distinct counts don't
    Query("q157_agg_distinct", (s, d) => {
      val docs = t(s, d, "documents")
      val sols0 = docs.select(dId.as("x"),
        concat(lit("o"), pmod(col("doc_id"), lit(16))).as("org"),
        concat(lit("l"), pmod(col("doc_id"), lit(5))).as("lg"))
      val sols = sols0.unionByName(sols0)
      sols.groupBy(col("org")).agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("x")).as("n_members"),
        countDistinct(col("lg")).as("n_langs"))
    },
      // DuckDB twin of q157 (COUNT DISTINCT vs COUNT(*)): the doubled
      // lane is rebuilt with UNION ALL; distinct counts collapse it.
      Some("""WITH s0 AS (
        |  SELECT 'd' || CAST(doc_id AS VARCHAR) AS x,
        |         'o' || CAST(doc_id % 16 AS VARCHAR) AS org,
        |         'l' || CAST(doc_id % 5 AS VARCHAR) AS lg
        |  FROM documents
        |), sols AS (SELECT * FROM s0 UNION ALL SELECT * FROM s0)
        |SELECT org, count(*) AS n_rows,
        |       count(DISTINCT x) AS n_members,
        |       count(DISTINCT lg) AS n_langs
        |FROM sols GROUP BY org""".stripMargin)),
    // OPTIONAL with an inner FILTER — LeftJoin(Ω1, Ω2, expr): the
    // price≤budget condition decides the MATCH, so failing offers
    // leave the solution in place with price unbound (−1 sentinel),
    // never dropped; the id%3==0 docs have no offer at all and land
    // in the same unbound lane
    Query("q151_optional_filter", (s, d) => {
      val docs = t(s, d, "documents")
      val spo = docs.select(dId.as("s"), lit("hasBudget").as("p"),
          pmod(col("doc_id"), lit(100)).cast("string").as("o"))
        .unionByName(docs.where(pmod(col("doc_id"), lit(3)) =!= 0)
          .select(dId.as("s"), lit("offerPrice").as("p"),
            pmod(col("doc_id") * 7, lit(150)).cast("string").as("o")))
      TripleOps.bgpOptionalFiltered(spo,
          Seq(("?x", "hasBudget", "?b")),
          Seq((Seq(("?x", "offerPrice", "?price")),
            col("price").cast("long") <= col("b").cast("long"))))
        .select(col("x"), col("b").cast("long").as("budget"),
          coalesce(col("price").cast("long"), lit(-1L)).as("price"))
    },
      // DuckDB twin of q151 (OPTIONAL inner FILTER): the definitional
      // CASE form — price binds iff an offer exists AND passes the
      // filter, else the −1 unbound sentinel; deliberately NOT a replayed
      // left join, so the Spark LeftJoin(Ω1, Ω2, expr) plan is checked
      // against the semantics, not against itself.
      Some("""SELECT 'd' || CAST(doc_id AS VARCHAR) AS x, doc_id % 100 AS budget,
        |       CASE WHEN doc_id % 3 <> 0 AND (doc_id * 7) % 150 <= doc_id % 100
        |            THEN (doc_id * 7) % 150 ELSE -1 END AS price
        |FROM documents""".stripMargin)),
    // SPARQL BIND expression functions over OPTIONAL solutions:
    // COALESCE picks the nick when bound else the name; BOUND drives
    // an IF into a 0/1 flag — null-propagation semantics map exactly
    // onto Spark coalesce/when
    Query("q152_bind_coalesce", (s, d) => {
      val docs = t(s, d, "documents")
      val spo = docs.select(dId.as("s"), lit("name").as("p"),
          concat(lit("name"), pmod(col("doc_id"), lit(100))).as("o"))
        .unionByName(docs.where(pmod(col("doc_id"), lit(4)) === 0)
          .select(dId.as("s"), lit("nick").as("p"),
            concat(lit("nick"), pmod(col("doc_id"), lit(50))).as("o")))
      val sols = TripleOps.bgpOptional(spo,
        Seq(("?x", "name", "?name")), Seq(Seq(("?x", "nick", "?nick"))))
      TripleOps.bind(
          TripleOps.bind(sols, "display", coalesce(col("nick"), col("name"))),
          "has_nick", when(col("nick").isNotNull, lit(1L)).otherwise(lit(0L)))
        .select("x", "display", "has_nick")
    },
      // DuckDB twin of q152 (BIND COALESCE/BOUND/IF): definitional CASE
      // over the nick-presence lane.
      Some("""SELECT 'd' || CAST(doc_id AS VARCHAR) AS x,
        |       CASE WHEN doc_id % 4 = 0 THEN 'nick' || CAST(doc_id % 50 AS VARCHAR)
        |            ELSE 'name' || CAST(doc_id % 100 AS VARCHAR) END AS display,
        |       CASE WHEN doc_id % 4 = 0 THEN CAST(1 AS BIGINT)
        |            ELSE CAST(0 AS BIGINT) END AS has_nick
        |FROM documents""".stripMargin)),
    // SPARQL VALUES with UNDEF wildcards: binding rows constrain only
    // their non-null columns, and a solution compatible with several
    // rows appears once per row — the spec's multiset join, pinned by
    // the deliberately overlapping (o1, UNDEF) / (UNDEF, de) rows
    Query("q153_values_undef", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val sols = docs.select(dId.as("x"),
        concat(lit("o"), pmod(col("doc_id"), lit(4))).as("org"),
        when(pmod(col("doc_id"), lit(3)) === 0, lit("en"))
          .when(pmod(col("doc_id"), lit(3)) === 1, lit("de"))
          .otherwise(lit("fr")).as("lg"))
      val bindings = Seq(
        (Some("o1"), Option.empty[String]),
        (Option.empty[String], Some("de")),
        (Some("o3"), Some("en"))).toDF("org", "lg")
      TripleOps.valuesUndef(sols, bindings).select("x", "org", "lg")
    },
      // DuckDB twin of q153 (VALUES UNDEF): the same inline rows joined
      // with the IS NULL-or-equal compatibility condition — multiset
      // semantics preserved (no DISTINCT; the overlapping rows must
      // duplicate exactly as Spark's join does).
      Some("""WITH sols AS (
        |  SELECT 'd' || CAST(doc_id AS VARCHAR) AS x,
        |         'o' || CAST(doc_id % 4 AS VARCHAR) AS org,
        |         CASE doc_id % 3 WHEN 0 THEN 'en' WHEN 1 THEN 'de' ELSE 'fr' END AS lg
        |  FROM documents
        |), b(borg, blg) AS (VALUES ('o1', NULL), (NULL, 'de'), ('o3', 'en'))
        |SELECT x, org, lg FROM sols JOIN b
        |  ON (borg IS NULL OR borg = org) AND (blg IS NULL OR blg = lg)""".stripMargin)),
    // SPARQL §17.4 term functions end-to-end: isIRI/isBlank/isLiteral
    // via termKind, STR (bnode → type error → null → ''), DATATYPE
    // (explicit / rdf:langString / xsd:string), LANGMATCHES with RFC
    // 4647 basic filtering ('en' matches 'EN-US' at the '-' boundary,
    // not 'de') — non-matching lang literals are the only dropped rows
    Query("q149_term_functions", (s, d) => {
      val docs = t(s, d, "documents")
      val spo = docs.select(dId.as("s"), lit("label").as("p"),
          concat(lit("\"name"), pmod(col("doc_id"), lit(100)), lit("\"@"),
            when(pmod(col("doc_id"), lit(3)) === 0, lit("en"))
              .when(pmod(col("doc_id"), lit(3)) === 1, lit("EN-US"))
              .otherwise(lit("de"))).as("o"))
        .unionByName(Lane.age(docs))
        .unionByName(docs.select(dId.as("s"), lit("ref").as("p"),
          concat(lit("_:b"), pmod(col("doc_id"), lit(7))).as("o")))
        .unionByName(docs.select(dId.as("s"), lit("link").as("p"),
          concat(lit("http://x/"), pmod(col("doc_id"), lit(11))).as("o")))
      val typed = spo.select(col("s"), col("p"),
        TripleOps.termKind(col("o")).as("kind"),
        TripleOps.strOf(col("o")).as("strv0"),
        TripleOps.datatypeOf(col("o")).as("dt0"),
        TripleOps.termColumns(col("o")).apply(2).as("lang"))
      typed.where(col("kind") =!= "literal" ||
          TripleOps.langMatchesCol(col("lang"), "en") || col("dt0") === "xsd:integer")
        .select(col("s"), col("p"), col("kind"),
          coalesce(col("strv0"), lit("")).as("strv"),
          coalesce(col("dt0"), lit("")).as("dt"))
    },
      // DuckDB twin of q149 (term functions): expected rows stated
      // directly per lane (the q145 rule) — the en/EN-US/de langMatches
      // split is the only data-dependent branch, and it is a pure id%3
      // case; STR's bnode type error surfaces as the '' strv lane.
      Some("""WITH d AS (SELECT doc_id AS id, CAST(doc_id AS VARCHAR) AS ids FROM documents)
        |SELECT s, p, kind, strv, dt FROM (
        |  SELECT 'd' || ids AS s, 'label' AS p, 'literal' AS kind,
        |         'name' || CAST(id % 100 AS VARCHAR) AS strv, 'rdf:langString' AS dt
        |  FROM d WHERE id % 3 IN (0, 1)
        |  UNION ALL
        |  SELECT 'd' || ids, 'age', 'literal', CAST(id % 90 AS VARCHAR), 'xsd:integer' FROM d
        |  UNION ALL
        |  SELECT 'd' || ids, 'ref', 'bnode', '', '' FROM d
        |  UNION ALL
        |  SELECT 'd' || ids, 'link', 'iri', 'http://x/' || CAST(id % 11 AS VARCHAR), '' FROM d
        |)""".stripMargin)),
    // SPARQL HAVING over group aggregates: org sizes are skewed BY
    // CONSTRUCTION (trailing-zeros grouping: o0 ≈ 1/2, o1 ≈ 1/4,
    // o2/o3 ≈ 1/8 each), and HAVING keeps groups holding ≥ 1/5 of all
    // members — a data-derived threshold (broadcast scalar subquery,
    // the q102 single-row pattern), so the gate splits identically at
    // every scale factor with wide margins
    Query("q150_bgp_having", (s, d) => {
      val docs = t(s, d, "documents")
      val org = when(pmod(col("doc_id"), lit(2)) =!= 0, lit("o0"))
        .when(pmod(col("doc_id"), lit(4)) =!= 0, lit("o1"))
        .when(pmod(col("doc_id"), lit(8)) =!= 0, lit("o2"))
        .otherwise(lit("o3"))
      val grouped = docs.select(org.as("org"), pmod(col("doc_id"), lit(90)).as("age"))
        .groupBy(col("org")).agg(count(lit(1)).as("n"),
          sum(col("age")).as("sum_age"), max(col("age")).as("max_age"))
      val total = docs.agg(count(lit(1)).as("tot"))
      grouped.crossJoin(broadcast(total))
        .where(col("n") * 5 >= col("tot"))
        .select(col("org"), col("n"), col("sum_age"), col("max_age"))
    },
      // DuckDB twin of q150 (HAVING): the same grouped aggregate with a
      // scalar-subquery HAVING gate; HUGEINT sum cast back to BIGINT
      // (q70 rule), trailing-zeros skew keeps the 1/5 threshold safely
      // away from every group share at any scale factor.
      Some("""WITH g AS (
        |  SELECT CASE WHEN doc_id % 2 <> 0 THEN 'o0'
        |              WHEN doc_id % 4 <> 0 THEN 'o1'
        |              WHEN doc_id % 8 <> 0 THEN 'o2' ELSE 'o3' END AS org,
        |         doc_id % 90 AS age
        |  FROM documents
        |)
        |SELECT org, count(*) AS n, CAST(sum(age) AS BIGINT) AS sum_age, max(age) AS max_age
        |FROM g GROUP BY org
        |HAVING count(*) * 5 >= (SELECT count(*) FROM documents)""".stripMargin)),
    // SPARQL path alternation under closure — (a|^b)+ over a div-2
    // link forest where predicate lanes split by doc_id%3: 'a' edges
    // stored child→parent, 'b' edges stored REVERSED (so only the
    // inverse step recovers them), 'c' edges excluded — the closure
    // truncates at every c-lane link, which is what distinguishes
    // this from q144's single-predicate full-tree walk
    Query("q147_path_alt", (s, d) => {
      val docs = t(s, d, "documents").where(col("doc_id") >= 1)
      val a = docs.where(pmod(col("doc_id"), lit(3)) === 0)
        .select(format_string("n%06d", col("doc_id")).as("s"), lit("a").as("p"),
          format_string("n%06d", expr("doc_id div 2")).as("o"))
      val b = docs.where(pmod(col("doc_id"), lit(3)) === 1)
        .select(format_string("n%06d", expr("doc_id div 2")).as("s"), lit("b").as("p"),
          format_string("n%06d", col("doc_id")).as("o"))
      val c = docs.where(pmod(col("doc_id"), lit(3)) === 2)
        .select(format_string("n%06d", col("doc_id")).as("s"), lit("c").as("p"),
          format_string("n%06d", expr("doc_id div 2")).as("o"))
      val edges = a.unionByName(b).unionByName(c)
      TripleOps.path(edges, Seq(TripleOps.Plus(TripleOps.Alt(Seq(
          TripleOps.PredStep("a"), TripleOps.PredStep("b", inverse = true))))))
        .select("src", "dst")
    },
      // DuckDB twin of q147 ((a|^b)+ closure): the alternation collapses
      // to one child→parent edge set (a stored forward, b recovered by
      // the inverse step), so the oracle walks the %3∈{0,1} subgraph —
      // `//` on non-negatives == Spark div (q62 rule); e is consumed
      // twice → MATERIALIZED (q71 rule).
      Some("""WITH RECURSIVE e AS MATERIALIZED (
        |  SELECT doc_id AS x, doc_id // 2 AS y FROM documents
        |  WHERE doc_id >= 1 AND doc_id % 3 IN (0, 1)
        |), walk AS (
        |  SELECT x, y FROM e
        |  UNION
        |  SELECT w.x, e2.y FROM walk w JOIN e e2 ON e2.x = w.y
        |)
        |SELECT printf('n%06d', x) AS src, printf('n%06d', y) AS dst FROM walk""".stripMargin)),
    // OWL FunctionalProperty entity resolution (prp-fp, the mirror of
    // q143's prp-ifp): every item doc_id%23 accumulates one asserted
    // owner per doc — all owners of an item are inferred sameAs, as
    // star links to the per-item minimum owner (zero-padded ids: q98
    // lexicographic == numeric); the non-functional 'note' lane must
    // be ignored
    Query("q148_fp_entity_resolution", (s, d) => {
      val docs = t(s, d, "documents")
      val item = concat(lit("i"), pmod(col("doc_id"), lit(23)))
      val spo = docs.select(item.as("s"), lit("ownedBy").as("p"),
          format_string("o%06d", col("doc_id")).as("o"))
        .unionByName(docs.select(item.as("s"), lit("note").as("p"),
          concat(lit("x"), col("doc_id")).as("o")))
      TripleOps.fpSameAs(spo, Seq("ownedBy")).select("s", "p", "o")
    },
      // DuckDB twin of q148 (prp-fp): window-min over each item's owner
      // set — an independent formulation of the star-link inference,
      // valid because the fixture's item groups are disjoint (q143 rule);
      // the note lane never enters the slice.
      Some("""WITH slice AS (
        |  SELECT 'i' || CAST(doc_id % 23 AS VARCHAR) AS item, printf('o%06d', doc_id) AS o
        |  FROM documents
        |)
        |SELECT m AS s, 'sameAs' AS p, o
        |FROM (SELECT o, min(o) OVER (PARTITION BY item) AS m FROM slice)
        |WHERE o <> m""".stripMargin)),
    // reification reconstruction: qualified worksFor edges (stmt node
    // + subject/predicate/object roles + a confidence annotation)
    // rebuilt into (stmt, x, org, conf); planted malformed statements
    // — %9-docs' stmt missing its object role, %8-docs' stmt carrying
    // a CONFLICTING second object — must yield nothing (exactly-one)
    Query("q123_reified", (s, d) => {
      val docs = t(s, d, "documents")
      val stId = concat(lit("st"), col("doc_id"))
      val reifDocs = docs.where(pmod(col("doc_id"), lit(4)) === 0)
      val spo = reifDocs.select(stId.as("s"), lit("subject").as("p"), dId.as("o"))
        .unionByName(reifDocs.select(stId.as("s"), lit("predicate").as("p"),
          lit("worksFor").as("o")))
        .unionByName(reifDocs.where(pmod(col("doc_id"), lit(9)) =!= 0)
          .select(stId.as("s"), lit("object").as("p"),
            concat(lit("o"), pmod(col("doc_id"), lit(16))).as("o")))
        .unionByName(reifDocs.where(pmod(col("doc_id"), lit(8)) === 0)
          .select(stId.as("s"), lit("object").as("p"), lit("oX").as("o")))
        .unionByName(reifDocs.select(stId.as("s"), lit("confidence").as("p"),
          concat(lit("c"), pmod(col("doc_id"), lit(5))).as("o")))
      TripleOps.unreify(spo, "subject", "predicate", "object")
        .join(spo.where(col("p") === "confidence")
          .select(col("s").as("stmt"), col("o").as("conf")), Seq("stmt"))
        .select(col("stmt"), col("s").as("x"), col("o").as("org"), col("conf"))
    },
      // DuckDB twin of q123 (reification): role CTEs with the exactly-one
      // HAVING discipline, three stmt-keyed joins + the annotation join —
      // the %9 missing-object and %8 conflicting-object plants must drop.
      Some("""WITH spo AS MATERIALIZED (
        |  SELECT 'st' || CAST(doc_id AS VARCHAR) AS s, 'subject' AS p,
        |         'd' || CAST(doc_id AS VARCHAR) AS o FROM documents WHERE doc_id % 4 = 0
        |  UNION ALL
        |  SELECT 'st' || CAST(doc_id AS VARCHAR), 'predicate', 'worksFor'
        |  FROM documents WHERE doc_id % 4 = 0
        |  UNION ALL
        |  SELECT 'st' || CAST(doc_id AS VARCHAR), 'object',
        |         'o' || CAST(doc_id % 16 AS VARCHAR)
        |  FROM documents WHERE doc_id % 4 = 0 AND doc_id % 9 <> 0
        |  UNION ALL
        |  SELECT 'st' || CAST(doc_id AS VARCHAR), 'object', 'oX'
        |  FROM documents WHERE doc_id % 8 = 0
        |  UNION ALL
        |  SELECT 'st' || CAST(doc_id AS VARCHAR), 'confidence',
        |         'c' || CAST(doc_id % 5 AS VARCHAR) FROM documents WHERE doc_id % 4 = 0
        |),
        |subj AS (SELECT s AS stmt, min(o) AS x FROM spo WHERE p = 'subject'
        |         GROUP BY s HAVING COUNT(DISTINCT o) = 1),
        |pred AS (SELECT s AS stmt, min(o) AS pv FROM spo WHERE p = 'predicate'
        |         GROUP BY s HAVING COUNT(DISTINCT o) = 1),
        |obj AS (SELECT s AS stmt, min(o) AS org FROM spo WHERE p = 'object'
        |        GROUP BY s HAVING COUNT(DISTINCT o) = 1)
        |SELECT subj.stmt, subj.x, obj.org, c.o AS conf
        |FROM subj JOIN pred USING (stmt) JOIN obj USING (stmt)
        |JOIN spo c ON c.p = 'confidence' AND c.s = subj.stmt""".stripMargin)),
    // VoID property-partition descriptor over the q92-style spo table:
    // per predicate, triple count + exact distinct subject/object
    // cardinalities — the publish-time dataset statistics of a KG
    Query("q124_void_stats", (s, d) => {
      val docs = t(s, d, "documents")
      val spo = Lane.name(docs)
        .unionByName(Lane.worksFor(docs))
        .unionByName(docs.select(dId.as("s"), lit("type").as("p"),
          when(pmod(col("doc_id"), lit(3)) === 0, lit("Person"))
            .otherwise(lit("Org")).as("o")))
        .unionByName(Lane.labels(16)(docs))
      TripleOps.voidPropertyPartition(spo)
        .select(col("p"), col("n_triples"), col("n_subj"), col("n_obj"))
    },
      // DuckDB twin of q124 (VoID property partition): one grouped pass,
      // native exact count-distinct both sides.
      Some(s"""WITH spo AS (
        |${spoSql(Lane.name, Lane.worksFor)}
        |  UNION ALL
        |  SELECT 'd' || CAST(doc_id AS VARCHAR), 'type',
        |         CASE WHEN doc_id % 3 = 0 THEN 'Person' ELSE 'Org' END FROM documents
        |  UNION ALL
        |${Lane.labels(16).bare}
        |)
        |SELECT p, CAST(COUNT(*) AS BIGINT) AS n_triples,
        |       CAST(COUNT(DISTINCT s) AS BIGINT) AS n_subj,
        |       CAST(COUNT(DISTINCT o) AS BIGINT) AS n_obj
        |FROM spo GROUP BY p""".stripMargin)),
    // OWL property-chain + symmetric entailment: marriedTo is
    // owl:SymmetricProperty (asserted one-way, mirrored), hasParent∘
    // hasParent ⊑ hasGrandparent and hasGrandparent∘hasParent ⊑
    // hasGreatGrandparent chain to a joint fixpoint — the second
    // chain consumes the first's DERIVED edges, proving the
    // semi-naive rounds (prp-spo2, the OWL RL rule)
    Query("q121_owl_chain", (s, d) => {
      val docs = t(s, d, "documents")
      val spo = docs.where(col("doc_id") > 0)
          .select(dId.as("s"), lit("hasParent").as("p"),
            concat(lit("d"), expr("doc_id div 2")).as("o"))
        .unionByName(docs.where(pmod(col("doc_id"), lit(10)) === 0)
          .select(dId.as("s"), lit("marriedTo").as("p"),
            concat(lit("d"), col("doc_id") + 1).as("o")))
        .unionByName(Lane.name(docs))
      TripleOps.chainAxiomEntail(
        TripleOps.symmetricPropEntail(spo, Seq("marriedTo")),
        Seq(("hasParent", "hasParent", "hasGrandparent"),
          ("hasGrandparent", "hasParent", "hasGreatGrandparent")))
        .select("s", "p", "o")
    },
      // DuckDB twin of q121 (OWL chain + symmetric): the chains UNROLLED
      // as explicit join CTEs (gp = parent², ggp = gp ∘ parent) — the
      // closed form of the Spark side's fixpoint, exact because the
      // schema's chain depth is 2; par/gp are multi-consumed (the q71
      // MATERIALIZED rule).
      Some(s"""WITH spo AS MATERIALIZED (
        |  SELECT 'd' || CAST(doc_id AS VARCHAR) AS s, 'hasParent' AS p,
        |         'd' || CAST(doc_id // 2 AS VARCHAR) AS o FROM documents WHERE doc_id > 0
        |  UNION ALL
        |  SELECT 'd' || CAST(doc_id AS VARCHAR), 'marriedTo',
        |         'd' || CAST(doc_id + 1 AS VARCHAR) FROM documents WHERE doc_id % 10 = 0
        |  UNION ALL
        |${Lane.name.bare}
        |),
        |par AS MATERIALIZED (SELECT s, o FROM spo WHERE p = 'hasParent'),
        |gp AS MATERIALIZED (SELECT a.s, b.o FROM par a JOIN par b ON b.s = a.o),
        |ggp AS (SELECT g.s, c.o FROM gp g JOIN par c ON c.s = g.o)
        |SELECT s, p, o FROM spo
        |UNION
        |SELECT o, 'marriedTo', s FROM spo WHERE p = 'marriedTo'
        |UNION
        |SELECT s, 'hasGrandparent', o FROM gp
        |UNION
        |SELECT s, 'hasGreatGrandparent', o FROM ggp""".stripMargin)),
    // SPARQL 1.1 UPDATE graph management over per-source named graphs:
    // MOVE src0 TO live, ADD src1 TO live (the shared corpus-version
    // quad lands in live from BOTH sources — set-dedup must collapse
    // it), CLEAR src2, COPY src3 TO mirror — the promote/merge/retire
    // lifecycle of a per-shard extraction corpus
    Query("q120_graph_mgmt", (s, d) => {
      val docs = t(s, d, "documents")
      val quads = docs.select(col("source").as("g"), dId.as("s"),
          lit("lang").as("p"), col("lang").as("o"))
        .unionByName(docs.select(col("source").as("g"), dId.as("s"),
          lit("bucket").as("p"), concat(lit("b"), pmod(col("doc_id"), lit(7))).as("o")))
        .unionByName(docs.select(col("source").as("g"), lit("corpus").as("s"),
          lit("version").as("p"), lit("v1").as("o")).distinct())
      TripleOps.manageGraphs(quads, Seq(
        TripleOps.MoveGraph("src0", "live"), TripleOps.AddGraph("src1", "live"),
        TripleOps.ClearGraph("src2"), TripleOps.CopyGraph("src3", "mirror")))
        .select(col("g"), col("s"), col("p"), col("o"))
    },
      // DuckDB twin of q120 (graph management): the FINAL state written
      // directly as set algebra — surviving graphs pass through (src0
      // moved away, src2 cleared), live = src0 ∪ src1 content, mirror =
      // src3 content; UNION dedups the shared version quad — independent
      // of the Spark side's op-by-op fold.
      Some("""WITH quads AS MATERIALIZED (
        |  SELECT source AS g, 'd' || CAST(doc_id AS VARCHAR) AS s,
        |         'lang' AS p, lang AS o FROM documents
        |  UNION ALL
        |  SELECT source, 'd' || CAST(doc_id AS VARCHAR), 'bucket',
        |         'b' || CAST(doc_id % 7 AS VARCHAR) FROM documents
        |  UNION ALL
        |  SELECT DISTINCT source, 'corpus', 'version', 'v1' FROM documents
        |)
        |SELECT g, s, p, o FROM quads WHERE g NOT IN ('src0', 'src2')
        |UNION
        |SELECT 'live', s, p, o FROM quads WHERE g IN ('src0', 'src1')
        |UNION
        |SELECT 'mirror', s, p, o FROM quads WHERE g = 'src3'""".stripMargin)),
    // SHACL-lite shape validation over the q92-style spo table with
    // planted violations: docs %19==0 lose their name (minCount),
    // %13==0 gain a second one (maxCount), even docs %17==0 work for
    // a dangling org with no label triple (node check) — the
    // publish-gate of a KG construction pipeline
    Query("q94_shacl_shapes", (s, d) => {
      val docs = t(s, d, "documents")
      val spo = docs.where(pmod(col("doc_id"), lit(19)) =!= 0)
        .select(dId.as("s"), lit("name").as("p"),
          concat(lit("n"), pmod(col("doc_id"), lit(100))).as("o"))
        .unionByName(docs
          .where(pmod(col("doc_id"), lit(13)) === 0 && pmod(col("doc_id"), lit(19)) =!= 0)
          .select(dId.as("s"), lit("name").as("p"), lit("dup").as("o")))
        .unionByName(docs.where(pmod(col("doc_id"), lit(2)) === 0)
          .select(dId.as("s"), lit("worksFor").as("p"),
            when(pmod(col("doc_id"), lit(17)) === 0, lit("ox"))
              .otherwise(concat(lit("o"), pmod(col("doc_id"), lit(16)))).as("o")))
        .unionByName(Lane.labels(16)(docs))
      TripleOps.validateShapes(spo, docs.select(dId.as("s")), Seq(
        TripleOps.PropertyShape("name", minCount = 1L, maxCount = 1L),
        TripleOps.PropertyShape("worksFor", maxCount = 1L, objectMustHave = Some("label"))))
    },
      // DuckDB twin of q94: same synthesized spo table and planted
      // violations; the checks are independent relational formulations
      // (LEFT-JOIN count for cardinality, NOT IN for the node check —
      // no NULLs in the subject sets, so NOT IN is safe).
      Some(s"""WITH spo AS (
        |  SELECT 'd' || CAST(doc_id AS VARCHAR) AS s, 'name' AS p,
        |         'n' || CAST(doc_id % 100 AS VARCHAR) AS o
        |  FROM documents WHERE doc_id % 19 <> 0
        |  UNION ALL
        |  SELECT 'd' || CAST(doc_id AS VARCHAR), 'name', 'dup'
        |  FROM documents WHERE doc_id % 13 = 0 AND doc_id % 19 <> 0
        |  UNION ALL
        |  SELECT 'd' || CAST(doc_id AS VARCHAR), 'worksFor',
        |         CASE WHEN doc_id % 17 = 0 THEN 'ox'
        |              ELSE 'o' || CAST(doc_id % 16 AS VARCHAR) END
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |${Lane.labels(16).bare}
        |), focus AS (
        |  SELECT 'd' || CAST(doc_id AS VARCHAR) AS s FROM documents
        |), name_cnt AS (
        |  SELECT f.s, count(t.s) AS n FROM focus f
        |  LEFT JOIN (SELECT s FROM spo WHERE p = 'name') t ON t.s = f.s GROUP BY f.s
        |), work_cnt AS (
        |  SELECT f.s, count(t.s) AS n FROM focus f
        |  LEFT JOIN (SELECT s FROM spo WHERE p = 'worksFor') t ON t.s = f.s GROUP BY f.s
        |)
        |SELECT s, 'name' AS path, 'minCount' AS violation, CAST(n AS BIGINT) AS n
        |FROM name_cnt WHERE n < 1
        |UNION ALL
        |SELECT s, 'name', 'maxCount', CAST(n AS BIGINT) FROM name_cnt WHERE n > 1
        |UNION ALL
        |SELECT s, 'worksFor', 'maxCount', CAST(n AS BIGINT) FROM work_cnt WHERE n > 1
        |UNION ALL
        |SELECT w.s, 'worksFor', 'node', CAST(count(*) AS BIGINT)
        |FROM spo w JOIN focus f ON f.s = w.s
        |WHERE w.p = 'worksFor' AND w.o NOT IN (SELECT s FROM spo WHERE p = 'label')
        |GROUP BY w.s""".stripMargin)),
    // SPARQL OPTIONAL over the q92 spo table: every doc has a name,
    // only even docs work somewhere — the optional group (worksFor +
    // label chain) binds as a whole or not at all; nulls surface as
    // '' (the q79 rule: no nullable strings in oracle outputs)
    Query("q95_bgp_optional", (s, d) => {
      val spo = spoOf(t(s, d, "documents"), Lane.name, Lane.worksFor, Lane.labels(16), Lane.topic)
      TripleOps.bgpOptional(spo,
        Seq(("?person", "name", "?name")),
        Seq(Seq(("?person", "worksFor", "?org"), ("?org", "label", "?lbl"))))
        .select(col("person"), col("name"),
          coalesce(col("org"), lit("")).as("org"),
          coalesce(col("lbl"), lit("")).as("lbl"))
    },
      // DuckDB twin of q95: the optional group is an INNER join
      // materialized first (worksFor ⋈ label — the group matches as a
      // whole), then LEFT JOINed onto the required name matches; nulls
      // coalesce to '' on both sides.
      Some(s"""WITH spo AS (
        |${spoSql(Lane.name, Lane.worksFor, Lane.labels(16), Lane.topic)}
        |), wl AS (
        |  SELECT w.s, w.o AS org, l.o AS lbl
        |  FROM spo w JOIN spo l ON l.p = 'label' AND l.s = w.o
        |  WHERE w.p = 'worksFor'
        |)
        |SELECT n.s AS person, n.o AS name,
        |  coalesce(wl.org, '') AS org, coalesce(wl.lbl, '') AS lbl
        |FROM spo n LEFT JOIN wl ON wl.s = n.s
        |WHERE n.p = 'name'""".stripMargin)),
    // SPARQL property path (linksTo|redirectsTo){1,3} over a synthetic
    // ancestor forest (d_i -> d_{i div 2}, plus a sparser div-3
    // redirect lane): alternation is one isin slice, the hop cap IS
    // the semantics (unbounded p+ over a TB ABox is a different
    // operator), pairs dedup at their minimum hop via the semi-naive
    // frontier — noise predicates prove the slice pushes down
    Query("q96_property_path", (s, d) => {
      val docs = t(s, d, "documents")
      val spo = docs.where(col("doc_id") > 0)
          .select(dId.as("s"), lit("linksTo").as("p"),
            concat(lit("d"), expr("doc_id div 2")).as("o"))
        .unionByName(docs.where(col("doc_id") > 0 && pmod(col("doc_id"), lit(7)) === 0)
          .select(dId.as("s"), lit("redirectsTo").as("p"),
            concat(lit("d"), expr("doc_id div 3")).as("o")))
        .unionByName(Lane.name(docs))
      TripleOps.boundedPath(spo, Seq("linksTo", "redirectsTo"), 3)
        .select(col("src"), col("dst"))
    },
      // DuckDB twin of q96: NAIVE hop unroll (hop2 = edges ⋈ edges, hop3 =
      // hop2 ⋈ edges, union-distinct at the end) — deliberately independent
      // of the Spark side's semi-naive frontier; value-equal because both
      // compute the distinct ≤3-hop pair set. edges/hop2 are consumed more
      // than once → AS MATERIALIZED (the q71 inlining rule). Spark `div`
      // == DuckDB `//` on the non-negative doc_id.
      Some(s"""WITH spo AS MATERIALIZED (
        |  SELECT 'd' || CAST(doc_id AS VARCHAR) AS s, 'linksTo' AS p,
        |         'd' || CAST(doc_id // 2 AS VARCHAR) AS o
        |  FROM documents WHERE doc_id > 0
        |  UNION ALL
        |  SELECT 'd' || CAST(doc_id AS VARCHAR), 'redirectsTo',
        |         'd' || CAST(doc_id // 3 AS VARCHAR)
        |  FROM documents WHERE doc_id > 0 AND doc_id % 7 = 0
        |  UNION ALL
        |${Lane.name.bare}
        |), edges AS MATERIALIZED (
        |  SELECT DISTINCT s AS src, o AS dst FROM spo
        |  WHERE p IN ('linksTo', 'redirectsTo')
        |), hop2 AS MATERIALIZED (
        |  SELECT DISTINCT e1.src, e2.dst
        |  FROM edges e1 JOIN edges e2 ON e2.src = e1.dst
        |), hop3 AS (
        |  SELECT DISTINCT h.src, e.dst
        |  FROM hop2 h JOIN edges e ON e.src = h.dst
        |)
        |SELECT DISTINCT src, dst FROM (
        |  SELECT * FROM edges UNION ALL
        |  SELECT * FROM hop2 UNION ALL
        |  SELECT * FROM hop3)""".stripMargin)),
    // SPARQL MINUS + FILTER over the q92/q95 spo table: docs with a
    // name (except the filtered one) minus those working for a
    // LABELED org — labels stop at o11, so even docs pointing at
    // o12-o15 survive the minus (the group must match as a whole)
    Query("q97_bgp_minus", (s, d) => {
      val spo = spoOf(t(s, d, "documents"), Lane.name, Lane.worksFor, Lane.labels(12))
      TripleOps.bgpMinus(spo,
        Seq(("?person", "name", "?name")),
        Seq(Seq(("?person", "worksFor", "?org"), ("?org", "label", "?lbl"))))
        .where(col("name") =!= "n7") // SPARQL FILTER: plain relational predicate
        .select(col("person"), col("name"))
    },
      // DuckDB twin of q97: MINUS as NOT EXISTS over the whole minus
      // group (worksFor ⋈ label — compatible-solution exclusion), FILTER
      // as a plain predicate.
      Some(s"""WITH spo AS (
        |${spoSql(Lane.name, Lane.worksFor, Lane.labels(12))}
        |)
        |SELECT n.s AS person, n.o AS name
        |FROM spo n
        |WHERE n.p = 'name' AND n.o <> 'n7'
        |  AND NOT EXISTS (
        |    SELECT 1 FROM spo w JOIN spo l ON l.p = 'label' AND l.s = w.o
        |    WHERE w.p = 'worksFor' AND w.s = n.s)""".stripMargin)),
    // owl:sameAs canonicalization: star identity clusters {5k..5k+4}
    // (zero-padded ids so lexicographic min == numeric min in BOTH
    // engines), name literals collapse within a cluster, knows edges
    // rewrite on both ends; sameAs triples are consumed
    Query("q98_sameas_rewrite", (s, d) => {
      val docs = t(s, d, "documents")
      val eId = format_string("e%05d", col("doc_id"))
      val spo = docs.where(pmod(col("doc_id"), lit(5)) =!= 0)
          .select(eId.as("s"), lit("sameAs").as("p"),
            format_string("e%05d", expr("doc_id - doc_id % 5")).as("o"))
        .unionByName(docs.select(eId.as("s"), lit("name").as("p"),
          concat(lit("n"), pmod(col("doc_id"), lit(100))).as("o")))
        .unionByName(docs.where(col("doc_id") > 0)
          .select(eId.as("s"), lit("knows").as("p"),
            format_string("e%05d", expr("doc_id div 2")).as("o")))
      TripleOps.sameAsCanonicalize(spo).select("s", "p", "o")
    },
      // DuckDB twin of q98: q32-style recursive-CTE min-label components
      // over the symmetrized sameAs slice, then the rewrite as two LEFT
      // JOINs + coalesce + DISTINCT — an independent relational
      // formulation of the Spark side's large-star/small-star fixpoint
      // (both compute the connectivity min; clusters are ≤5 nodes by
      // construction so the O(cluster²) reach is safe). Zero-padded
      // entity ids via printf BOTH sides (DuckDB lpad would TRUNCATE past
      // the pad width; printf matches Java format_string exactly), so
      // lexicographic min == numeric min in both engines.
      Some(s"""WITH RECURSIVE spo AS MATERIALIZED (
        |  SELECT printf('e%05d', doc_id) AS s, 'sameAs' AS p,
        |         printf('e%05d', doc_id - doc_id % 5) AS o
        |  FROM documents WHERE doc_id % 5 <> 0
        |  UNION ALL
        |  SELECT printf('e%05d', doc_id), 'name',
        |         'n' || CAST(doc_id % 100 AS VARCHAR) FROM documents
        |  UNION ALL
        |  SELECT printf('e%05d', doc_id), 'knows',
        |         printf('e%05d', doc_id // 2) FROM documents WHERE doc_id > 0
        |), sa AS (SELECT s AS a, o AS b FROM spo WHERE p = 'sameAs'),
        |edges AS MATERIALIZED (SELECT a, b FROM sa UNION SELECT b, a FROM sa),
        |$reachSql,
        |cc AS MATERIALIZED (SELECT node, min(lab) AS canon FROM reach GROUP BY node)
        |SELECT DISTINCT coalesce(cs.canon, t.s) AS s, t.p, coalesce(co.canon, t.o) AS o
        |FROM spo t
        |LEFT JOIN cc cs ON cs.node = t.s
        |LEFT JOIN cc co ON co.node = t.o
        |WHERE t.p <> 'sameAs'""".stripMargin)),
    // SPARQL UNION + VALUES: employment via worksFor OR memberOf+label
    // (the label var is null on the first lane — spec alignment), then
    // VALUES pins three orgs (broadcast inline-binding join)
    Query("q99_bgp_union_values", (s, d) => {
      import s.implicits._
      val spo = spoOf(t(s, d, "documents"), Lane.worksFor, Lane.memberOf, Lane.labels(12))
      val u = TripleOps.bgpUnion(spo, Seq(
        Seq(("?x", "worksFor", "?org")),
        Seq(("?x", "memberOf", "?org"), ("?org", "label", "?lbl"))))
      TripleOps.values(u, Seq("o3", "o6", "o9").toDF("org"))
        .groupBy(col("org"), col("lbl"))
        .agg(count(lit(1)).as("n"), count(col("lbl")).as("n_labeled"))
        .select(col("org"), coalesce(col("lbl"), lit("")).as("lbl"),
          col("n"), col("n_labeled"))
    },
      // DuckDB twin of q99: the UNION lanes written directly (worksFor
      // with a NULL label column; memberOf inner-joined to labels), the
      // VALUES clause as a plain IN list, grouped counts cast to BIGINT.
      Some(s"""WITH spo AS MATERIALIZED (
        |  SELECT 'd' || CAST(doc_id AS VARCHAR) AS s, 'worksFor' AS p,
        |         'o' || CAST(doc_id % 16 AS VARCHAR) AS o
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |  SELECT 'd' || CAST(doc_id AS VARCHAR), 'memberOf',
        |         'o' || CAST(doc_id % 12 AS VARCHAR)
        |  FROM documents WHERE doc_id % 3 = 0
        |  UNION ALL
        |${Lane.labels(12).bare}
        |), u AS (
        |  SELECT w.s AS x, w.o AS org, NULL AS lbl FROM spo w WHERE w.p = 'worksFor'
        |  UNION ALL
        |  SELECT m.s, m.o, l.o FROM spo m JOIN spo l ON l.p = 'label' AND l.s = m.o
        |  WHERE m.p = 'memberOf'
        |)
        |SELECT org, coalesce(lbl, '') AS lbl, CAST(count(*) AS BIGINT) AS n,
        |       CAST(count(lbl) AS BIGINT) AS n_labeled
        |FROM u WHERE org IN ('o3', 'o6', 'o9')
        |GROUP BY org, lbl""".stripMargin)),
    // SPARQL CONSTRUCT over an OPTIONAL-fed solution set: template rows
    // materialize as a graph SET, entries referencing an unbound
    // optional var emit nothing for that solution
    Query("q100_construct", (s, d) => {
      val spo = spoOf(t(s, d, "documents"), Lane.worksFor, Lane.labels(12))
      val sols = TripleOps.bgpOptional(spo,
        Seq(("?x", "worksFor", "?org")),
        Seq(Seq(("?org", "label", "?lbl"))))
      TripleOps.construct(sols, Seq(
        ("?x", "affiliatedWith", "?org"),
        ("?org", "displayName", "?lbl"),
        ("?org", "type", "Organization")))
        .select("s", "p", "o")
    },
      // DuckDB twin of q100: the OPTIONAL as a LEFT JOIN solution table,
      // the CONSTRUCT template as three projections unioned + DISTINCT
      // (the graph-set rule), the unbound-variable entry suppressed via
      // IS NOT NULL.
      Some(s"""WITH spo AS MATERIALIZED (
        |  SELECT 'd' || CAST(doc_id AS VARCHAR) AS s, 'worksFor' AS p,
        |         'o' || CAST(doc_id % 16 AS VARCHAR) AS o
        |  FROM documents WHERE doc_id % 2 = 0
        |  UNION ALL
        |${Lane.labels(12).bare}
        |), sols AS (
        |  SELECT w.s AS x, w.o AS org, l.o AS lbl
        |  FROM spo w LEFT JOIN spo l ON l.p = 'label' AND l.s = w.o
        |  WHERE w.p = 'worksFor'
        |)
        |SELECT DISTINCT s, p, o FROM (
        |  SELECT x AS s, 'affiliatedWith' AS p, org AS o FROM sols
        |  UNION ALL
        |  SELECT org, 'displayName', lbl FROM sols WHERE lbl IS NOT NULL
        |  UNION ALL
        |  SELECT org, 'type', 'Organization' FROM sols
        |)""".stripMargin)),
    // SPARQL FILTER EXISTS / NOT EXISTS chained over the q97 employment
    // graph: employed persons (EXISTS worksFor) none of whose employers
    // carry a label (NOT EXISTS worksFor⋈label) — labels stop at o11,
    // so only even docs with doc_id % 16 in 12..15 survive; both
    // polarities are semi/anti joins on the shared ?person variable
    Query("q102_bgp_exists", (s, d) => {
      val spo = spoOf(t(s, d, "documents"), Lane.name, Lane.worksFor, Lane.labels(12))
      val base = TripleOps.bgp(spo, Seq(("?person", "name", "?name")))
      val employed = TripleOps.filterExists(base, spo,
        Seq(("?person", "worksFor", "?org")))
      TripleOps.filterExists(employed, spo,
        Seq(("?person", "worksFor", "?org"), ("?org", "label", "?lbl")),
        negate = true)
        .select(col("person"), col("name"))
    },
      // DuckDB twin of q102: the same spo fixture as q97, EXISTS and NOT
      // EXISTS as native correlated subqueries — DuckDB's independent
      // decorrelation vs the Spark side's explicit semi/anti joins.
      Some(s"""WITH spo AS (
        |${spoSql(Lane.name, Lane.worksFor, Lane.labels(12))}
        |)
        |SELECT n.s AS person, n.o AS name
        |FROM spo n
        |WHERE n.p = 'name'
        |  AND EXISTS (SELECT 1 FROM spo w WHERE w.p = 'worksFor' AND w.s = n.s)
        |  AND NOT EXISTS (
        |    SELECT 1 FROM spo w JOIN spo l ON l.p = 'label' AND l.s = w.o
        |    WHERE w.p = 'worksFor' AND w.s = n.s)""".stripMargin)),
    // SPARQL solution modifiers: org headcount (GROUP BY + aggregate
    // over a UNION of affiliation lanes) through the SELECT tail —
    // ORDER BY n DESC with the org tiebreak (total order: LIMIT is
    // deterministic), OFFSET 2, LIMIT 5; sort+limit collapses to
    // per-partition top-k heaps, never a global sort
    Query("q103_bgp_topk", (s, d) => {
      val spo = spoOf(t(s, d, "documents"), Lane.worksFor, Lane.memberOf)
      val sols = TripleOps.bgpUnion(spo, Seq(
        Seq(("?x", "worksFor", "?org")), Seq(("?x", "memberOf", "?org"))))
      val counts = sols.groupBy(col("org")).agg(countDistinct(col("x")).as("n"))
      TripleOps.solutionModifiers(counts,
        orderBy = Seq(("n", false), ("org", true)), offset = 2, limit = 5)
    },
      // DuckDB twin of q103: same UNION-of-lanes solution set, native
      // GROUP BY + ORDER BY + LIMIT/OFFSET — the (n DESC, org ASC)
      // ordering is total (org ids are distinct), so the selected slice
      // is deterministic in both engines.
      Some(s"""WITH spo AS (
        |${spoSql(Lane.worksFor, Lane.memberOf)}
        |), sols AS (
        |  SELECT s AS x, o AS org FROM spo WHERE p = 'worksFor'
        |  UNION ALL
        |  SELECT s, o FROM spo WHERE p = 'memberOf'
        |)
        |SELECT org, count(DISTINCT x) AS n
        |FROM sols GROUP BY org
        |ORDER BY n DESC, org ASC
        |LIMIT 5 OFFSET 2""".stripMargin)),
    // SPARQL aggregates over solutions: per-group COUNT (bag), COUNT
    // DISTINCT, MIN, GROUP_CONCAT + HAVING — GROUP_CONCAT is the
    // aggregate with the spec-undefined element order, pinned here by
    // sorting the distinct member set (the q67/q77 determinism rule);
    // output serializes as a comma STRING (the q79 rule: array columns
    // hash-mismatch across engines even when equal)
    Query("q105_bgp_aggregates", (s, d) => {
      val spo = spoOf(t(s, d, "documents"), Lane.worksFor, Lane.memberOf)
      val sols = TripleOps.bgpUnion(spo, Seq(
        Seq(("?x", "worksFor", "?org")), Seq(("?x", "memberOf", "?org"))))
      sols.groupBy(col("org"))
        .agg(count(lit(1)).as("n_affil"),
          countDistinct(col("x")).as("n_members"),
          min(col("x")).as("first_member"),
          array_join(array_sort(collect_set(col("x"))), ",").as("members"))
        .where(col("n_members") >= 2)
    },
      // DuckDB twin of q105: bag count from the raw solution set,
      // distinct-member stats from a pre-deduped grid (DuckDB's
      // string_agg can't combine DISTINCT with ORDER BY — the grid makes
      // the dedup explicit and the ORDER BY total), members as a comma
      // string per the q79 rule.
      Some(s"""WITH spo AS (
        |${spoSql(Lane.worksFor, Lane.memberOf)}
        |), sols AS (
        |  SELECT s AS x, o AS org FROM spo WHERE p = 'worksFor'
        |  UNION ALL
        |  SELECT s, o FROM spo WHERE p = 'memberOf'
        |), grid AS (SELECT DISTINCT org, x FROM sols),
        |per_org AS (
        |  SELECT org, count(*) AS n_members, min(x) AS first_member,
        |         string_agg(x, ',' ORDER BY x) AS members
        |  FROM grid GROUP BY org
        |), bag AS (SELECT org, count(*) AS n_affil FROM sols GROUP BY org)
        |SELECT b.org, b.n_affil, p.n_members, p.first_member, p.members
        |FROM bag b JOIN per_org p USING (org)
        |WHERE p.n_members >= 2""".stripMargin)),
    // RDFS entailment materialization (rdfs2 + rdfs9 + rdfs11): a
    // 31-edge binary-tree TBox (c_i subClassOf c_{i div 2}) closes
    // transitively on the schema side, then ONE broadcast join types
    // every instance with its ancestor set; docs with doc_id%5==0
    // also assert an `author` property whose declared domain (c9)
    // derives a second type chain — the two derivation paths overlap,
    // so the set-dedup is load-bearing. Oracle closes the same TBox
    // with an independent WITH RECURSIVE
    Query("q91_rdfs_closure", (s, d) => {
      val docs = t(s, d, "documents")
      val tbox = s.range(1, 32).select(
        concat(lit("c"), col("id")).as("sub"),
        concat(lit("c"), expr("id div 2")).as("sup"))
      val asserted = docs.select(
        dId.as("inst"),
        concat(lit("c"), pmod(col("doc_id"), lit(32))).as("cls"))
      val authored = docs.where(pmod(col("doc_id"), lit(5)) === 0)
        .select(dId.as("inst"), lit("author").as("prop"))
      val domains = s.range(1).select(lit("author").as("prop"), lit("c9").as("cls"))
      val types = asserted.unionByName(TripleOps.domainTypes(authored, domains))
      TripleOps.entailTypes(types, TripleOps.transitiveClosure(tbox))
        .groupBy(col("inst"))
        .agg(count(lit(1)).cast("bigint").as("n_types"),
          array_join(sort_array(collect_list(col("cls"))), ",").as("types"))
    },
      // DuckDB twin of q91: the same 31-edge binary-tree TBox and ABox
      // assertions, but the closure is an INDEPENDENT WITH RECURSIVE
      // (UNION-deduped semi-naive) rather than a replay of the Spark
      // loop; doc_id is non-negative so Spark pmod == DuckDB %, and the
      // ordered types rebuild is string_agg ORDER BY over a per-inst
      // DISTINCT class set (unique keys → deterministic, the q67 rule).
      Some("""WITH RECURSIVE tbox AS (
        |  SELECT 'c' || CAST(i AS VARCHAR) AS sub, 'c' || CAST(i // 2 AS VARCHAR) AS sup
        |  FROM range(1, 32) t(i)
        |), anc(sub, sup) AS (
        |  SELECT sub, sup FROM tbox
        |  UNION
        |  SELECT a.sub, t.sup FROM anc a JOIN tbox t ON a.sup = t.sub
        |), asserted AS (
        |  SELECT 'd' || CAST(doc_id AS VARCHAR) AS inst,
        |         'c' || CAST(doc_id % 32 AS VARCHAR) AS cls
        |  FROM documents
        |  UNION ALL
        |  SELECT 'd' || CAST(doc_id AS VARCHAR), 'c9' FROM documents WHERE doc_id % 5 = 0
        |), entailed AS (
        |  SELECT DISTINCT inst, cls FROM (
        |    SELECT inst, cls FROM asserted
        |    UNION ALL
        |    SELECT a.inst, c.sup AS cls FROM asserted a JOIN anc c ON a.cls = c.sub)
        |)
        |SELECT inst, CAST(count(*) AS BIGINT) AS n_types,
        |       string_agg(cls, ',' ORDER BY cls) AS types
        |FROM entailed GROUP BY inst""".stripMargin)),
    // SPARQL basic-graph-pattern star+chain over a synthesized spo
    // table (predicate-sliced scans, shared-variable equi-joins,
    // AQE-broadcast label vocabulary): ?p name ?n . ?p worksFor ?o .
    // ?o label ?l — the canonical KG query shape; a `topic` predicate
    // per doc is noise the predicate pushdown must discard
    Query("q92_bgp_star", (s, d) => {
      val spo = spoOf(t(s, d, "documents"), Lane.name, Lane.worksFor, Lane.labels(16), Lane.topic)
      TripleOps.bgp(spo, Seq(
        ("?person", "worksFor", "?org"),
        ("?person", "name", "?name"),
        ("?org", "label", "?lbl")))
    },
      // DuckDB twin of q92: the same synthesized spo table; the BGP is
      // expressed as plain predicate-filtered self-joins (the relational
      // reading of the pattern, independent of the Spark-side matcher's
      // slice/reduce machinery).
      Some(s"""WITH spo AS (
        |${spoSql(Lane.name, Lane.worksFor, Lane.labels(16), Lane.topic)}
        |)
        |SELECT w.s AS person, w.o AS org, n.o AS name, l.o AS lbl
        |FROM spo w
        |JOIN spo n ON n.p = 'name' AND n.s = w.s
        |JOIN spo l ON l.p = 'label' AND l.s = w.o
        |WHERE w.p = 'worksFor'""".stripMargin))
  )
}
