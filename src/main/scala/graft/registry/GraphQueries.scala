package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline._
import graft.pipeline.TextOps.wordsSql

import QueryKit._

/** Graph analytics over the q83 link graph, the near-dup pair graph and
  * planted fixture graphs: PageRank, TrustRank, HITS, LPA, modularity,
  * co-citation, k-core, k-truss, triangles, SCC, walks, eccentricity,
  * degree censuses and link-prediction ranking.
  */
private[graft] object GraphQueries {

  /** DuckDB twin of q71 (k-core): same q22 pair graph, the peel cap
    * unrolled as CTEs — each round keeps nodes whose degree within the
    * previous round's set is ≥ k. Peeling is monotone, so rounds past
    * the Spark side's fixpoint are identities and the fixed unroll is
    * exact (the Spark side THROWS if the cap is ever too small, so a
    * silent divergence is impossible).
    */
  private def q71Sql(k: Int = 2, rounds: Int = 8): String = {
    // every CTE is MATERIALIZED: each peel round references the
    // previous one TWICE, so DuckDB's default inlining would expand
    // the upstream minhash pipeline 2^rounds times (measured: q71
    // never finishes un-hinted; 0.8s materialized at sf0.01)
    val sb = new StringBuilder
    sb.append(
      s"""WITH pairs AS MATERIALIZED (SELECT a, b FROM (${minhashLshSql(width = 1, threshold = 0.5)}) q22),
         |e0 AS MATERIALIZED (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM pairs WHERE a <> b),
         |edges AS MATERIALIZED (SELECT u AS src, v AS dst FROM e0 UNION ALL SELECT v AS src, u AS dst FROM e0),
         |n0 AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges)""".stripMargin)
    for (r <- 1 to rounds) sb.append(
      s""",
         |n$r AS MATERIALIZED (
         |  SELECT e.src AS node FROM edges e
         |  JOIN n${r - 1} a ON a.node = e.src JOIN n${r - 1} b ON b.node = e.dst
         |  GROUP BY e.src HAVING count(*) >= $k
         |)""".stripMargin)
    sb.append(
      s"""
         |SELECT CAST(e.src AS BIGINT) AS node, CAST(count(*) AS BIGINT) AS core_deg
         |FROM edges e JOIN n$rounds a ON a.node = e.src JOIN n$rounds b ON b.node = e.dst
         |GROUP BY e.src""".stripMargin)
    sb.toString
  }

  /** DuckDB twin of q83: same synthesized html (q36 URL + first-5
    * sorted distinct words as outlinks), same href regex, same q36
    * domain ladder on both endpoints, same collapse-then-rollup.
    */
  private def q83Sql: String =
    s"""WITH aug AS (
       |  SELECT $syntheticUrlSql AS url,
       |    '<p>' || text || '</p>' || array_to_string(list_transform(
       |      list_sort(list_distinct($wordsSql))[1:5],
       |      w -> '<a href="https://' || w || '.example.net/p">' || w || '</a>'), '') AS html
       |  FROM documents
       |), occ AS (
       |  SELECT url, unnest(regexp_extract_all(html, 'href="([^"]+)"', 1)) AS href FROM aug
       |), dom AS (
       |  SELECT ${Curation.domainSql("url")} AS src_domain, ${Curation.domainSql("href")} AS dst_domain, url
       |  FROM occ
       |), pp AS (
       |  SELECT src_domain, dst_domain, url, count(*) AS n FROM dom
       |  WHERE src_domain IS NOT NULL AND dst_domain IS NOT NULL
       |  GROUP BY 1, 2, 3
       |)
       |SELECT src_domain, dst_domain,
       |  CAST(sum(n) AS BIGINT) AS n_links,
       |  CAST(count(*) AS BIGINT) AS n_pages,
       |  CAST(CASE WHEN src_domain = dst_domain THEN 1 ELSE 0 END AS BIGINT) AS is_internal
       |FROM pp GROUP BY 1, 2""".stripMargin

  /** The q83 link graph as a weighted edge list for the q84/q87 walks:
    * `g` materializes q83, `e0` is its symmetrized edge set without
    * self-loops, `ed` carries each edge's source out-degree. (q106's
    * `e0` is MATERIALIZED and leaves its second branch's columns
    * unnamed, so it keeps its own text.)
    */
  private def q83WeightedEdgeCtes: String =
    s"""g AS MATERIALIZED (${q83Sql}),
       |e0 AS (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT src_domain AS src, dst_domain AS dst FROM g WHERE src_domain <> dst_domain
       |    UNION ALL
       |    SELECT dst_domain AS src, src_domain AS dst FROM g WHERE src_domain <> dst_domain
       |  )
       |), deg AS (SELECT src, count(*) AS deg FROM e0 GROUP BY src),
       |ed AS MATERIALIZED (SELECT e.src, e.dst, d.deg FROM e0 e JOIN deg d USING (src))""".stripMargin

  /** DuckDB twin of q104 (HITS): the q83 directed domain graph, each
    * half-step unrolled as CTEs. Raw-sum CTEs are MATERIALIZED — each
    * is consumed twice (the rescale join AND the scalar max subquery,
    * the q71 multi-consumer rule); the rescale divisor
    * `greatest(max(s) // 1000000, 1)` is the q68 non-negative
    * truncating-div regime, HUGEINT sums cast to BIGINT only after
    * the division (the q70 rule).
    */
  private def q104Sql(iters: Int = 3, k: Int = 20): String = {
    val rounds = (1 to iters).map { i =>
      s"""ar$i AS MATERIALIZED (
         |  SELECT e.dst AS node, sum(h.h) AS s FROM e0 e JOIN h${i - 1} h ON h.node = e.src GROUP BY e.dst
         |), a$i AS MATERIALIZED (
         |  SELECT n.node, CAST(coalesce(r.s, 0) // greatest((SELECT max(s) FROM ar$i) // 1000000, 1) AS BIGINT) AS a
         |  FROM nodes n LEFT JOIN ar$i r USING (node)
         |), hr$i AS MATERIALIZED (
         |  SELECT e.src AS node, sum(a.a) AS s FROM e0 e JOIN a$i a ON a.node = e.dst GROUP BY e.src
         |), h$i AS MATERIALIZED (
         |  SELECT n.node, CAST(coalesce(r.s, 0) // greatest((SELECT max(s) FROM hr$i) // 1000000, 1) AS BIGINT) AS h
         |  FROM nodes n LEFT JOIN hr$i r USING (node)
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH g AS MATERIALIZED (${q83Sql}),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT src_domain AS src, dst_domain AS dst FROM g
       |  WHERE src_domain <> dst_domain
       |), nodes AS MATERIALIZED (SELECT src AS node FROM e0 UNION SELECT dst FROM e0),
       |h0 AS (SELECT node, CAST(1000000 AS BIGINT) AS h FROM nodes),
       |$rounds
       |SELECT node AS domain, a AS auth, h AS hub, CAST(rank AS BIGINT) AS rank
       |FROM (SELECT a$iters.node AS node, a, h, row_number() OVER (ORDER BY a DESC, a$iters.node) AS rank
       |      FROM a$iters JOIN h$iters ON h$iters.node = a$iters.node)
       |WHERE rank <= $k""".stripMargin
  }

  /** DuckDB twin of q106 (LPA): the symmetrized q83 graph (the
    * q84/q87 e0 form), fixed sync rounds unrolled as CTEs; the
    * per-round argmax replays as the identical
    * row_number() OVER (PARTITION BY src ORDER BY c DESC, lab)
    * window — total order per node, so rn = 1 is deterministic in
    * both engines. Round count changes must regenerate the SQL (the
    * q56 rule).
    */
  private def q106Sql(iters: Int = 4): String = {
    val rounds = (1 to iters).map { i =>
      s"""c$i AS (
         |  SELECT e.src, l.lab, count(*) AS c FROM e0 e JOIN l${i - 1} l ON l.node = e.dst GROUP BY e.src, l.lab
         |), l$i AS MATERIALIZED (
         |  SELECT src AS node, lab FROM (
         |    SELECT src, lab, row_number() OVER (PARTITION BY src ORDER BY c DESC, lab) AS rn FROM c$i)
         |  WHERE rn = 1
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH g AS MATERIALIZED (${q83Sql}),
       |e0 AS MATERIALIZED (
       |  SELECT DISTINCT src, dst FROM (
       |    SELECT src_domain AS src, dst_domain AS dst FROM g WHERE src_domain <> dst_domain
       |    UNION ALL
       |    SELECT dst_domain, src_domain FROM g WHERE src_domain <> dst_domain
       |  )
       |), nodes AS (SELECT DISTINCT src AS node FROM e0),
       |l0 AS (SELECT node, node AS lab FROM nodes),
       |$rounds
       |SELECT node AS domain, lab AS community FROM l$iters""".stripMargin
  }

  /** DuckDB twin of q85: same synthesized pages (anchors carry the
    * word + ' link'), same tag regex, same domain ladder on the href,
    * same (domain, term) rollup and top-k window.
    */
  private def q85Sql(k: Int = 3): String = {
    s"""WITH aug AS (
       |  SELECT '<p>' || text || '</p>' || array_to_string(list_transform(
       |      list_sort(list_distinct($wordsSql))[1:5],
       |      w -> '<a href="https://' || w || '.example.net/p">' || w || ' link</a>'), '') AS html
       |  FROM documents
       |), tags AS (
       |  SELECT unnest(regexp_extract_all(html, '<a href="[^"]+"[^>]*>[^<]*</a>', 0)) AS tag FROM aug
       |), occ AS (
       |  SELECT ${Curation.domainSql("href")} AS dst_domain,
       |    unnest(${wordsSql("anchor")}) AS term
       |  FROM (SELECT regexp_extract(tag, 'href="([^"]+)"', 1) AS href,
       |               regexp_extract(tag, '>([^<]*)</a>', 1) AS anchor FROM tags)
       |), cnt AS (
       |  SELECT dst_domain, term, count(*) AS n FROM occ
       |  WHERE dst_domain IS NOT NULL GROUP BY 1, 2
       |)
       |SELECT dst_domain, term, CAST(n AS BIGINT) AS n, CAST(rank AS BIGINT) AS rank
       |FROM (SELECT *, row_number() OVER (PARTITION BY dst_domain ORDER BY n DESC, term) AS rank FROM cnt)
       |WHERE rank <= $k""".stripMargin
  }

  /** DuckDB twin of q84: the q83 edge derivation feeding the q56
    * iteration CTEs keyed by domain STRINGS. `ed` is consumed by every
    * iteration CTE → AS MATERIALIZED (the q71 multi-reference rule:
    * un-hinted, DuckDB inlines the whole q83 html-regex pipeline once
    * per iteration). Iteration-count changes must regenerate this SQL
    * (the q56 rule).
    */
  private def q84Sql(iters: Int = 3, k: Int = 20): String = {
    val iterCtes = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT e.dst AS node, CAST(150000 + 85 * sum(r${i - 1}.r // e.deg) // 100 AS BIGINT) AS r
         |  FROM ed e JOIN r${i - 1} ON r${i - 1}.node = e.src GROUP BY e.dst
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH $q83WeightedEdgeCtes,
       |r0 AS (SELECT DISTINCT src AS node, CAST(1000000 AS BIGINT) AS r FROM e0),
       |$iterCtes
       |SELECT node AS domain, r, CAST(rank AS BIGINT) AS rank
       |FROM (SELECT *, row_number() OVER (ORDER BY r DESC, node) AS rank FROM r$iters)
       |WHERE rank <= $k""".stripMargin
  }

  /** DuckDB twin of q177 (k-truss): the same fixture edges, the peel
    * cap unrolled as CTEs — each round enumerates triangles over the
    * previous round's edge set with the INDEPENDENT a<b<c triple
    * self-join (the q60 formulation, deliberately not a replay of the
    * degree-oriented wedge plan), attributes each to its three edges,
    * and keeps edges with support ≥ k−2. Monotone peel → post-fixpoint
    * rounds are identities (q71 rule; the Spark side THROWS if the cap
    * is ever too small). Every CTE is MATERIALIZED — rounds reference
    * the prior round three times (q71 inlining rule).
    */
  private def q177Sql(k: Int = 4, rounds: Int = 6): String = {
    val minSup = k - 2
    val sb = new StringBuilder
    sb.append(
      """WITH ein AS MATERIALIZED (
        |  SELECT doc_id AS a, doc_id + 1 AS b FROM documents WHERE doc_id % 16 <= 6
        |  UNION ALL SELECT doc_id, doc_id + 2 FROM documents WHERE doc_id % 16 <= 5
        |  UNION ALL SELECT doc_id + o.i, doc_id + o.j FROM documents,
        |    (VALUES (0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)) o(i, j)
        |  WHERE doc_id % 16 = 8
        |  UNION ALL SELECT doc_id, doc_id + 1 FROM documents WHERE doc_id % 16 = 12
        |),
        |e0 AS MATERIALIZED (
        |  SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM ein WHERE a <> b
        |)""".stripMargin)
    for (r <- 1 to rounds) sb.append(
      s""",
         |t$r AS MATERIALIZED (
         |  SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |  FROM e${r - 1} e1 JOIN e${r - 1} e2 ON e2.u = e1.v
         |  JOIN e${r - 1} e3 ON e3.u = e1.u AND e3.v = e2.v
         |),
         |s$r AS MATERIALIZED (
         |  SELECT u, v, count(*) AS sup FROM (
         |    SELECT a AS u, b AS v FROM t$r
         |    UNION ALL SELECT a, c FROM t$r
         |    UNION ALL SELECT b, c FROM t$r) tri_edges
         |  GROUP BY u, v
         |),
         |e$r AS MATERIALIZED (
         |  SELECT u, v FROM s$r WHERE sup >= $minSup
         |)""".stripMargin)
    sb.append(
      s"""
         |SELECT CAST(e.u AS BIGINT) AS u, CAST(e.v AS BIGINT) AS v,
         |  CAST(s.sup AS BIGINT) AS sup
         |FROM e$rounds e JOIN s$rounds s ON s.u = e.u AND s.v = e.v""".stripMargin)
    sb.toString
  }

  /** The q30/q78 hex-nibble→integer decode over the first 6 chars of
    * a VARCHAR md5 expression — engine-exact (never conv()/from_hex,
    * which the engines disagree on).
    */
  private def nib6Sql(h: String): String =
    (1 to 6).map { i =>
      val w = 1L << (4 * (6 - i))
      s"(CASE WHEN substring($h, $i, 1) <= '9' THEN ascii(substring($h, $i, 1)) - 48 " +
        s"ELSE ascii(substring($h, $i, 1)) - 87 END) * $w"
    }.mkString("(", " + ", ")")

  /** DuckDB twin of q161 (deterministic walks): the same positional
    * adjacency and md5-mod-degree step, unrolled one CTE per position
    * (q56 rule); adj and every step frame are multi-consumed →
    * MATERIALIZED (q71 rule). The md5 input string must stay
    * byte-identical to Spark's concat_ws form.
    */
  private def q161Sql(len: Int = 4): String = {
    val steps = (1 to len).map { p =>
      s"""w$p AS MATERIALIZED (
         |  SELECT start, node FROM (
         |    SELECT w.start, a.dst AS node, a.idx, a.deg,
         |           md5('rw|' || w.start || '|$p|' || w.node) AS h
         |    FROM w${p - 1} w JOIN adj a ON a.src = w.node)
         |  WHERE idx = ${nib6Sql("h")} % deg
         |)""".stripMargin
    }.mkString(", ")
    val union = (0 to len).map(p =>
      s"SELECT start, CAST($p AS BIGINT) AS pos, node FROM w$p").mkString("\nUNION ALL\n")
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT printf('n%02d', doc_id % 40) AS src,
       |                  printf('n%02d', (doc_id * 7 + 3) % 40) AS dst
       |  FROM documents
       |), adj AS MATERIALIZED (
       |  SELECT src, dst,
       |         CAST(row_number() OVER (PARTITION BY src ORDER BY dst) - 1 AS BIGINT) AS idx,
       |         CAST(count(*) OVER (PARTITION BY src) AS BIGINT) AS deg
       |  FROM e
       |), w0 AS MATERIALIZED (SELECT DISTINCT src AS start, src AS node FROM e),
       |$steps
       |$union""".stripMargin
  }

  /** DuckDB twin of q87: the q84 symmetrized host graph feeding the
    * TrustRank recurrence — seeds by md5 first-nibble (identical hex
    * in both engines), teleport via a FULL JOIN against the seed set
    * each round, truncating `//` on non-negative operands throughout.
    * `ed`/`seeds` are multi-consumed → AS MATERIALIZED (the q71 rule).
    * Iteration-count changes must regenerate this SQL (the q56 rule).
    */
  private def q87Sql(iters: Int = 3, k: Int = 20): String = {
    val iterCtes = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT coalesce(f.node, s.node) AS node,
         |    CAST(CASE WHEN s.node IS NOT NULL THEN 150000 ELSE 0 END + 85 * coalesce(f.s, 0) // 100 AS BIGINT) AS t
         |  FROM (SELECT e.dst AS node, sum(r${i - 1}.t // e.deg) AS s
         |        FROM ed e JOIN r${i - 1} ON r${i - 1}.node = e.src GROUP BY e.dst) f
         |  FULL JOIN seeds s ON s.node = f.node
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH $q83WeightedEdgeCtes,
       |seeds AS MATERIALIZED (
       |  SELECT DISTINCT src AS node FROM e0 WHERE substr(md5(src), 1, 1) IN ('0','1','2','3')
       |),
       |r0 AS (SELECT node, CAST(1000000 AS BIGINT) AS t FROM seeds),
       |$iterCtes
       |SELECT node AS domain, t, CAST(rank AS BIGINT) AS rank
       |FROM (SELECT *, row_number() OVER (ORDER BY t DESC, node) AS rank FROM r$iters)
       |WHERE rank <= $k""".stripMargin
  }

  /** DuckDB twin of q56 (PageRank): same edge/degree derivation, the
    * same fixed iterations UNROLLED as CTEs (r0..rN), identical
    * truncating integer arithmetic at every step.
    */
  private def q56Sql(iters: Int = 5, k: Int = 20): String = {
    val iterCtes = (1 to iters).map { i =>
      s"""r$i AS (
         |  SELECT e.dst AS node, CAST(150000 + 85 * sum(r${i - 1}.r // e.deg) // 100 AS BIGINT) AS r
         |  FROM ed e JOIN r${i - 1} ON r${i - 1}.node = e.src GROUP BY e.dst
         |)""".stripMargin
    }.mkString(", ")
    s"""WITH pairs AS (
       |  SELECT DISTINCT o_custkey * 2 AS a, l_suppkey * 2 + 1 AS b
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |), edges AS (
       |  SELECT a AS src, b AS dst FROM pairs UNION ALL SELECT b AS src, a AS dst FROM pairs
       |), deg AS (
       |  SELECT src, count(*) AS deg FROM edges GROUP BY src
       |), ed AS (
       |  SELECT e.src, e.dst, d.deg FROM edges e JOIN deg d USING (src)
       |), r0 AS (
       |  SELECT DISTINCT src AS node, CAST(1000000 AS BIGINT) AS r FROM edges
       |), $iterCtes
       |SELECT node,
       |  CASE WHEN node % 2 = 0 THEN 'cust' ELSE 'supp' END AS kind,
       |  CAST(node // 2 AS BIGINT) AS ent_key, r, CAST(rank AS BIGINT) AS rank
       |FROM (SELECT *, row_number() OVER (ORDER BY r DESC, node) AS rank FROM r$iters)
       |WHERE rank <= $k""".stripMargin
  }

  /** DuckDB twin of q69: q66's recursive-CTE shape, hop-capped (the
    * UNION dedups (node, d) rows, so cycles terminate at the cap),
    * then the same min fold; isolated src0 seeds stay at dist 0 via
    * the seed anchor row.
    */
  private def q69Sql(maxHops: Int = 3, seedSource: String = "src0"): String =
    s"""WITH RECURSIVE pairs AS (SELECT a, b FROM (${minhashLshSql(width = 1, threshold = 0.5)}) q22),
       |edges AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
       |seeds AS (SELECT DISTINCT doc_id AS node FROM documents WHERE source = '$seedSource'),
       |walk AS (
       |  SELECT node, 0 AS d FROM seeds
       |  UNION
       |  SELECT e.b AS node, w.d + 1 AS d FROM edges e JOIN walk w ON e.a = w.node WHERE w.d < $maxHops
       |)
       |SELECT CAST(node AS BIGINT) AS node, CAST(min(d) AS BIGINT) AS dist
       |FROM walk GROUP BY node""".stripMargin

  /** q83's link graph: the edge list the q84, q87, q104, q106, q122,
    * q210 and q216 walks read. */
  private def linkGraph(s: SparkSession, d: String): DataFrame = {
    val docs = t(s, d, "documents")
    val words = Dedup.wordSet(col("text"))
    val linksHtml = concat_ws("",
      transform(slice(sort_array(words), lit(1), lit(5)),
        w => concat(lit("<a href=\"https://"), w, lit(".example.net/p\">"), w, lit("</a>"))))
    val pages = docs.select(syntheticUrl.as("url"),
      concat(lit("<p>"), col("text"), lit("</p>"), linksHtml).as("html"))
    Curation.linkGraph(pages)
  }

  val queries: Seq[Query] = Seq(
    // k-truss edge peeling over a per-16-id-block fixture: a triangle
    // ladder on idx 0..7 (chain + chords — middle chain edges carry
    // support 2, so k=4 peels chords round 1, the orphaned chain
    // round 2), a K4 on idx 8..11 (every edge support 2, survives),
    // and a pendant at idx 12 (no triangle, drops round 1) — the
    // multi-round peel and the surviving core both exercised at
    // every SF; the oracle unrolls the full cap (monotone peel:
    // post-fixpoint rounds are identities, the q71 rule)
    Query("q177_ktruss", (s, d) => {
      val docs = t(s, d, "documents")
      val idx = pmod(col("doc_id"), lit(16))
      val chain = docs.where(idx <= 6)
        .select(col("doc_id").as("a"), (col("doc_id") + 1).as("b"))
      val chord = docs.where(idx <= 5)
        .select(col("doc_id").as("a"), (col("doc_id") + 2).as("b"))
      val clique = docs.where(idx === 8)
        .select(explode(array(
          Seq((0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)).map { case (i, j) =>
            struct((col("doc_id") + i).as("a"), (col("doc_id") + j).as("b"))
          }: _*)).as("e"))
        .select(col("e.a").as("a"), col("e.b").as("b"))
      val pendant = docs.where(idx === 12)
        .select(col("doc_id").as("a"), (col("doc_id") + 1).as("b"))
      GraphOps.kTruss(
        chain.unionByName(chord).unionByName(clique).unionByName(pendant),
        k = 4, maxRounds = 6)
    },
      Some(q177Sql())),
    // common-neighbor link prediction over the div-2 ancestor tree
    // plus a planted hub (ids ≡5 mod 16 all link to one node): the
    // hub's degree (~31) exceeds the wedge-center cap of 16, so it
    // contributes NO candidate pairs — the cap is part of the
    // operator contract and the oracle replays it; AA weights are
    // q70 whole-bit integers (1e6 div length(bin(deg)))
    Query("q178_link_prediction", (s, d) => {
      val docs = t(s, d, "documents")
      val tree = docs.where(col("doc_id") >= 2)
        .select(col("doc_id").as("a"), expr("doc_id div 2").as("b"))
      val hub = docs.where(pmod(col("doc_id"), lit(16)) === 5)
        .select(col("doc_id").as("a"), lit(1000000L).as("b"))
      GraphOps.linkPrediction(tree.unionByName(hub), maxHubDegree = 16)
    },
      // DuckDB twin of q178 (link prediction): same tree+hub edges, the
      // wedge join restated naively over the capped adjacency — degree
      // cap 16 excludes the planted hub as a wedge center in BOTH
      // engines; `1000000 // length(bin(d))` is the q70 whole-bit AA
      // weight (HUGEINT sum cast back to BIGINT), `//` == Spark `div` on
      // the non-negative operands (q62 rule).
      Some("""WITH ein AS MATERIALIZED (
        |  SELECT doc_id AS a, doc_id // 2 AS b FROM documents WHERE doc_id >= 2
        |  UNION ALL SELECT doc_id, 1000000 FROM documents WHERE doc_id % 16 = 5
        |),
        |e AS MATERIALIZED (
        |  SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v FROM ein WHERE a <> b
        |),
        |deg AS MATERIALIZED (
        |  SELECT node, count(*) AS d
        |  FROM (SELECT unnest([u, v]) AS node FROM e) ends GROUP BY node
        |),
        |adj AS MATERIALIZED (
        |  SELECT z, n, d FROM (
        |    SELECT u AS z, v AS n FROM e UNION ALL SELECT v, u FROM e) a0
        |  JOIN deg ON deg.node = a0.z WHERE deg.d <= 16
        |),
        |cand AS (
        |  SELECT l.n AS x, r.n AS y,
        |    CAST(count(*) AS BIGINT) AS cn,
        |    CAST(sum(1000000 // length(bin(l.d))) AS BIGINT) AS aa_micro
        |  FROM adj l JOIN adj r ON r.z = l.z AND l.n < r.n
        |  GROUP BY l.n, r.n
        |)
        |SELECT CAST(x AS BIGINT) AS x, CAST(y AS BIGINT) AS y, cn, aa_micro
        |FROM cand c
        |WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = c.x AND e.v = c.y)""".stripMargin)),
    // landmark eccentricity over the undirected div-2 tree from %250
    // seeds: exact per-seed BFS depth (truncation throws), n_reached
    // pins component coverage; the oracle's recursive walk min-folds
    // all ≤30-hop paths — safe because the tree keeps per-pair
    // distance parity classes tiny
    Query("q192_eccentricity", (s, d) => {
      val docs = t(s, d, "documents")
      val edges = docs.where(col("doc_id") >= 1)
        .select(col("doc_id").as("a"), expr("doc_id div 2").as("b"))
      val seeds = docs.where(pmod(col("doc_id"), lit(250)) === 0)
        .select(col("doc_id").as("node"))
      GraphOps.eccentricity(edges, seeds, maxHops = 30)
        .select("src", "ecc", "n_reached")
    },
      // DuckDB twin of q192 (eccentricity): recursive ≤30-hop walk with
      // UNION dedup on (src, node, dist), min-fold to true distances,
      // max per seed — the q66 recursive shape; the hop bound matches
      // the Spark cap, irrelevant to the min since the tree's true
      // eccentricities sit far below it.
      Some("""WITH RECURSIVE f AS (SELECT doc_id AS d FROM documents),
        |e0 AS (SELECT DISTINCT least(d, d // 2) AS u, greatest(d, d // 2) AS v
        |       FROM f WHERE d >= 1),
        |e AS MATERIALIZED (SELECT u AS a, v AS b FROM e0
        |                   UNION ALL SELECT v, u FROM e0),
        |seeds AS (SELECT d AS s FROM f WHERE d % 250 = 0),
        |walk AS (
        |  SELECT s AS src, s AS node, 0 AS dist FROM seeds
        |  UNION
        |  SELECT w.src, e.b, w.dist + 1 FROM walk w JOIN e ON e.a = w.node
        |  WHERE w.dist < 30),
        |md AS (SELECT src, node, min(dist) AS dist FROM walk GROUP BY src, node)
        |SELECT src, CAST(max(dist) AS BIGINT) AS ecc,
        |  CAST(count(*) AS BIGINT) AS n_reached
        |FROM md GROUP BY src""".stripMargin)),
    // whole-bit degree census of the tree + a planted %16 hub lane —
    // the power-law report that motivates every hub cap in this
    // engine; buckets are length(bin(deg))-1 (q70 rule, no FP log)
    Query("q193_degree_census", (s, d) => {
      val docs = t(s, d, "documents")
      val edges = docs.where(col("doc_id") >= 1)
          .select(col("doc_id").as("a"), expr("doc_id div 2").as("b"))
        .unionByName(docs.where(pmod(col("doc_id"), lit(16)) === 5)
          .select(col("doc_id").as("a"), lit(1000000L).as("b")))
      GraphOps.degreeCensus(edges)
        .select("bucket", "n_nodes", "min_deg", "max_deg", "sum_deg")
    },
      // DuckDB twin of q193 (degree census): same canonical edge set,
      // same doubled-degree count, same whole-bit bucket (q70 rule —
      // DuckDB's HUGEINT sum casts back to BIGINT).
      Some("""WITH f AS (SELECT doc_id AS d FROM documents),
        |p0 AS (SELECT d AS a, d // 2 AS b FROM f WHERE d >= 1
        |       UNION ALL SELECT d, 1000000 FROM f WHERE d % 16 = 5),
        |e AS (SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
        |      FROM p0 WHERE least(a, b) != greatest(a, b)),
        |deg AS (SELECT node, count(*) AS dg FROM (
        |        SELECT u AS node FROM e UNION ALL SELECT v FROM e) x GROUP BY node)
        |SELECT CAST(length(bin(dg)) - 1 AS BIGINT) AS bucket,
        |  CAST(count(*) AS BIGINT) AS n_nodes,
        |  CAST(min(dg) AS BIGINT) AS min_deg,
        |  CAST(max(dg) AS BIGINT) AS max_deg,
        |  CAST(sum(dg) AS BIGINT) AS sum_deg
        |FROM deg GROUP BY 1""".stripMargin)),
    // Deterministic random walks (the DeepWalk/node2vec corpus
    // generator): step choice = md5('rw|start|pos|cur') first-6-nibble
    // integer mod out-degree into the positional adjacency — zero-pad
    // node ids keep row_number's dst order numeric (q98), and the
    // whole 4-step corpus replays in DuckDB via the q30 nibble decode
    Query("q161_random_walks", (s, d) => {
      val docs = t(s, d, "documents")
      val edges = docs.select(
        format_string("n%02d", pmod(col("doc_id"), lit(40))).as("src"),
        format_string("n%02d", pmod(col("doc_id") * 7 + 3, lit(40))).as("dst"))
      GraphOps.deterministicWalks(edges, 4).select("start", "pos", "node")
    },
      Some(q161Sql())),
    // TransE link-prediction evaluation (the KG-embedding quality
    // gate): every positive (h, r, t) scores by integer L1 distance
    // ||emb(h) + emb(r) − emb(t)||₁ against 5 corrupted tails, and
    // rank = 1 + #negatives strictly better (score asc, tail-id
    // tiebreak — deterministic, q103 rule). Embeddings are synthetic
    // integer grids (pure residue arithmetic), so the whole eval is
    // value-exact cross-engine; the candidates×dims explode is the
    // standard relational eval shape — codegen arithmetic, one
    // map-side-combinable sum per candidate, one count per positive,
    // no windows over unbounded groups
    Query("q160_transe_rank", (s, d) => {
      val docs = t(s, d, "documents")
      val base = docs.select(col("doc_id").as("id"),
        pmod(col("doc_id"), lit(100)).as("h"),
        pmod(col("doc_id"), lit(7)).as("r"),
        pmod(col("doc_id") * 3 + 1, lit(100)).as("t"))
      val cands = base.select(col("id"), col("h"), col("r"), col("t"),
          explode(sequence(lit(0), lit(5))).as("j"))
        .withColumn("c", when(col("j") === 0, col("t"))
          .otherwise(pmod(col("t") + (col("j") - 1) * 7 + 1, lit(100))))
      val dims = cands.select(col("id"), col("j"), col("c"), col("h"), col("r"), col("t"),
        explode(sequence(lit(0), lit(7))).as("i"))
      val term = abs(
        (pmod(col("h") * 31 + col("i") * 17, lit(21)) - 10) +
        (pmod(col("r") * 13 + col("i") * 7, lit(21)) - 10) -
        (pmod(col("c") * 31 + col("i") * 17, lit(21)) - 10))
      val scores = dims.withColumn("term", term)
        .groupBy(col("id"), col("j"), col("c"), col("h"), col("r"), col("t"))
        .agg(sum(col("term")).as("score"))
      val pos = scores.where(col("j") === 0)
        .select(col("id"), col("h"), col("r"), col("t"), col("score").as("pos_score"))
      val negs = scores.where(col("j") > 0)
        .select(col("id"), col("c"), col("score").as("neg_score"))
      pos.join(negs, Seq("id"))
        .groupBy(col("id"), col("h"), col("r"), col("t"), col("pos_score"))
        .agg((lit(1L) + sum(when(col("neg_score") < col("pos_score") ||
            (col("neg_score") === col("pos_score") && col("c") < col("t")), 1L)
          .otherwise(0L))).as("rnk"))
        .select(col("id"), col("h"), col("r"), col("t"), col("pos_score"), col("rnk"))
    },
      // DuckDB twin of q160 (TransE eval): identical residue-grid
      // embeddings and L1 sums — all operands non-negative before the
      // final subtraction, so `%` == pmod (q133 rule) and the scores are
      // BIGINT-exact; the strict-better count replays the (score, tail)
      // deterministic ranking.
      Some("""WITH base AS (
        |  SELECT doc_id AS id, doc_id % 100 AS h, doc_id % 7 AS r,
        |         (doc_id * 3 + 1) % 100 AS t
        |  FROM documents
        |), cand AS (
        |  SELECT base.*, rj.j,
        |         CASE WHEN rj.j = 0 THEN t ELSE (t + (rj.j - 1) * 7 + 1) % 100 END AS c
        |  FROM base, range(0, 6) rj(j)
        |), scored AS (
        |  SELECT id, j, c, h, r, t,
        |         CAST(sum(abs(((h * 31 + ri.i * 17) % 21 - 10) +
        |                      ((r * 13 + ri.i * 7) % 21 - 10) -
        |                      ((c * 31 + ri.i * 17) % 21 - 10))) AS BIGINT) AS score
        |  FROM cand, range(0, 8) ri(i)
        |  GROUP BY id, j, c, h, r, t
        |), pos AS (
        |  SELECT id, h, r, t, score AS pos_score FROM scored WHERE j = 0
        |), negs AS (
        |  SELECT id, c, score AS neg_score FROM scored WHERE j > 0
        |)
        |SELECT p.id, p.h, p.r, p.t, p.pos_score,
        |       1 + CAST(sum(CASE WHEN n.neg_score < p.pos_score OR
        |                        (n.neg_score = p.pos_score AND n.c < p.t)
        |                    THEN 1 ELSE 0 END) AS BIGINT) AS rnk
        |FROM pos p JOIN negs n USING (id)
        |GROUP BY p.id, p.h, p.r, p.t, p.pos_score""".stripMargin)),
    // co-citation relatedness (Small 1973) over the q83 external
    // domain edges: target pairs sharing >= 2 citing domains — the
    // link-analysis signal where direct edges are sparse
    Query("q122_cocitation", (s, d) => {
      val g = linkGraph(s, d)
      GraphOps.coCitation(
        g.where(col("is_internal") === 0L)
          .select(col("src_domain").as("src"), col("dst_domain").as("dst")),
        minCommon = 2L)
    },
      // DuckDB twin of q122 (co-citation): the same q83 link-graph CTE
      // both engines rebuild, then the pair self-join written natively —
      // a < b orientation, HAVING over the plain count.
      Some(s"""WITH g AS MATERIALIZED (${q83Sql}),
        |e AS MATERIALIZED (
        |  SELECT DISTINCT src_domain AS src, dst_domain AS dst FROM g WHERE is_internal = 0
        |)
        |SELECT a.dst AS a, b.dst AS b, CAST(COUNT(*) AS BIGINT) AS n_common
        |FROM e a JOIN e b ON b.src = a.src AND a.dst < b.dst
        |GROUP BY 1, 2
        |HAVING COUNT(*) >= 2""".stripMargin)),
    // strongly connected components (coloring/forward-backward) over
    // a planted directed graph: 8-rings (each ring one SCC) plus a
    // DAG of cross-ring edges (ring g → ring g div 2) that must NOT
    // merge components; zero-padded ids via printf/format_string (the
    // q98 rule) so the max-id coloring is the numeric max both sides;
    // the oracle is generic mutual reachability (forward ∩ backward
    // closure), independent of the coloring decomposition
    Query("q117_scc", (s, d) => {
      val docs = t(s, d, "documents")
      val nid = (e: org.apache.spark.sql.Column) => format_string("d%06d", e)
      val ring = docs.select(nid(col("doc_id")).as("src"),
        nid(expr("(doc_id div 8) * 8 + (doc_id + 1) % 8")).as("dst"))
      val cross = docs.where(pmod(col("doc_id"), lit(8)) === 0 && col("doc_id") > 0)
        .select(nid(col("doc_id")).as("src"),
          nid(expr("(doc_id div 16) * 8")).as("dst"))
      val edges = ring.unionByName(cross)
      val nodes = docs.select(nid(col("doc_id")).as("node"))
        .unionByName(edges.select(col("dst").as("node")))
      GraphOps.scc(nodes, edges)
    },
      // DuckDB twin of q117 (SCC): generic mutual reachability — the
      // transitive closure of the edge set joined against its own
      // transpose image, scc label = max over the mutually-reachable set
      // (plus self for singletons) — an independent formulation of the
      // Spark side's coloring/forward-backward decomposition. Closure is
      // O(Σ|reach(v)|) rows, bounded here because rings are 8 nodes and
      // the cross-ring DAG is the div-2 tree (log-depth ancestors only).
      // printf zero-padding (the q98 rule) makes lexicographic max ==
      // numeric max in both engines.
      Some("""WITH RECURSIVE edges AS MATERIALIZED (
        |  SELECT printf('d%06d', doc_id) AS src,
        |         printf('d%06d', (doc_id // 8) * 8 + (doc_id + 1) % 8) AS dst
        |  FROM documents
        |  UNION
        |  SELECT printf('d%06d', doc_id), printf('d%06d', (doc_id // 16) * 8)
        |  FROM documents WHERE doc_id % 8 = 0 AND doc_id > 0
        |),
        |nodes AS (
        |  SELECT printf('d%06d', doc_id) AS node FROM documents
        |  UNION
        |  SELECT dst FROM edges
        |),
        |reach AS (
        |  SELECT src, dst FROM edges
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON e.src = r.dst
        |)
        |SELECT node, max(m) AS scc FROM (
        |  SELECT node, node AS m FROM nodes
        |  UNION ALL
        |  SELECT a.src AS node, a.dst AS m FROM reach a
        |  JOIN reach b ON b.src = a.dst AND b.dst = a.src
        |) u GROUP BY node""".stripMargin)),
    // TrustRank over the q84 symmetrized host graph: teleport mass
    // returns ONLY to an md5-selected trusted seed quarter (the q30
    // deterministic-sampling technique), so trust decays with link
    // distance from the seeds — the web-spam containment classic
    // (Gyöngyi et al., VLDB 2004); q56 integer-recurrence discipline
    Query("q87_trustrank", (s, d) => {
      val g = linkGraph(s, d)
      val fwd = g.where(col("is_internal") === 0L)
        .select(col("src_domain").as("src"), col("dst_domain").as("dst"))
      val edges = fwd.unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = edges.select(col("src").as("node")).distinct()
        .where(expr("substring(md5(node), 1, 1) IN ('0','1','2','3')"))
      GraphOps.trustRank(edges, seeds, iters = 3, k = 20)
        .select(col("node").as("domain"), col("t"), col("rank"))
    },
      Some(q87Sql())),
    // HITS hubs/authorities over the DIRECTED q83 domain graph (no
    // symmetrization — the q84 contrast): sites score as hubs,
    // word-domains as authorities; integer max-rescale per half-step
    Query("q104_hits", (s, d) => {
      val g = linkGraph(s, d)
      GraphOps.hits(
        g.where(col("is_internal") === 0L)
          .select(col("src_domain").as("src"), col("dst_domain").as("dst")),
        iters = 3, k = 20)
        .select(col("node").as("domain"), col("auth"), col("hub"), col("rank"))
    },
      Some(q104Sql())),
    // label-propagation communities over the symmetrized q83 host
    // graph: fixed sync rounds (oscillation-proof determinism), the
    // (count DESC, label ASC) argmax total per node
    Query("q106_lpa_communities", (s, d) => {
      val g = linkGraph(s, d)
      GraphOps.labelPropagation(
        g.where(col("is_internal") === 0L)
          .select(col("src_domain").as("src"), col("dst_domain").as("dst")),
        iters = 4)
        .select(col("node").as("domain"), col("community"))
    },
      Some(q106Sql())),
    // anchor-text aggregation over the q83 synthetic pages: per target
    // domain, the top anchor terms other pages use to link to it —
    // the classic web-search relevance signal
    Query("q85_anchor_terms", (s, d) => {
      val docs = t(s, d, "documents")
      val words = Dedup.wordSet(col("text"))
      val linksHtml = concat_ws("",
        transform(slice(sort_array(words), lit(1), lit(5)),
          w => concat(lit("<a href=\"https://"), w, lit(".example.net/p\">"), w, lit(" link</a>"))))
      val pages = docs.select(syntheticUrl.as("url"),
        concat(lit("<p>"), col("text"), lit("</p>"), linksHtml).as("html"))
      Curation.anchorTerms(pages)
    },
      Some(q85Sql())),
    // integer PageRank over the q83 domain graph — extraction → link
    // graph → centrality, the canonical web pipeline; string node
    // keys (no global id window), q56 recurrence replayed exactly
    Query("q84_domain_pagerank", (s, d) => {
      val g = linkGraph(s, d)
      // symmetrize (the q56 discipline): the synthetic domain graph is
      // bipartite site→word-domain, so directed flow would strand all
      // mass on sinks after one step; the undirected host graph is the
      // standard symmetrized form
      val fwd = g.where(col("is_internal") === 0L)
        .select(col("src_domain").as("src"), col("dst_domain").as("dst"))
      GraphOps.pageRankKeyed(
        fwd.unionByName(fwd.select(col("dst").as("src"), col("src").as("dst"))),
        iters = 3, k = 20)
        .select(col("node").as("domain"), col("r"), col("rank"))
    },
      Some(q84Sql())),
    // link-graph construction over synthesized page html (outlinks
    // derive from each doc's first 5 sorted distinct words — both
    // engines rebuild the same html): href scan -> domain-canonical
    // (src, dst) edge rollup, the step graph analytics consume
    Query("q83_link_graph", linkGraph, Some(q83Sql)),
    // Newman modularity census of a node partition over the undirected
    // q83 domain graph: per community the internal-edge count, degree
    // mass and the EXACT integer modularity numerator 4·m·e_c − d_c²
    // (Q = Σ num_c / 4m² — kept as the numerator, never a quotient:
    // the engine-wide no-FP rule and the BIGINT bound both live on
    // the numerator side). Partition = domain-length residue classes
    // (deterministic, cross-engine: ASCII length both sides); the
    // community-quality report q106's LPA labels lack
    Query("q210_modularity", (s, d) => {
      val g = linkGraph(s, d)
      val e = g.where(col("src_domain") =!= col("dst_domain"))
        .select(col("src_domain").as("a"), col("dst_domain").as("b"))
      val labels = e.select(explode(array(col("a"), col("b"))).as("node"))
        .distinct()
        .select(col("node"),
          pmod(length(col("node")), lit(4)).cast("bigint").as("community"))
      GraphOps.modularityCensus(e, labels)
        .select("community", "n_nodes", "n_internal", "degree_sum", "mod_num")
    },
      // DuckDB twin of q210 (modularity census): the symmetrized q83
      // domain graph canonicalized to distinct least/greatest string
      // pairs, degree census via the doubled endpoint list, internal
      // edges by double label join — the exact numerator
      // `4·m·e_c − d_c²` restated verbatim (all BIGINT; HUGEINT sums
      // cast back before arithmetic, the q70 rule). `e` is
      // multi-consumed (m scalar, degrees, internal join) →
      // MATERIALIZED (the q71 rule); length() % 4 agrees across engines
      // on the ASCII domain strings.
      Some(s"""WITH g AS MATERIALIZED (${q83Sql}),
         |e AS MATERIALIZED (
         |  SELECT DISTINCT least(src_domain, dst_domain) AS u,
         |    greatest(src_domain, dst_domain) AS v
         |  FROM g WHERE src_domain <> dst_domain
         |), mm AS (SELECT count(*) AS m FROM e),
         |deg AS (
         |  SELECT node, count(*) AS d FROM (
         |    SELECT u AS node FROM e UNION ALL SELECT v FROM e)
         |  GROUP BY node
         |), lab AS (
         |  SELECT node, length(node) % 4 AS community
         |  FROM (SELECT DISTINCT node FROM deg)
         |), ds AS (
         |  SELECT l.community, count(*) AS n_nodes,
         |    CAST(sum(d.d) AS BIGINT) AS degree_sum
         |  FROM lab l JOIN deg d USING (node) GROUP BY 1
         |), ei AS (
         |  SELECT lu.community, count(*) AS n_internal
         |  FROM e JOIN lab lu ON lu.node = e.u JOIN lab lv ON lv.node = e.v
         |  WHERE lu.community = lv.community GROUP BY 1
         |)
         |SELECT CAST(ds.community AS BIGINT) AS community,
         |  CAST(n_nodes AS BIGINT) AS n_nodes,
         |  CAST(coalesce(n_internal, 0) AS BIGINT) AS n_internal,
         |  degree_sum,
         |  CAST((SELECT m FROM mm) * 4 * coalesce(n_internal, 0)
         |    - degree_sum * degree_sum AS BIGINT) AS mod_num
         |FROM ds LEFT JOIN ei ON ei.community = ds.community""".stripMargin)),
    // degree-assortativity sufficient statistics over the undirected
    // q83 domain graph: the exact integer sums behind Newman's r
    // (hub-mixing diagnostic) — raw sums, never a quotient (the q210
    // discipline); one row
    Query("q216_assortativity", (s, d) => {
      val g = linkGraph(s, d)
      GraphOps.assortativityStats(
          g.where(col("src_domain") =!= col("dst_domain"))
            .select(col("src_domain").as("a"), col("dst_domain").as("b")))
        .select("m", "s_prod", "s_sum", "s_sq")
    },
      // DuckDB twin of q216 (assortativity stats): the q210 canonical
      // edge set (e MATERIALIZED — degrees + stats join, the q71 rule),
      // degree census via the doubled endpoint list, one global
      // aggregate of the exact sums (HUGEINT cast back to BIGINT, the
      // q70 rule).
      Some(s"""WITH g AS MATERIALIZED (${q83Sql}),
         |e AS MATERIALIZED (
         |  SELECT DISTINCT least(src_domain, dst_domain) AS u,
         |    greatest(src_domain, dst_domain) AS v
         |  FROM g WHERE src_domain <> dst_domain
         |), deg AS (
         |  SELECT node, count(*) AS d FROM (
         |    SELECT u AS node FROM e UNION ALL SELECT v FROM e)
         |  GROUP BY node
         |)
         |SELECT CAST(count(*) AS BIGINT) AS m,
         |  CAST(sum(du.d * dv.d) AS BIGINT) AS s_prod,
         |  CAST(sum(du.d + dv.d) AS BIGINT) AS s_sum,
         |  CAST(sum(du.d * du.d + dv.d * dv.d) AS BIGINT) AS s_sq
         |FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v""".stripMargin)),
    // k-core of the q22 near-dup graph: iterative peeling to a
    // fixpoint (capped; non-convergence throws, the q26 rule) — the
    // density floor separating real clusters from incidental chains.
    // Oracle unrolls the peel cap as CTEs (rounds past the fixpoint
    // are identities, so the unroll is exact)
    Query("q71_kcore", (s, d) => GraphOps.kCore(
      Dedup.minhashLshMd5(t(s, d, "documents"), threshold = 0.5, shingleWidth = 1)
        .select(col("a"), col("b")), k = 2, maxRounds = 8),
      Some(q71Sql())),
    // per-node triangle counts on the word-set near-dup graph (the q22
    // pair set): degree-oriented wedge enumeration — each triangle
    // found exactly once at its minimum-(deg,node) corner, join work
    // arboricity-bounded. Oracle is the INDEPENDENT classic a<b<c
    // triple self-join, not a replay of the orientation.
    Query("q60_triangle_count", (s, d) =>
      GraphOps.triangles(
        Dedup.minhashLshMd5(t(s, d, "documents"), threshold = 0.5, shingleWidth = 1)
          .select(col("a"), col("b"))),
      // DuckDB twin of q60 — deliberately NOT a replay of the Spark
      // side's degree orientation: the classic a<b<c triple self-join
      // over the same (a<b)-normalized edge set counts each triangle once
      // via id order alone, an independent formulation of the same count.
      Some(s"""WITH e AS (SELECT a, b FROM (${minhashLshSql(width = 1, threshold = 0.5)}) q22),
         |tri AS (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM e e1 JOIN e e2 ON e2.a = e1.b JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
         |)
         |SELECT node, CAST(count(*) AS BIGINT) AS n_tri
         |FROM (SELECT unnest([x, y, z]) AS node FROM tri) corners
         |GROUP BY node""".stripMargin)),
    // per-node local clustering coefficient (integer ppm) on the same
    // near-dup graph as q60: shared canonical edge set + degree table,
    // lcc = 2·tri div (d·(d−1)); degree-1 and triangle-free nodes kept
    Query("q64_clustering_coeff", (s, d) =>
      GraphOps.clusteringCoeff(
        Dedup.minhashLshMd5(t(s, d, "documents"), threshold = 0.5, shingleWidth = 1)
          .select(col("a"), col("b"))),
      // DuckDB twin of q64 — the q60 independent triple-self-join count
      // plus a degree census, folded into the same truncating-integer ppm
      // ratio (`//` floor-div == Spark `div` on the non-negative inputs).
      Some(s"""WITH e AS (SELECT a, b FROM (${minhashLshSql(width = 1, threshold = 0.5)}) q22),
         |deg AS (
         |  SELECT node, count(*) AS d
         |  FROM (SELECT unnest([a, b]) AS node FROM e) ends GROUP BY node
         |),
         |tri AS (
         |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
         |  FROM e e1 JOIN e e2 ON e2.a = e1.b JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
         |),
         |tc AS (
         |  SELECT node, count(*) AS n_tri
         |  FROM (SELECT unnest([x, y, z]) AS node FROM tri) corners GROUP BY node
         |)
         |SELECT node, CAST(d AS BIGINT) AS degree,
         |  CAST(coalesce(n_tri, 0) AS BIGINT) AS n_tri,
         |  CAST(CASE WHEN d >= 2
         |    THEN 2 * coalesce(n_tri, 0) * 1000000 // (d * (d - 1))
         |    ELSE 0 END AS BIGINT) AS lcc_ppm
         |FROM deg LEFT JOIN tc USING (node)""".stripMargin)),
    // multi-source BFS hop distance over the q22 near-dup graph:
    // distance from the src0 document set, capped at 3 hops — the
    // link-distance / blast-radius primitive; oracle is a hop-capped
    // recursive CTE (q66's shape) with a min fold
    Query("q69_hop_distance", (s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.minhashLshMd5(docs, threshold = 0.5, shingleWidth = 1)
        .select(col("a"), col("b"))
      val seeds = docs.where(col("source") === "src0").select(col("doc_id").as("node"))
      GraphOps.hopDistance(pairs, seeds, maxHops = 3)
    },
      Some(q69Sql())),
    // integer-exact PageRank over the customer–supplier bipartite
    // graph (orders⋈lineitem, both directions): 5 fixed iterations of
    // r' = 150000 + 85·Σ(r div deg) div 100, top-20 by final rank —
    // replayed value-exact in DuckDB via unrolled CTEs
    Query("q56_pagerank", (s, d) => {
      val orders = t(s, d, "orders")
      val li = t(s, d, "lineitem")
      val pairs = orders.join(li, orders("o_orderkey") === li("l_orderkey"))
        .select((col("o_custkey") * 2).as("a"), (col("l_suppkey") * 2 + 1).as("b"))
        .distinct()
        .localCheckpoint(true) // both union legs read this join
      val edges = pairs.select(col("a").as("src"), col("b").as("dst"))
        .unionByName(pairs.select(col("b").as("src"), col("a").as("dst")))
      GraphOps.pageRank(edges)
        .select(col("node"),
          when(col("node") % 2 === 0, "cust").otherwise("supp").as("kind"),
          expr("CAST(node div 2 AS BIGINT)").as("ent_key"),
          col("r"), col("rank"))
    },
      Some(q56Sql()))
  )
}
