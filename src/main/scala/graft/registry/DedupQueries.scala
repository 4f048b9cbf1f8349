package graft.registry

import org.apache.spark.sql.functions._
import graft.pipeline._
import graft.pipeline.TextOps.{fingerprintSql, wordsSql}

import QueryKit._

/** Near-duplicate detection and similarity search: exact, n-gram,
  * MinHash, SimHash, containment and edit-distance dedup, embedding
  * LSH/ANN/PQ and k-means with their value-exact md5/integer twins, CDC
  * chunking and the near-dup cluster census.
  */
private[graft] object DedupQueries {

  /** DuckDB twin of q28: the full embedding-LSH bucket pipeline —
    * md5-sign hyperplane projections over integer micro-unit vectors,
    * sign-bit bucket packing per table, hot-bucket suppression,
    * distinct pair recovery, and the exact integer dot/norm verify with
    * a RATIONAL cosine threshold (den²·dot² ≥ num²·n2a·n2b in HUGEINT —
    * no FP anywhere).
    */
  private def q28Sql(planes: Int = 6, tables: Int = 4, maxBucket: Int = 200,
                     num: Long = 2, den: Long = 5): String = {
    val projs = (0 until planes * tables).map(p =>
      s"sum(CASE WHEN substring(md5('$p|' || d), 1, 1) >= '8' THEN val ELSE -val END) AS p$p")
      .mkString(", ")
    val ks = (0 until tables).map { t =>
      val bits = (0 until planes).map(pp =>
        s"(CASE WHEN p${t * planes + pp} >= 0 THEN ${1L << pp} ELSE 0 END)").mkString(" + ")
      s"($bits + ${t * 4096L}) AS k$t"
    }.mkString(", ")
    val bandCase = (0 until tables).map(t => s"WHEN $t THEN k$t").mkString(" ")
    s"""WITH qq AS (
       |  SELECT vec_id, list_transform(embedding, e -> CAST(round(CAST(e AS DOUBLE) * 1000000) AS BIGINT)) AS v
       |  FROM embeddings
       |), expl AS (
       |  SELECT vec_id, unnest(range(1, len(v)+1)) AS d, unnest(v) AS val FROM qq
       |), proj AS (SELECT vec_id, $projs FROM expl GROUP BY vec_id),
       |bk AS (SELECT vec_id, $ks FROM proj),
       |banded AS (
       |  SELECT vec_id, tbl, CASE tbl $bandCase END AS bucket
       |  FROM bk, unnest([${(0 until tables).mkString(",")}]) u(tbl)
       |), cold AS (
       |  SELECT tbl, bucket FROM banded GROUP BY tbl, bucket HAVING count(*) <= $maxBucket
       |), b2 AS (SELECT banded.* FROM banded JOIN cold USING (tbl, bucket)),
       |cand AS (
       |  SELECT DISTINCT l.vec_id AS a, r.vec_id AS b
       |  FROM b2 l JOIN b2 r ON l.tbl = r.tbl AND l.bucket = r.bucket AND l.vec_id < r.vec_id
       |), dn AS (
       |  SELECT a, b,
       |    CAST(list_sum(list_transform(range(1, len(qa.v)+1), i -> qa.v[i] * qb.v[i])) AS BIGINT) AS dot,
       |    CAST(list_sum(list_transform(qa.v, x -> x * x)) AS BIGINT) AS n2a,
       |    CAST(list_sum(list_transform(qb.v, x -> x * x)) AS BIGINT) AS n2b
       |  FROM cand JOIN qq qa ON qa.vec_id = a JOIN qq qb ON qb.vec_id = b
       |)
       |SELECT a, b, dot, n2a, n2b FROM dn
       |WHERE dot >= 0 AND CAST(dot AS HUGEINT) * CAST(dot AS HUGEINT) * ${den * den} >= CAST(n2a AS HUGEINT) * CAST(n2b AS HUGEINT) * ${num * num}""".stripMargin
  }

  /** DuckDB twin of q44 (SemDeDup): same md5-medoid pick, same
    * milli-unit sign-aware rational argmax (NOT EXISTS a strictly
    * better medoid), same micro-unit rational prune threshold and
    * greedy keep-first survivor rule.
    */
  private def q44Sql(k: Int = 8, num: Long = 2, den: Long = 5): String =
    s"""WITH q AS (
       |  SELECT vec_id,
       |    list_transform(embedding, e -> CAST(round(CAST(e AS DOUBLE) * 1000000) AS BIGINT)) AS qv,
       |    list_transform(embedding, e -> CAST(round(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS mv
       |  FROM embeddings
       |), med AS (
       |  SELECT vec_id AS med_id, mv AS medv FROM q
       |  ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $k
       |), scored AS (
       |  SELECT q.vec_id, med_id,
       |    CAST(list_sum(list_transform(range(1, len(mv)+1), i -> mv[i] * medv[i])) AS BIGINT) AS dt,
       |    CAST(list_sum(list_transform(medv, x -> x * x)) AS BIGINT) AS m2
       |  FROM q, med
       |), assigned AS (
       |  SELECT s1.vec_id, s1.med_id FROM scored s1
       |  WHERE NOT EXISTS (
       |    SELECT 1 FROM scored s2 WHERE s2.vec_id = s1.vec_id AND (
       |      (s2.dt >= 0 AND s1.dt < 0) OR
       |      (s2.dt >= 0 AND s1.dt >= 0 AND CAST(s2.dt AS HUGEINT) * s2.dt * s1.m2 > CAST(s1.dt AS HUGEINT) * s1.dt * s2.m2) OR
       |      (s2.dt < 0 AND s1.dt < 0 AND CAST(s2.dt AS HUGEINT) * s2.dt * s1.m2 < CAST(s1.dt AS HUGEINT) * s1.dt * s2.m2) OR
       |      ((s2.dt >= 0) = (s1.dt >= 0) AND CAST(s2.dt AS HUGEINT) * s2.dt * s1.m2 = CAST(s1.dt AS HUGEINT) * s1.dt * s2.m2 AND s2.med_id < s1.med_id)
       |    )
       |  )
       |), dn AS (
       |  SELECT pb.vec_id AS b,
       |    CAST(list_sum(list_transform(range(1, len(qa.qv)+1), i -> qa.qv[i] * qb.qv[i])) AS BIGINT) AS dot,
       |    CAST(list_sum(list_transform(qa.qv, x -> x * x)) AS BIGINT) AS n2a,
       |    CAST(list_sum(list_transform(qb.qv, x -> x * x)) AS BIGINT) AS n2b
       |  FROM assigned pa JOIN assigned pb ON pa.med_id = pb.med_id AND pa.vec_id < pb.vec_id
       |  JOIN q qa ON qa.vec_id = pa.vec_id JOIN q qb ON qb.vec_id = pb.vec_id
       |), dropped AS (
       |  SELECT DISTINCT b FROM dn
       |  WHERE dot >= 0 AND CAST(dot AS HUGEINT) * CAST(dot AS HUGEINT) * ${den * den} >= CAST(n2a AS HUGEINT) * CAST(n2b AS HUGEINT) * ${num * num}
       |)
       |SELECT a.vec_id, a.med_id AS cluster,
       |  CAST(CASE WHEN d.b IS NULL THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM assigned a LEFT JOIN dropped d ON a.vec_id = d.b""".stripMargin

  /** DuckDB twin of q46 (PQ-ADC ANN): same md5-donor codebooks, same
    * milli-unit integer argmin encoding (row_number tie-break on the
    * code), same LUT partial-dot sums and top-k window.
    */
  private def q46Sql(m: Int = 4, cb: Int = 8, k: Int = 5, dim: Int = 64): String = {
    val sub = dim / m
    s"""WITH mv AS (
       |  SELECT vec_id, list_transform(embedding, e -> CAST(round(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS v
       |  FROM embeddings
       |), don AS (
       |  SELECT v, CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS INTEGER) - 1 AS c
       |  FROM mv ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $cb
       |), js AS (SELECT CAST(unnest(range(0, $m)) AS INTEGER) AS j),
       |cbk AS (
       |  SELECT j, c, list_slice(v, j * $sub + 1, j * $sub + $sub) AS cw FROM don, js
       |), csv AS (
       |  SELECT vec_id, j, list_slice(v, j * $sub + 1, j * $sub + $sub) AS sv FROM mv, js
       |), scored AS (
       |  SELECT vec_id, j, c,
       |    CAST(list_sum(list_transform(range(1, ${sub + 1}), i -> (sv[i] - cw[i]) * (sv[i] - cw[i]))) AS BIGINT) AS d2
       |  FROM csv JOIN cbk USING (j)
       |), codes AS (
       |  SELECT vec_id, j, c FROM (
       |    SELECT vec_id, j, c, row_number() OVER (PARTITION BY vec_id, j ORDER BY d2, c) AS rn FROM scored
       |  ) WHERE rn = 1
       |), lut AS (
       |  SELECT mv.vec_id AS query_id, cbk.j, cbk.c,
       |    CAST(list_sum(list_transform(range(1, ${sub + 1}), i -> mv.v[cbk.j * $sub + i] * cw[i])) AS BIGINT) AS pdot
       |  FROM mv, cbk WHERE mv.vec_id < 8
       |), adc AS (
       |  SELECT query_id, vec_id, CAST(sum(pdot) AS BIGINT) AS adot
       |  FROM codes JOIN lut USING (j, c)
       |  WHERE vec_id <> query_id
       |  GROUP BY query_id, vec_id
       |)
       |SELECT query_id, vec_id AS corpus_id, adot, rank FROM (
       |  SELECT query_id, vec_id, adot,
       |    CAST(row_number() OVER (PARTITION BY query_id ORDER BY adot DESC, vec_id) AS BIGINT) AS rank
       |  FROM adc
       |) WHERE rank <= $k""".stripMargin
  }

  /** DuckDB twin of q214 (CDC census): the Buzhash window hash
    * restated PER POSITION in closed form — h(i) = XOR of
    * rotl32(T[char], k) over the trailing window, with T the shared
    * [[graft.functions.CdcHasher.Table]] spliced as unsigned VALUES
    * (the q36 shared-constant rule) and indexed through a one-row
    * cross-joined list (1-based, ascii() codepoints — the ASCII
    * corpus contract the Spark kernel's byte positions also rest
    * on). rotl is shift/or/mask on non-negative BIGINTs < 2^32 —
    * identical operators both engines; the power-of-two mask test is
    * sound because rotate-XOR mixes low bits (a polynomial hash
    * would not). Ends = boundaries UNION {len} (set UNION mirrors
    * the Spark side's array_union dedup of a boundary at len), chunk
    * spans by lag window on the unique per-doc end ordering, census
    * by (12-hex md5 prefix, len) — the q45 prefix-as-string rule;
    * range(w, len+1) == sequence(w, len) (half-open vs inclusive,
    * the q82 note).
    */
  private def cdcCtes(width: Int = 8, maskBits: Int = 5): String = {
    val tVals = graft.functions.CdcHasher.Table.zipWithIndex
      .map { case (v, b) => s"($b, ${v.toLong & 0xFFFFFFFFL})" }.mkString(", ")
    def term(k: Int): String = {
      val t = s"tv[ascii(substring(text, i - $k, 1)) + 1]"
      if (k == 0) t else s"((($t << $k) | ($t >> ${32 - k})) & 4294967295)"
    }
    val hashExpr = (1 until width).foldLeft(term(0))((acc, k) => s"xor($acc, ${term(k)})")
    val mask = (1 << maskBits) - 1
    s"""WITH d AS (
       |  SELECT doc_id, text FROM documents WHERE length(text) >= 1
       |), tvals(b, v) AS (VALUES $tVals),
       |tl AS (SELECT list(v ORDER BY b) AS tv FROM tvals),
       |b AS (
       |  SELECT doc_id, i FROM (
       |    SELECT doc_id, text, unnest(range($width, length(text) + 1)) AS i
       |    FROM d WHERE length(text) >= $width) t0, tl
       |  WHERE (($hashExpr) & $mask) = 0
       |), e AS (
       |  SELECT doc_id, i AS e FROM b
       |  UNION
       |  SELECT doc_id, length(text) FROM d
       |), c AS (
       |  SELECT doc_id,
       |    coalesce(lag(e) OVER (PARTITION BY doc_id ORDER BY e), 0) AS s, e
       |  FROM e
       |), ch AS (
       |  SELECT c.doc_id,
       |    substring(md5(substring(d.text, c.s + 1, c.e - c.s)), 1, 12) AS chunk_key,
       |    CAST(c.e - c.s AS BIGINT) AS chunk_len
       |  FROM c JOIN d USING (doc_id)
       |)""".stripMargin
  }

  private def q214Sql(width: Int = 8, maskBits: Int = 5): String =
    s"""${cdcCtes(width, maskBits)}
       |SELECT chunk_key, chunk_len,
       |  CAST(count(*) AS BIGINT) AS n_copies,
       |  CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs,
       |  CAST((count(*) - 1) * chunk_len AS BIGINT) AS saved_chars
       |FROM ch GROUP BY chunk_key, chunk_len
       |HAVING count(*) >= 2""".stripMargin

  /** DuckDB twin of q81: same augmented corpus (half-prefix clones via
    * the identical words[1:len//2] slice — DuckDB's inclusive-end
    * list_slice == Spark's slice(1, len div 2) here), but the
    * candidate side is the NAIVE all-pairs shingle equi-join — an
    * independent formulation proving the prefix filter lossless (the
    * q59/q60 rule: oracle never replays the optimization under test).
    * Verify math is the same integer cross-multiplication /
    * basis-point division on non-negative operands.
    */
  private def q81Sql(tNum: Int = 4, tDen: Int = 5, width: Int = 3): String = {
    s"""WITH aug AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL
       |  SELECT doc_id + 2000000 AS doc_id,
       |    array_to_string(words[1:(len(words) // 2)], ' ') AS text
       |  FROM (SELECT doc_id, $wordsSql AS words
       |        FROM documents)
       |  WHERE doc_id % 7 = 0 AND len(words) >= 4
       |), w0 AS (
       |  SELECT doc_id, $wordsSql AS words
       |  FROM aug
       |), sh0 AS (
       |  SELECT doc_id,
       |    list_distinct(list_filter(
       |      ${Dedup.shinglesSql(width)},
       |      s -> s <> '')) AS sh
       |  FROM w0 WHERE len(words) > 0
       |), g AS (SELECT doc_id, unnest(sh) AS s FROM sh0 WHERE len(sh) > 0),
       |sizes AS (SELECT doc_id, len(sh) AS sz FROM sh0 WHERE len(sh) > 0),
       |inter AS (
       |  SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS ic
       |  FROM g l JOIN g r ON l.s = r.s AND l.doc_id < r.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT a, b, CAST(ic AS BIGINT) AS ic,
       |  CAST(sa.sz AS BIGINT) AS sza, CAST(sb.sz AS BIGINT) AS szb,
       |  CAST(ic * 10000 // least(sa.sz, sb.sz) AS BIGINT) AS contain_bp
       |FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
       |WHERE $tDen * ic >= $tNum * least(sa.sz, sb.sz)""".stripMargin
  }

  /** DuckDB twin of q59: the brute-force quadratic trigram-set Jaccard
    * join — an INDEPENDENT computation of the same pair set the Spark
    * side finds via prefix filtering (candidate generation is provably
    * lossless, so exact equality is the completeness proof, not a
    * replay). Same rational threshold form (tDen*ic >= tNum*(sa+sb-ic),
    * all BIGINT); quadratic is fine at the sf0.01 gate scale.
    */
  private def q59Sql(width: Int = 3, tNum: Int = 1, tDen: Int = 2): String = {
    s"""WITH w0 AS (
       |  SELECT doc_id, $wordsSql AS words
       |  FROM documents
       |), sh0 AS (
       |  SELECT doc_id,
       |    list_distinct(list_filter(
       |      ${Dedup.shinglesSql(width)},
       |      s -> s <> '')) AS sh
       |  FROM w0 WHERE len(words) > 0
       |), g AS (SELECT doc_id, unnest(sh) AS s FROM sh0 WHERE len(sh) > 0),
       |sizes AS (SELECT doc_id, len(sh) AS sz FROM sh0 WHERE len(sh) > 0),
       |inter AS (
       |  SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS ic
       |  FROM g l JOIN g r ON l.s = r.s AND l.doc_id < r.doc_id
       |  GROUP BY 1, 2
       |)
       |SELECT a, b, round(CAST(ic AS DOUBLE) / (sa.sz + sb.sz - ic), 4) AS jaccard
       |FROM inter JOIN sizes sa ON sa.doc_id = a JOIN sizes sb ON sb.doc_id = b
       |WHERE $tDen * ic >= $tNum * (sa.sz + sb.sz - ic)""".stripMargin
  }

  /** DuckDB twin of q68: Lloyd rounds unrolled as CTEs (the q56
    * technique). Same milli-unit quantization, same md5-seed draw and
    * c = 0..k−1 numbering, same argmin tie-break (d2, c), and the same
    * offset-shifted integer mean `(sum + n·2²¹) // n − 2²¹` — the
    * numerator is non-negative, where DuckDB `//` == Spark `div`.
    * Empty clusters keep the previous centroid via the same left-join
    * coalesce.
    */
  private def q68Sql(k: Int = 4, iters: Int = 3, dim: Int = 64): String = {
    val off = 1L << 21
    val sb = new StringBuilder
    sb.append(
      s"""WITH mv AS (
         |  SELECT vec_id, list_transform(embedding, e -> CAST(round(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS v
         |  FROM embeddings
         |),
         |c0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS BIGINT) - 1 AS c,
         |         v AS cv
         |  FROM (SELECT * FROM mv ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT $k)
         |)""".stripMargin)
    for (r <- 1 to iters) {
      sb.append(
        s""",
           |a$r AS (
           |  SELECT vec_id, c, d2 FROM (
           |    SELECT vec_id, c, d2, row_number() OVER (PARTITION BY vec_id ORDER BY d2, c) AS rn FROM (
           |      SELECT mv.vec_id, c${r - 1}.c,
           |        CAST(list_sum(list_transform(range(1, ${dim + 1}), i -> (v[i] - cv[i]) * (v[i] - cv[i]))) AS BIGINT) AS d2
           |      FROM mv, c${r - 1}) dd) rr WHERE rn = 1
           |)""".stripMargin)
      if (r < iters) sb.append(
        s""",
           |c$r AS (
           |  SELECT c${r - 1}.c, CASE WHEN m.c IS NULL THEN c${r - 1}.cv ELSE m.cv END AS cv
           |  FROM c${r - 1} LEFT JOIN (
           |    SELECT c, list(mval ORDER BY i) AS cv FROM (
           |      SELECT a$r.c, i,
           |        CAST((sum(v[i]) + count(*) * $off) // count(*) - $off AS BIGINT) AS mval
           |      FROM a$r JOIN mv USING (vec_id)
           |      CROSS JOIN (SELECT CAST(unnest(range(1, ${dim + 1})) AS INTEGER) AS i) dims
           |      GROUP BY a$r.c, i) gm GROUP BY c) m ON m.c = c${r - 1}.c
           |)""".stripMargin)
    }
    sb.append(s"""
       |SELECT vec_id, c AS cluster, d2 FROM a$iters""".stripMargin)
    sb.toString
  }

  val queries: Seq[Query] = Seq(
    Query("q8_dedup_exact", (s, d) => {
      Dedup.exact(t(s, d, "documents"))
    },
      Some(s"""SELECT $fingerprintSql AS fp,
        |       min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin)),
    Query("q13_ngram_jaccard", (s, d) => {
      Dedup.ngramJaccard(t(s, d, "documents"), threshold = 0.5)
    },
      Some(s"""WITH toks AS (
        |  SELECT DISTINCT doc_id, source,
        |         unnest($wordsSql) AS token
        |  FROM documents
        |), sizes AS (
        |  SELECT doc_id AS sid, count(*) AS sz FROM toks GROUP BY doc_id
        |), inter AS (
        |  SELECT l.doc_id AS a, r.doc_id AS b, count(*) AS ic
        |  FROM toks l JOIN toks r ON l.source = r.source AND l.token = r.token AND l.doc_id < r.doc_id
        |  GROUP BY l.doc_id, r.doc_id
        |)
        |SELECT a, b, round(ic::DOUBLE / (sa.sz + sb.sz - ic), 4) AS jaccard
        |FROM inter JOIN sizes sa ON sa.sid = a JOIN sizes sb ON sb.sid = b
        |WHERE ic::DOUBLE / (sa.sz + sb.sz - ic) >= 0.5""".stripMargin)),
    Query("q16_simhash_md5", (s, d) => Dedup.simhashMd5(t(s, d, "documents")),
      // DuckDB twin of q16: bit b of the simhash = (hex nibble b of
      // md5(word) >= 8), sign-summed over the distinct word set.
      Some {
        val sums = (0 until 32).map(b =>
          s"sum(CASE WHEN substring(h, ${b + 1}, 1) >= '8' THEN 1 ELSE -1 END) AS s$b").mkString(", ")
        val sim = (0 until 32).map(b =>
          s"(CASE WHEN s$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)").mkString(" + ")
        s"""WITH toks AS (
           |  SELECT doc_id, unnest(list_distinct($wordsSql)) AS w
           |  FROM documents
           |), h AS (SELECT doc_id, md5(w) AS h FROM toks),
           |bits AS (SELECT doc_id, $sums FROM h GROUP BY doc_id)
           |SELECT doc_id, $sim AS simhash FROM bits""".stripMargin
      }),
    Query("q17_minhash_pairs_md5", (s, d) => Dedup.minhashLshMd5(t(s, d, "documents"), threshold = 0.5),
      Some(minhashLshSql(width = 3, threshold = 0.5))),
    Query("q18_ann_brute_int", (s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.bruteDotInt(emb, emb.where(col("vec_id") < 8), k = 5)
    },
      Some("""WITH qv AS (
        |  SELECT vec_id AS query_id,
        |         list_transform(embedding, e -> CAST(round(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS qv
        |  FROM embeddings WHERE vec_id < 8
        |), cv AS (
        |  SELECT vec_id AS corpus_id,
        |         list_transform(embedding, e -> CAST(round(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS cv
        |  FROM embeddings
        |), s AS (
        |  SELECT query_id, corpus_id,
        |         CAST(list_sum(list_transform(range(1, len(qv)+1), i -> qv[i] * cv[i])) AS BIGINT) AS dot
        |  FROM cv, qv WHERE corpus_id <> query_id
        |)
        |SELECT query_id, corpus_id, dot, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, corpus_id) AS rank FROM s
        |) WHERE rank <= 5""".stripMargin)),
    Query("q21_simhash_pairs_md5", (s, d) => Dedup.simhashMd5Pairs(t(s, d, "documents")),
      // DuckDB twin of q21: md5-simhash pair recovery — 4×8-bit pigeonhole
      // chunk buckets, hot-chunk suppression (≤500), hamming ≤ 3 via
      // bit_count(xor) — the full [[graft.pipeline.Dedup.simhashMd5Pairs]]
      // pipeline in ANSI SQL.
      Some {
        val sums = (0 until 32).map(b =>
          s"sum(CASE WHEN substring(h, ${b + 1}, 1) >= '8' THEN 1 ELSE -1 END) AS s$b").mkString(", ")
        val sim = (0 until 32).map(b =>
          s"(CASE WHEN s$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE 0 END)").mkString(" + ")
        s"""WITH toks AS (
           |  SELECT doc_id, unnest(list_distinct($wordsSql)) AS w
           |  FROM documents
           |), h AS (SELECT doc_id, md5(w) AS h FROM toks),
           |bits AS (SELECT doc_id, $sums FROM h GROUP BY doc_id),
           |sims AS (SELECT doc_id, $sim AS simhash FROM bits),
           |chunks AS (
           |  SELECT doc_id, simhash, c.chunk AS chunk, (simhash >> (c.chunk * 8)) & 255 AS value
           |  FROM sims, unnest([0,1,2,3]) c(chunk)
           |), cold AS (
           |  SELECT chunk, value FROM chunks GROUP BY chunk, value HAVING count(*) <= 500
           |), c2 AS (SELECT chunks.* FROM chunks JOIN cold USING (chunk, value))
           |SELECT DISTINCT l.doc_id AS a, r.doc_id AS b, CAST(bit_count(xor(l.simhash, r.simhash)) AS BIGINT) AS hamming
           |FROM c2 l JOIN c2 r ON l.chunk = r.chunk AND l.value = r.value AND l.doc_id < r.doc_id
           |WHERE bit_count(xor(l.simhash, r.simhash)) <= 3""".stripMargin
      }),
    // oracle-checked scale twin of x_ngram_jaccard_lsh: word-SET (w=1)
    // Jaccard via md5 minhash banding, replayable in ANSI SQL
    Query("q22_wordset_lsh_md5", (s, d) =>
      Dedup.minhashLshMd5(t(s, d, "documents"), threshold = 0.5, shingleWidth = 1),
      Some(minhashLshSql(width = 1, threshold = 0.5))),
    // connected components over the near-dup pair graph, oracle-checked
    // via a DuckDB WITH RECURSIVE transitive-closure min — the iterative
    // Spark min-label propagation must converge to the same labels
    Query("q26_connected_components", (s, d) => {
      val pairs = Dedup.minhashLshMd5(t(s, d, "documents"), threshold = 0.5)
        .select(col("a"), col("b"))
      KgPipeline.connectedComponents(pairs)
    },
      // transitive-closure CC: the recursive CTE computes every label
      // reachable from each node; min per node == the component minimum,
      // exactly what the Spark side's min-label propagation converges to
      Some(s"""WITH RECURSIVE pairs AS (SELECT a, b FROM (${minhashLshSql(width = 3, threshold = 0.5)}) q17),
        |edges AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
        |$reachSql
        |SELECT node, min(lab) AS component FROM reach GROUP BY node""".stripMargin)),
    // full int_vec_dot_norms kernel surface (dot AND both norms) over
    // all pairs of a bounded slice — q18 oracles only the dot
    Query("q27_embedding_dot_norms", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      def quant(c: org.apache.spark.sql.Column) =
        transform(c, e => round(e.cast("double") * 1000000L).cast("bigint"))
      val emb = t(s, d, "embeddings").where(col("vec_id") < 40)
      val l = emb.select(col("vec_id").as("a"), quant(col("embedding")).as("qa"))
      val r = emb.select(col("vec_id").as("b"), quant(col("embedding")).as("qb"))
      l.join(broadcast(r), col("a") < col("b"))
        .select(col("a"), col("b"), expr("int_vec_dot_norms(qa, qb)").as("dnn"))
        .select(col("a"), col("b"),
          col("dnn").getItem(0).as("dot"),
          col("dnn").getItem(1).as("n2a"),
          col("dnn").getItem(2).as("n2b"))
    },
      Some("""WITH qv AS (
        |  SELECT vec_id, list_transform(embedding, e -> CAST(round(CAST(e AS DOUBLE) * 1000000) AS BIGINT)) AS v
        |  FROM embeddings WHERE vec_id < 40
        |)
        |SELECT l.vec_id AS a, r.vec_id AS b,
        |  CAST(list_sum(list_transform(range(1, len(l.v)+1), i -> l.v[i] * r.v[i])) AS BIGINT) AS dot,
        |  CAST(list_sum(list_transform(l.v, x -> x * x)) AS BIGINT) AS n2a,
        |  CAST(list_sum(list_transform(r.v, x -> x * x)) AS BIGINT) AS n2b
        |FROM qv l, qv r WHERE l.vec_id < r.vec_id""".stripMargin)),
    // symmetric int8 quantization census per embedding vector: max-abs
    // scale, total/worst reconstruction error and underflow count in
    // the micro-unit integer regime — the 4x-compression pre-flight
    // report; row-local (no shuffle), sanctioned once-per-row lambdas
    Query("q212_int8_quant", (s, d) =>
      Similarity.int8QuantCensus(t(s, d, "embeddings"))
        .select("vec_id", "dim", "scale_us", "sum_err_us", "max_err_us", "n_underflow"),
      // independent relational formulation (unnest + two aggregates) of
      // the Spark side's row-local lambda census; the error expression
      // carries IDENTICAL parenthesization both sides (the q47
      // left-to-right div rule) and every operand is non-negative (the
      // q62 // == div regime)
      Some("""WITH x AS (
        |  SELECT vec_id, abs(CAST(round(CAST(e AS DOUBLE) * 1000000) AS BIGINT)) AS a
        |  FROM (SELECT vec_id, unnest(embedding) AS e FROM embeddings) t0
        |), s AS (
        |  SELECT vec_id, CAST(count(*) AS BIGINT) AS dim,
        |    greatest(max(a), 1) AS scale FROM x GROUP BY vec_id
        |)
        |SELECT x.vec_id, s.dim, CAST(s.scale AS BIGINT) AS scale_us,
        |  CAST(sum(x.a - ((x.a * 127) // s.scale) * s.scale // 127) AS BIGINT) AS sum_err_us,
        |  CAST(max(x.a - ((x.a * 127) // s.scale) * s.scale // 127) AS BIGINT) AS max_err_us,
        |  CAST(sum(CASE WHEN x.a > 0 AND (x.a * 127) // s.scale = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_underflow
        |FROM x JOIN s ON s.vec_id = x.vec_id
        |GROUP BY x.vec_id, s.dim, s.scale""".stripMargin)),
    // edit-distance-1 pairs via deletion-neighborhood (FastSS)
    // blocking — typo-tolerant ER matching; the corpus vocabulary has
    // no natural distance-1 pairs, so the input is augmented with the
    // deterministic last-char truncation of every >= 5-char word type
    // (each truncation pairs with its original at distance exactly 1,
    // both engines build the identical augmented set)
    Query("q215_edit1_pairs", (s, d) => {
      val docs = t(s, d, "documents")
      val w = docs.select(explode(TextOps.words(col("text"))).as("word")).distinct()
      val aug = w.unionByName(w.where(length(col("word")) >= 5)
        .select(expr("substring(word, 1, length(word) - 1)").as("word")))
      Dedup.editDistance1Pairs(aug).select("a", "b", "dist")
    },
      // independent ALL-PAIRS formulation over the identically augmented
      // word set (vocabulary-sized — fine oracle-side; the Spark side's
      // deletion blocking is the scale path): both engines' levenshtein
      // is the classic unweighted DP, integer-equal
      Some("""WITH w0 AS (
        |  SELECT DISTINCT word FROM (
        |    SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
        |      x -> x <> '')) AS word FROM documents) t0
        |), aug AS (
        |  SELECT word FROM w0
        |  UNION
        |  SELECT substring(word, 1, length(word) - 1) FROM w0 WHERE length(word) >= 5
        |)
        |SELECT a.word AS a, b.word AS b,
        |  CAST(levenshtein(a.word, b.word) AS BIGINT) AS dist
        |FROM aug a JOIN aug b ON a.word < b.word
        |WHERE levenshtein(a.word, b.word) <= 1""".stripMargin)),
    // content-defined chunking dedup census (the FastCDC/LBFS storage
    // primitive): boundaries where the trailing 8-char window's
    // Buzhash clears the 5-bit mask — the codegen'd rolling kernel
    // (the fourth Catalyst expression), chunks by gaps between
    // boundaries (+ the tail), corpus-wide duplicated-chunk census
    // with saved-char accounting
    Query("q214_cdc_chunks", (s, d) =>
      Dedup.cdcChunkCensus(t(s, d, "documents"))
        .select("chunk_key", "chunk_len", "n_copies", "n_docs", "saved_chars"),
      Some(q214Sql())),
    // one-row CDC storage-savings summary over the same chunking: the
    // dedup go/no-go number (chunks, distinct, chars, saved, ppm)
    Query("q217_cdc_summary", (s, d) =>
      Dedup.cdcSummary(t(s, d, "documents"))
        .select("n_chunks", "n_distinct_chunks", "total_chars",
          "saved_chars", "dedup_ppm"),
      // DuckDB twin of q217 (CDC summary): the q214 chunking CTEs, then
      // the two-level aggregate — per-distinct-chunk copy counts, one
      // summary row; ppm is truncating on non-negatives (q62), HUGEINT
      // sums divided before the BIGINT cast (q70).
      Some(s"""${cdcCtes()},
         |grp AS (
         |  SELECT chunk_key, chunk_len, count(*) AS nc
         |  FROM ch GROUP BY chunk_key, chunk_len
         |)
         |SELECT CAST(sum(nc) AS BIGINT) AS n_chunks,
         |  CAST(count(*) AS BIGINT) AS n_distinct_chunks,
         |  CAST(sum(nc * chunk_len) AS BIGINT) AS total_chars,
         |  CAST(sum((nc - 1) * chunk_len) AS BIGINT) AS saved_chars,
         |  CAST(sum((nc - 1) * chunk_len) * 1000000 // sum(nc * chunk_len) AS BIGINT) AS dedup_ppm
         |FROM grp""".stripMargin)),
    // near-dup cluster SIZE census — the dedup report every curation
    // run publishes (how much of the corpus is duplicated, at what
    // multiplicity): cluster sizes from the q26 LSH+CC labels
    // (StageCache-shared), frequency-of-sizes census, singletons
    // restored as the csize=1 row from the total-vs-clustered scalar
    // (CC clusters are always >= 2, so the row is exactly the
    // unclustered docs)
    Query("q201_cluster_census", (s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.minhashLshMd5(docs, threshold = 0.5)
        .select(col("a"), col("b"))
      val cc = KgPipeline.connectedComponents(pairs)
      val sizes = cc.groupBy(col("component")).agg(count(lit(1)).as("csize"))
      val census = sizes.groupBy(col("csize")).agg(count(lit(1)).as("n_clusters"))
      val singles = docs.agg(count(lit(1)).as("total"))
        .crossJoin(cc.agg(count(lit(1)).as("clustered")))
        .select(lit(1L).as("csize"), (col("total") - col("clustered")).as("n_clusters"))
        .where(col("n_clusters") > 0)
      census.unionByName(singles)
        .select(col("csize").cast("bigint").as("csize"),
          col("n_clusters").cast("bigint").as("n_clusters"),
          (col("csize") * col("n_clusters")).cast("bigint").as("n_docs"))
    },
      // q201: the q26 recursive-CTE CC chain with a census tail; cc is
      // multi-consumed (sizes + clustered count) → MATERIALIZED (q71
      // rule — its upstream is the whole minhash pipeline); singleton
      // row = total - clustered (CC clusters are always >= 2)
      Some(s"""WITH RECURSIVE pairs AS (SELECT a, b FROM (${minhashLshSql(width = 3, threshold = 0.5)}) q17),
        |edges AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
        |$reachSql,
        |cc AS MATERIALIZED (SELECT node, min(lab) AS component FROM reach GROUP BY node),
        |sizes AS (SELECT component, count(*) AS csize FROM cc GROUP BY component),
        |census AS (SELECT csize, count(*) AS n_clusters FROM sizes GROUP BY csize),
        |uni AS (
        |  SELECT csize, n_clusters FROM census
        |  UNION ALL
        |  SELECT 1 AS csize, (SELECT count(*) FROM documents) - (SELECT count(*) FROM cc) AS n_clusters
        |  WHERE (SELECT count(*) FROM documents) - (SELECT count(*) FROM cc) > 0)
        |SELECT CAST(csize AS BIGINT) AS csize, CAST(n_clusters AS BIGINT) AS n_clusters,
        |  CAST(csize * n_clusters AS BIGINT) AS n_docs FROM uni""".stripMargin)),
    // dedup threshold-calibration sweep: per-threshold precision /
    // recall of the LSH candidate pairs against the exact-duplicate
    // gold standard (md5(text) equality). Scored pairs are the
    // StageCache-shared LSH stages WITHOUT the jaccard gate (integer
    // ic/uc, q62 ppm); gold totals are per-group C(s,2) sums (q173 —
    // gold pairs outside the candidate buckets still count against
    // recall, so the sweep measures the LSH's own recall too); the
    // 5-row threshold table is a bounded broadcast explode
    Query("q204_threshold_sweep", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val scored = Dedup.scoredPairsMd5(docs)
      val fps = docs.select(col("doc_id"), md5(col("text")).as("fp"))
      val goldTotal = fps.groupBy(col("fp")).agg(count(lit(1)).as("sz"))
        .agg(coalesce(sum(expr("sz * (sz - 1) div 2")), lit(0L)).as("gold"))
      val withGold = scored
        .join(fps.select(col("doc_id").as("a"), col("fp").as("fa")), Seq("a"))
        .join(fps.select(col("doc_id").as("b"), col("fp").as("fb")), Seq("b"))
        .select(expr("ic * 1000000 div uc").as("jppm"),
          (col("fa") === col("fb")).cast("long").as("is_gold"))
      val ts = Seq(300000L, 500000L, 700000L, 900000L, 1000000L).toDF("t_ppm")
      val sweep = withGold.crossJoin(broadcast(ts))
        .where(col("jppm") >= col("t_ppm"))
        .groupBy(col("t_ppm"))
        .agg(count(lit(1)).as("n_pred"), sum(col("is_gold")).as("n_tp"))
      ts.join(sweep, Seq("t_ppm"), "left")
        .crossJoin(broadcast(goldTotal))
        .select(col("t_ppm").cast("bigint").as("t_ppm"),
          coalesce(col("n_pred"), lit(0L)).cast("bigint").as("n_pred"),
          coalesce(col("n_tp"), lit(0L)).cast("bigint").as("n_tp"),
          expr("CASE WHEN coalesce(n_pred, 0) > 0 THEN coalesce(n_tp, 0) * 1000000 div n_pred ELSE 0 END")
            .cast("bigint").as("precision_ppm"),
          expr("CASE WHEN gold > 0 THEN coalesce(n_tp, 0) * 1000000 div gold ELSE 0 END")
            .cast("bigint").as("recall_ppm"))
    },
      // q204: the shared minhash candidate chain scored as INTEGER
      // ic/uc, swept against the unnested threshold list; gold is the
      // q198-style C(s,2) census over md5(text) groups.
      Some(s"""WITH ${minhashCandCtes(width = 3, src = "documents")},
        |scored AS (
        |  SELECT a, b, len(list_intersect(sa.sh, sb.sh)) AS ic,
        |         len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh)) AS uc
        |  FROM cand JOIN sig sa ON sa.doc_id = a JOIN sig sb ON sb.doc_id = b),
        |fps AS MATERIALIZED (SELECT doc_id, md5(text) AS fp FROM documents),
        |gold AS (SELECT coalesce(sum(sz * (sz - 1) // 2), 0) AS g
        |         FROM (SELECT count(*) AS sz FROM fps GROUP BY fp) x),
        |wg AS (
        |  SELECT ic * 1000000 // uc AS jppm,
        |         CASE WHEN fa.fp = fb.fp THEN 1 ELSE 0 END AS is_gold
        |  FROM scored s JOIN fps fa ON fa.doc_id = s.a JOIN fps fb ON fb.doc_id = s.b),
        |ts AS (SELECT unnest([300000, 500000, 700000, 900000, 1000000]) AS t_ppm),
        |sw AS (SELECT t_ppm, count(*) AS n_pred, sum(is_gold) AS n_tp
        |       FROM wg JOIN ts ON wg.jppm >= ts.t_ppm GROUP BY t_ppm)
        |SELECT CAST(ts.t_ppm AS BIGINT) AS t_ppm,
        |  CAST(coalesce(n_pred, 0) AS BIGINT) AS n_pred,
        |  CAST(coalesce(n_tp, 0) AS BIGINT) AS n_tp,
        |  CAST(CASE WHEN coalesce(n_pred, 0) > 0 THEN coalesce(n_tp, 0) * 1000000 // n_pred ELSE 0 END AS BIGINT) AS precision_ppm,
        |  CAST(CASE WHEN g > 0 THEN coalesce(n_tp, 0) * 1000000 // g ELSE 0 END AS BIGINT) AS recall_ppm
        |FROM ts LEFT JOIN sw ON sw.t_ppm = ts.t_ppm CROSS JOIN gold""".stripMargin)),
    // triplet mining for contrastive embedding training: per anchor,
    // the hardest POSITIVE (min integer dot among same-label) and
    // hardest NEGATIVE (max dot among other labels) with the signed
    // margin — the semi-hard mining report a metric-learning run
    // feeds on. Bounded broadcast anchor slice (the q18 sanctioned
    // shape), codegen int_vec_dot_norms kernel, (dot, cand_id)
    // tiebreak (q103 rule); margin is one signed subtraction of two
    // exact integers (q160 regime)
    Query("q205_triplet_mining", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      import org.apache.spark.sql.expressions.Window
      def quant(c: org.apache.spark.sql.Column) =
        transform(c, e => round(e.cast("double") * 1000).cast("bigint"))
      val emb = t(s, d, "embeddings")
      val q = emb.where(col("vec_id") < 16)
        .select(col("vec_id").as("query_id"), col("label").as("ql"),
          quant(col("embedding")).as("qv"))
      val c = emb.select(col("vec_id").as("cand_id"), col("label").as("cl"),
        quant(col("embedding")).as("cv"))
      // consumed by BOTH mining lanes — eager checkpoint (the LSH-
      // builder multi-consumer rule; anchor-bounded, 16 × corpus rows)
      val scored = c.join(broadcast(q), col("cand_id") =!= col("query_id"))
        .select(col("query_id"), col("ql"), col("cand_id"), col("cl"),
          expr("int_vec_dot_norms(qv, cv)").getItem(0).as("dot"))
        .localCheckpoint(true)
      val pos = scored.where(col("cl") === col("ql"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("query_id")).orderBy(col("dot").asc, col("cand_id").asc)))
        .where(col("rk") === 1)
        .select(col("query_id"), col("cand_id").as("pos_id"), col("dot").as("pos_dot"))
      val neg = scored.where(col("cl") =!= col("ql"))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("query_id")).orderBy(col("dot").desc, col("cand_id").asc)))
        .where(col("rk") === 1)
        .select(col("query_id"), col("cand_id").as("neg_id"), col("dot").as("neg_dot"))
      pos.join(neg, Seq("query_id"))
        .select(col("query_id"), col("pos_id"), col("pos_dot"),
          col("neg_id"), col("neg_dot"),
          (col("pos_dot") - col("neg_dot")).cast("bigint").as("margin"))
    },
      // q205: the q18 quantized-dot formulation restricted per lane
      // (same label = positives, min-dot rank; other labels =
      // negatives, max-dot rank), (dot, cand_id) tiebreaks both sides.
      Some("""WITH qv AS (
        |  SELECT vec_id AS query_id, label AS ql,
        |         list_transform(embedding, e -> CAST(round(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS qv
        |  FROM embeddings WHERE vec_id < 16
        |), cv AS (
        |  SELECT vec_id AS cand_id, label AS cl,
        |         list_transform(embedding, e -> CAST(round(CAST(e AS DOUBLE) * 1000) AS BIGINT)) AS cv
        |  FROM embeddings
        |), s AS (
        |  SELECT query_id, ql, cand_id, cl,
        |         CAST(list_sum(list_transform(range(1, len(qv)+1), i -> qv[i] * cv[i])) AS BIGINT) AS dot
        |  FROM cv, qv WHERE cand_id <> query_id
        |),
        |pos AS (SELECT query_id, cand_id AS pos_id, dot AS pos_dot FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dot ASC, cand_id ASC) AS rk
        |  FROM s WHERE cl = ql) x WHERE rk = 1),
        |neg AS (SELECT query_id, cand_id AS neg_id, dot AS neg_dot FROM (
        |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY dot DESC, cand_id ASC) AS rk
        |  FROM s WHERE cl <> ql) x WHERE rk = 1)
        |SELECT p.query_id, pos_id, CAST(pos_dot AS BIGINT) AS pos_dot,
        |  neg_id, CAST(neg_dot AS BIGINT) AS neg_dot,
        |  CAST(pos_dot - neg_dot AS BIGINT) AS margin
        |FROM pos p JOIN neg n ON n.query_id = p.query_id""".stripMargin)),
    // exact containment self-join (Broder's |A∩B|/|A|): the corpus +
    // planted half-prefix clones (doc_id%7==0 → doc_id+2e6 carrying
    // the first half of the word stream) — the subset-duplication case
    // symmetric Jaccard misses; prefix-filtered candidates, lossless
    Query("q81_containment_join", (s, d) => {
      val docs = t(s, d, "documents")
      val aug = docs.select(col("doc_id"), col("text"))
        .unionByName(docs
          .select(col("doc_id"), TextOps.words(col("text")).as("words"))
          .where(pmod(col("doc_id"), lit(7)) === 0 && size(col("words")) >= 4)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            concat_ws(" ", slice(col("words"), lit(1), expr("size(words) div 2"))).as("text")))
      Dedup.containmentPrefixJoin(aug, shingleWidth = 3)
    },
      Some(q81Sql())),
    // cross-engine-exact twin of the embedding-LSH near-dup CANDIDATE
    // path: md5-Rademacher hyperplane signs + integer projections →
    // bucket assignment, hot-bucket suppression, pair recovery AND the
    // integer kernel verify all replay value-exact in DuckDB (q27
    // oracles the kernel only; this oracles the whole bucket pipeline)
    Query("q28_embedding_lsh_md5", (s, d) =>
      Similarity.embeddingNearDupMd5(t(s, d, "embeddings")),
      Some(q28Sql())),
    // SemDeDup: deterministic-medoid clustering + within-cluster
    // rational-cosine prune — every stage (medoid pick, integer argmax
    // assignment, greedy keep-first survivor rule) replays in DuckDB
    Query("q44_semdedup", (s, d) => Similarity.semDedupMd5(t(s, d, "embeddings")),
      Some(q44Sql())),
    // product-quantization ANN (ADC): md5-donor codebooks, integer
    // argmin encoding, broadcast per-query LUT scoring
    Query("q46_pq_adc", (s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.pqAdcMd5(emb, emb.where(col("vec_id") < 8))
    },
      Some(q46Sql())),
    // EXACT Jaccard self-join via prefix filtering (AllPairs/PPJoin):
    // the deterministic complement to the minhash paths — finds EVERY
    // pair with trigram-set Jaccard >= 1/2, no all-pairs product, no
    // LSH miss probability. Rational threshold, integer candidate math.
    Query("q59_jaccard_prefix_join", (s, d) => Dedup.jaccardPrefixJoin(t(s, d, "documents")),
      Some(q59Sql())),
    // incremental near-dup: the crawl-refresh shape — NEW batch
    // (doc_id ≡ 0 mod 4) probed against the EXISTING corpus's band
    // index; old×old and new×new pairs never materialize. Oracle =
    // the full q22 pair set with a one-line batch-parity filter (the
    // equivalence the candidate topology must preserve).
    Query("q65_incremental_neardup", (s, d) =>
      Dedup.minhashLshMd5Incremental(t(s, d, "documents"),
        id => pmod(id, lit(4L)) === 0L, threshold = 0.5, shingleWidth = 1),
      // DuckDB twin of q65: the full q22 pair set restricted to pairs
      // with exactly one endpoint in the new batch (doc_id ≡ 0 mod 4) —
      // the value-equivalence contract of the incremental candidate
      // topology (banding + suppression + verify are shared code).
      Some(s"""SELECT a, b, jaccard
         |FROM (${minhashLshSql(width = 1, threshold = 0.5)}) q22
         |WHERE (a % 4 = 0) <> (b % 4 = 0)""".stripMargin)),
    // deterministic integer k-means over the embedding corpus: Lloyd's
    // with fixed rounds, md5-seeded centroids, milli-unit squared-L2
    // off the codegen kernel; the oracle unrolls the rounds as CTEs
    // (the q56 technique applied to vectors)
    Query("q68_kmeans_int", (s, d) => Similarity.kmeansInt(t(s, d, "embeddings"), k = 4, iters = 3),
      Some(q68Sql())),
    Query("x_minhash_lsh_dedup", (s, d) => Dedup.minhashLsh(t(s, d, "documents"), threshold = 0.5)),
    // scale-safe twin of q13_ngram_jaccard: word-set (w=1) Jaccard via
    // minhash banding — runs at sf0.1 in the bench where the quadratic
    // oracle form is fenced to sf0.01
    Query("x_ngram_jaccard_lsh", (s, d) =>
      Dedup.minhashLsh(t(s, d, "documents"), threshold = 0.5, shingleWidth = 1)),
    Query("x_simhash_dedup", (s, d) => Dedup.simhash(t(s, d, "documents"), maxHamming = 3)),
    // the synthetic embedding corpus tops out around cos 0.6, so
    // "near-dup" here is cos>=0.4 — a low-threshold regime that needs
    // few planes (fat buckets) amplified across independent tables;
    // the relational integer verify keeps the candidate volume cheap
    // 9 planes x 5 tables + radius-1 multi-probe: equal expected recall
    // to the old exact 6x8 (p~0.63 at cos 0.4) with 8x smaller buckets
    // and ~20% fewer expected candidates — the fat-bucket fix in the
    // low-threshold synthetic regime
    Query("x_embedding_neardup", (s, d) =>
      Similarity.embeddingNearDup(t(s, d, "embeddings"), threshold = 0.4, planes = 9, tables = 5,
        probeRadius = 1)),
    Query("x_ann_brute", (s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.bruteCosine(emb, emb.where(col("vec_id") < 8), k = 5)
    }),
    // 12 planes x 2 tables with radius-1 multi-probe: same expected
    // recall as the old exact 8x3 at ~half the candidate volume and
    // 16x smaller buckets (the low-threshold fat-bucket fix — see
    // lshCosine's scaladoc)
    Query("x_ann_lsh", (s, d) => Similarity.lshCosine(t(s, d, "embeddings"), k = 5,
      planes = 12, tables = 2, probeRadius = 1)),
    Query("x_ann_ivf", (s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.ivfCosine(emb, emb.where(col("vec_id") < 8), k = 5)
    })
  )
}
