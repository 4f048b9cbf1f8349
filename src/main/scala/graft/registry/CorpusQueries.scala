package graft.registry

import org.apache.spark.sql.functions._
import graft.pipeline._
import graft.pipeline.TextOps.{fingerprintSql, subwordCountSql, tokenCountSql, wordsSql}

import QueryKit._

/** Corpus curation and text operators over `documents`: tokenizers,
  * quality and PII filters, URL canonicalization, span dedup, sampling,
  * language-model signals and curation metrics.
  */
private[graft] object CorpusQueries {

  /** DuckDB twin of q42: same rule thresholds (spliced from the shared
    * Curation.Qf* constants), same integer arithmetic, same stopword
    * containment test, same repetition stats as q29.
    */
  private def q42Sql(src: String = "documents"): String = {
    import Curation._
    val stopArms = QfStopwords.map(w =>
      s"(CASE WHEN contains(' ' || lower(text) || ' ', ' $w ') THEN 1 ELSE 0 END)").mkString(" + ")
    val flagsExpr =
      s"""(CASE WHEN n_words < $QfMinWords OR n_words > $QfMaxWords THEN $QfWordsBit ELSE 0 END)
         |      + (CASE WHEN mwl < $QfMinMwlDeci OR mwl > $QfMaxMwlDeci THEN $QfMeanLenBit ELSE 0 END)
         |      + (CASE WHEN stop_hits < $QfMinStopHits THEN $QfStopwordsBit ELSE 0 END)
         |      + (CASE WHEN dup_word_bp >= $QfDupWordBpMax THEN $QfDupWordsBit ELSE 0 END)
         |      + (CASE WHEN top_word_bp > $QfTopWordBpMax THEN $QfTopWordBit ELSE 0 END)
         |      + (CASE WHEN top_bigram_bp > $QfTopBigramBpMax THEN $QfTopBigramBit ELSE 0 END)
         |      + (CASE WHEN sym_bp > $QfSymbolBpMax THEN $QfSymbolsBit ELSE 0 END)""".stripMargin
    s"""WITH base AS (
       |  SELECT doc_id, text, $wordsSql AS words
       |  FROM $src
       |), counts AS (
       |  SELECT doc_id, len(words) AS nw, len(list_distinct(words)) AS dw FROM base
       |), we AS (SELECT doc_id, unnest(words) AS w FROM base),
       |tw AS (SELECT doc_id, max(n) AS mxw, sum(n) AS totw FROM (SELECT doc_id, w, count(*) AS n FROM we GROUP BY doc_id, w) GROUP BY doc_id),
       |bge AS (
       |  SELECT doc_id, unnest(list_transform(range(1, len(words)), i -> words[i] || ' ' || words[i+1])) AS bg
       |  FROM base WHERE len(words) >= 2
       |),
       |tb AS (SELECT doc_id, max(n) AS mxb, sum(n) AS totb FROM (SELECT doc_id, bg, count(*) AS n FROM bge GROUP BY doc_id, bg) GROUP BY doc_id),
       |rep AS (
       |  SELECT c.doc_id,
       |    CAST(CASE WHEN nw > 0 THEN (nw - dw) * 10000 // nw ELSE 0 END AS BIGINT) AS dup_word_bp,
       |    CAST(coalesce(mxw * 10000 // totw, 0) AS BIGINT) AS top_word_bp,
       |    CAST(coalesce(mxb * 10000 // totb, 0) AS BIGINT) AS top_bigram_bp
       |  FROM counts c LEFT JOIN tw USING (doc_id) LEFT JOIN tb USING (doc_id)
       |), feat AS (
       |  SELECT doc_id,
       |    CAST(len(words) AS BIGINT) AS n_words,
       |    CAST(length(regexp_replace(lower(text), '[^a-z0-9]', '', 'g')) AS BIGINT) AS sum_len,
       |    CAST($stopArms AS BIGINT) AS stop_hits,
       |    CAST(len(regexp_extract_all(text, '$QfSymbolRe')) AS BIGINT) AS sym
       |  FROM base
       |), f2 AS (
       |  SELECT doc_id, n_words,
       |    CAST(CASE WHEN n_words > 0 THEN sum_len * 10 // n_words ELSE 0 END AS BIGINT) AS mwl,
       |    stop_hits,
       |    CAST(CASE WHEN n_words > 0 THEN sym * 10000 // n_words ELSE 0 END AS BIGINT) AS sym_bp
       |  FROM feat
       |), flagged AS (
       |  SELECT f2.doc_id, n_words,
       |    CAST($flagsExpr AS BIGINT) AS flags
       |  FROM f2 JOIN rep ON rep.doc_id = f2.doc_id
       |)
       |SELECT doc_id, n_words, flags,
       |  CAST(CASE WHEN flags = 0 THEN 1 ELSE 0 END AS BIGINT) AS keep
       |FROM flagged""".stripMargin
  }

  /** Source quotas for the registered stratified-sample query: a spread
    * of keep-percentages across the synthetic sources (src0 → 10% …
    * src19 → 86%) so the oracle exercises the whole CASE ladder.
    */
  private val q30Quotas: Map[String, Int] = (0 until 20).map(i => s"src$i" -> (10 + 4 * i)).toMap

  /** DuckDB twin of q31: same trigram sets, same eval slice, same
    * integer basis points.
    */
  private def q31Sql(src: String = "documents"): String =
    s"""WITH base AS (
      |  SELECT doc_id, $wordsSql AS words
      |  FROM $src
      |), grams AS (
      |  SELECT doc_id, CASE WHEN len(words) >= 3
      |    THEN list_distinct(list_transform(range(1, len(words) - 1), i -> words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
      |    ELSE [] END AS gs
      |  FROM base
      |), ge AS (SELECT doc_id, unnest(gs) AS g FROM grams),
      |ev AS (SELECT DISTINCT g FROM ge WHERE doc_id % 97 = 0),
      |hits AS (
      |  SELECT doc_id, count(*) AS h FROM ge
      |  WHERE doc_id % 97 <> 0 AND g IN (SELECT g FROM ev) GROUP BY doc_id
      |)
      |SELECT gr.doc_id,
      |  CAST(len(gr.gs) AS BIGINT) AS n_grams,
      |  CAST(coalesce(h.h, 0) AS BIGINT) AS n_contaminated,
      |  CAST(CASE WHEN len(gr.gs) > 0 THEN coalesce(h.h, 0) * 10000 // len(gr.gs) ELSE 0 END AS BIGINT) AS contam_bp
      |FROM grams gr LEFT JOIN hits h USING (doc_id)
      |WHERE gr.doc_id % 97 <> 0""".stripMargin

  /** DuckDB twin of q34: same window md5s, same >=2 corpus-wide dup
    * rule, same gaps-and-islands merge (windows of width 8 merge while
    * consecutive duplicated starts are <= 8 apart).
    */
  private def q34Sql(width: Int = 8): String = {
    val w1 = width - 1
    s"""WITH base AS (
       |  SELECT doc_id, $wordsSql AS words
       |  FROM documents
       |), occ AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos, md5(array_to_string(words[i:i+$w1], ' ')) AS h
       |  FROM base, unnest(range(1, len(words) - $w1 + 1)) t(i)
       |  WHERE len(words) >= $width
       |), hot AS (SELECT h FROM occ GROUP BY h HAVING count(*) >= 2),
       |dup AS (SELECT occ.doc_id, occ.pos FROM occ JOIN hot USING (h)),
       |m AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= $width THEN 0 ELSE 1 END AS brk
       |  FROM dup
       |), isl AS (
       |  SELECT doc_id, pos,
       |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
       |  FROM m
       |), sp AS (
       |  SELECT doc_id, island, count(*) AS nwin, max(pos) - min(pos) + $width AS cover
       |  FROM isl GROUP BY doc_id, island
       |), agg AS (
       |  SELECT doc_id, count(*) AS spans, sum(nwin) AS dupwin, sum(cover) AS covered
       |  FROM sp GROUP BY doc_id
       |), stats AS (
       |  SELECT doc_id, len(words) AS n_words, greatest(len(words) - $w1, 0) AS n_windows FROM base
       |)
       |SELECT s.doc_id,
       |  CAST(n_words AS BIGINT) AS n_words,
       |  CAST(n_windows AS BIGINT) AS n_windows,
       |  CAST(coalesce(dupwin, 0) AS BIGINT) AS n_dup_windows,
       |  CAST(coalesce(spans, 0) AS BIGINT) AS n_spans,
       |  CAST(coalesce(covered, 0) AS BIGINT) AS dup_cover,
       |  CAST(CASE WHEN n_words > 0 THEN coalesce(covered, 0) * 10000 // n_words ELSE 0 END AS BIGINT) AS dup_bp
       |FROM stats s LEFT JOIN agg USING (doc_id)""".stripMargin
  }

  /** DuckDB twin of q36: the same RE2 component patterns (shared
    * constants) and canonicalization CASE ladder.
    */
  private def q36Sql: String = {
    val sch = Curation.UrlSchemeRe
    val hst = Curation.UrlHostRe
    val pth = Curation.UrlPathRe
    val qry = Curation.UrlQueryRe
    s"""WITH aug AS (SELECT doc_id, $syntheticUrlSql AS url FROM documents),
       |c AS (
       |  SELECT doc_id, url,
       |    lower(regexp_extract(url, '$sch', 1)) AS scheme,
       |    lower(regexp_extract(url, '$hst', 1)) AS hostport,
       |    regexp_extract(url, '$pth', 1) AS path0,
       |    regexp_extract(url, '$qry', 1) AS query
       |  FROM aug
       |), h AS (
       |  SELECT doc_id, url, scheme, hostport, query,
       |    ${Curation.hostSql("scheme", "hostport")} AS host,
       |    CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path
       |  FROM c
       |)
       |SELECT doc_id,
       |  CASE WHEN hostport <> ''
       |    THEN scheme || '://' || host || path || (CASE WHEN query = '' THEN '' ELSE '?' || query END)
       |    ELSE url END AS canonical,
       |  CASE WHEN hostport <> '' THEN regexp_replace(host, '^www\\.', '') ELSE NULL END AS domain,
       |  CAST(CASE WHEN hostport <> '' THEN length(path) - length(replace(path, '/', '')) ELSE 0 END AS BIGINT) AS depth,
       |  CAST(CASE WHEN hostport <> '' AND query <> '' THEN 1 ELSE 0 END AS BIGINT) AS has_query,
       |  CAST(CASE WHEN hostport <> '' THEN 1 ELSE 0 END AS BIGINT) AS parsed
       |FROM h""".stripMargin
  }

  /** DuckDB twin of q38: q34's span CTEs + ordinality word explode,
    * NOT-EXISTS range anti-join, ordered string_agg rebuild.
    */
  private def q38Sql(width: Int = 8): String = {
    val w1 = width - 1
    s"""WITH base AS (
       |  SELECT doc_id, $wordsSql AS words
       |  FROM documents
       |), occ AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS pos, md5(array_to_string(words[i:i+$w1], ' ')) AS h
       |  FROM base, unnest(range(1, len(words) - $w1 + 1)) t(i)
       |  WHERE len(words) >= $width
       |), hot AS (SELECT h FROM occ GROUP BY h HAVING count(*) >= 2),
       |dup AS (SELECT occ.doc_id, occ.pos FROM occ JOIN hot USING (h)),
       |m AS (
       |  SELECT doc_id, pos,
       |    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= $width THEN 0 ELSE 1 END AS brk
       |  FROM dup
       |), isl AS (
       |  SELECT doc_id, pos,
       |    sum(brk) OVER (PARTITION BY doc_id ORDER BY pos ROWS UNBOUNDED PRECEDING) AS island
       |  FROM m
       |), sp AS (
       |  SELECT doc_id, island, min(pos) AS s, max(pos) + $w1 AS e
       |  FROM isl GROUP BY doc_id, island
       |), we AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS p, words[i] AS w
       |  FROM base, unnest(range(1, len(words) + 1)) t(i)
       |), kept AS (
       |  SELECT we.doc_id, we.p, we.w FROM we
       |  WHERE NOT EXISTS (SELECT 1 FROM sp WHERE sp.doc_id = we.doc_id AND we.p BETWEEN sp.s AND sp.e)
       |), reb AS (
       |  SELECT doc_id, count(*) AS kept, string_agg(w, ' ' ORDER BY p) AS ct
       |  FROM kept GROUP BY doc_id
       |), stats AS (SELECT doc_id, len(words) AS n_words FROM base)
       |SELECT s.doc_id,
       |  coalesce(ct, '') AS clean_text,
       |  CAST(coalesce(kept, 0) AS BIGINT) AS n_kept,
       |  CAST(n_words - coalesce(kept, 0) AS BIGINT) AS n_dropped
       |FROM stats s LEFT JOIN reb USING (doc_id)""".stripMargin
  }

  /** DuckDB twin of q39: same whitespace token count (+1 EOS), same
    * per-source prefix-sum window, same integer chunk arithmetic.
    */
  private def q39Sql(seqLen: Int = 512): String =
    s"""WITH tk AS (
       |  SELECT doc_id, source,
       |    CAST($tokenCountSql + 1 AS BIGINT) AS n_tokens
       |  FROM documents
       |), st AS (
       |  SELECT doc_id, source, n_tokens,
       |    CAST(coalesce(sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_tok
       |  FROM tk
       |)
       |SELECT doc_id, source, n_tokens, start_tok,
       |  CAST(start_tok // $seqLen AS BIGINT) AS chunk_first,
       |  CAST((start_tok + n_tokens - 1) // $seqLen AS BIGINT) AS chunk_last,
       |  CAST(start_tok % $seqLen AS BIGINT) AS chunk_offset,
       |  CAST((start_tok + n_tokens - 1) // $seqLen - start_tok // $seqLen + 1 AS BIGINT) AS n_chunks
       |FROM st""".stripMargin

  /** DuckDB twin of q77: same fixed-width lines, same md5 line
    * identity, same keep-first rule via the composite integer
    * min(doc_id·2²⁰ + line_idx); the rebuild is an INDEPENDENT
    * formulation (unnest + anti-join + ordered string_agg vs Spark's
    * indexed array filter). `//` == `div` on the non-negative
    * operands; string_agg ordered by the unique line_idx is
    * deterministic in both engines.
    */
  private def q77Sql(width: Int = 4): String = {
    val w1 = width - 1
    s"""WITH base AS (
       |  SELECT doc_id, $wordsSql AS words
       |  FROM documents
       |), ln AS (
       |  SELECT doc_id, CAST(i AS BIGINT) AS line_idx,
       |    array_to_string(words[(i*$width+1):(i*$width+$width)], ' ') AS line
       |  FROM base, unnest(range(0, (len(words) + $w1) // $width)) t(i)
       |), occ AS (
       |  SELECT doc_id, line_idx, md5(line) AS h,
       |    doc_id * 1048576 + line_idx AS ord
       |  FROM ln
       |), agg AS (
       |  SELECT h, count(*) AS cnt, min(ord) AS keep_ord FROM occ GROUP BY h
       |), rm AS (
       |  SELECT occ.doc_id, occ.line_idx
       |  FROM occ JOIN agg USING (h) WHERE cnt >= 2 AND ord <> keep_ord
       |), kept AS (
       |  SELECT ln.doc_id,
       |    string_agg(ln.line, ' ' ORDER BY ln.line_idx) AS txt
       |  FROM ln LEFT JOIN rm ON ln.doc_id = rm.doc_id AND ln.line_idx = rm.line_idx
       |  WHERE rm.doc_id IS NULL
       |  GROUP BY ln.doc_id
       |), rmc AS (
       |  SELECT doc_id, count(*) AS n_rm FROM rm GROUP BY doc_id
       |), stats AS (
       |  SELECT doc_id, CAST(len(words) AS BIGINT) AS n_words,
       |    CAST((len(words) + $w1) // $width AS BIGINT) AS n_lines
       |  FROM base
       |)
       |SELECT s.doc_id, s.n_words, s.n_lines,
       |  CAST(coalesce(n_rm, 0) AS BIGINT) AS n_removed,
       |  coalesce(txt, '') AS text_dedup
       |FROM stats s LEFT JOIN kept ON s.doc_id = kept.doc_id
       |LEFT JOIN rmc ON s.doc_id = rmc.doc_id""".stripMargin
  }

  /** DuckDB twin of q90: the same 2k+1 md5 weights, hex-STRING
    * greatest (the q45 rule), and lowest-index-wins CASE ladders,
    * generated from the same loop so the two engines cannot drift.
    */
  private def q90Sql(k: Int = 8): String = {
    def h(i: Int) = s"md5(CAST(doc_id AS VARCHAR) || ':$i')"
    def shardSql(n: Int): String = {
      val mx = if (n == 1) h(0) else s"greatest(${(0 until n).map(h).mkString(", ")})"
      val whens = (0 until n).map(i => s"WHEN ${h(i)} = $mx THEN $i").mkString(" ")
      s"CAST(CASE $whens ELSE -1 END AS BIGINT)"
    }
    s"""SELECT doc_id, ${shardSql(k)} AS shard, ${shardSql(k + 1)} AS shard_plus,
       |  CAST(CASE WHEN ${shardSql(k)} <> ${shardSql(k + 1)} THEN 1 ELSE 0 END AS BIGINT) AS moved
       |FROM documents""".stripMargin
  }

  /** DuckDB twin of q189 (WordPiece): the same step table (longest
    * matching unit per position, single-char fallback) walked by a
    * recursive FUNCTIONAL chain — position strictly increases, no
    * aggregates inside the recursion; the unit VALUES list is
    * generated from the SAME Scala constant (Bpe.WordpieceUnits, the
    * q36 shared-constant rule).
    */
  private def q189Sql: String = {
    val vals = graft.pipeline.Bpe.WordpieceUnits.map(u => s"('$u')").mkString(", ")
    s"""WITH RECURSIVE w AS MATERIALIZED (
       |  SELECT DISTINCT word FROM (
       |    SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
       |      x -> x <> '')) AS word FROM documents) t0
       |  WHERE length(word) BETWEEN 1 AND 32),
       |u(unit) AS (VALUES $vals),
       |pos AS MATERIALIZED (
       |  SELECT word, unnest(range(0, length(word))) AS i FROM w),
       |mt AS (SELECT p.word, p.i, max(length(u.unit)) AS sl
       |       FROM pos p JOIN u ON substring(p.word, p.i + 1, length(u.unit)) = u.unit
       |       GROUP BY p.word, p.i),
       |step AS MATERIALIZED (
       |  SELECT p.word, p.i, coalesce(mt.sl, 1) AS sl,
       |         substring(p.word, p.i + 1, coalesce(mt.sl, 1)) AS tok
       |  FROM pos p LEFT JOIN mt ON mt.word = p.word AND mt.i = p.i),
       |walk AS (
       |  SELECT word, 0 AS pos, '' AS toks, 0 AS ntok FROM w
       |  UNION ALL
       |  SELECT s.word, s.i + s.sl,
       |         CASE WHEN wk.toks = '' THEN s.tok ELSE wk.toks || ',' || s.tok END,
       |         wk.ntok + 1
       |  FROM walk wk JOIN step s ON s.word = wk.word AND s.i = wk.pos)
       |SELECT word, toks AS tokens, CAST(ntok AS BIGINT) AS ntok
       |FROM walk WHERE pos = length(word)""".stripMargin
  }

  /** DuckDB twin of q211 (Viterbi segmentation): the DP unrolled as
    * j-indexed CTE rounds (the q56/q68 discipline — round counts are
    * FIXED by the maxWordLen cap of 16; rounds past the data's max
    * length are empty identities, so cap >= data-max keeps both
    * engines value-identical; words longer than the cap are FILTERED
    * on both sides, never truncated). Each round: single-char lane +
    * one branch per unit length with literal (j−L) layer references,
    * then min + argmin ways-sum. cand/dp CTEs are multi-consumed
    * (min + argmin; the next maxUnitLen rounds + final) →
    * MATERIALIZED (the q71 rule); ways sums cast back to BIGINT per
    * layer (the q70 HUGEINT rule). Unit costs are literal
    * 70·L + 10 per branch — a pure length function, so the shared
    * [[graft.pipeline.Bpe.WordpieceUnits]] VALUES list needs no cost
    * column (the q36 shared-constant rule).
    */
  private def q211Sql(maxLen: Int = 16): String = {
    val unitVals = graft.pipeline.Bpe.WordpieceUnits.map(u => s"('$u')").mkString(", ")
    val unitLens = graft.pipeline.Bpe.WordpieceUnits.map(_.length).distinct.sorted
    val rounds = (1 to maxLen).map { j =>
      val lanes = Seq(
        s"""  SELECT word, cost + ${graft.pipeline.Bpe.ViterbiCharCost} AS cost, ways
           |  FROM dp${j - 1} WHERE length(word) >= $j""".stripMargin) ++
        unitLens.filter(_ <= j).map { l =>
          s"""  SELECT d.word, d.cost + ${graft.pipeline.Bpe.viterbiUnitCost(l)} AS cost, d.ways
             |  FROM dp${j - l} d JOIN units u ON length(u.u) = $l
             |    AND u.u = substring(d.word, ${j - l + 1}, $l)
             |  WHERE length(d.word) >= $j""".stripMargin
        }
      s"""cand$j AS MATERIALIZED (
         |${lanes.mkString("\n  UNION ALL\n")}
         |), dpm$j AS (SELECT word, min(cost) AS cost FROM cand$j GROUP BY word),
         |dp$j AS MATERIALIZED (
         |  SELECT c.word, m.cost, CAST(sum(c.ways) AS BIGINT) AS ways
         |  FROM cand$j c JOIN dpm$j m ON m.word = c.word AND m.cost = c.cost
         |  GROUP BY c.word, m.cost
         |)""".stripMargin
    }.mkString(",\n")
    val finals = (1 to maxLen).map(j =>
      s"  SELECT word, cost, ways FROM dp$j WHERE length(word) = $j")
      .mkString("\n  UNION ALL\n")
    s"""WITH words AS MATERIALIZED (
       |  SELECT word, CAST(count(*) AS BIGINT) AS n_occ
       |  FROM (SELECT unnest(list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
       |    x -> x <> '')) AS word FROM documents) t0
       |  WHERE length(word) BETWEEN 1 AND $maxLen
       |  GROUP BY word),
       |units(u) AS (VALUES $unitVals),
       |dp0 AS MATERIALIZED (
       |  SELECT word, CAST(0 AS BIGINT) AS cost, CAST(1 AS BIGINT) AS ways FROM words),
       |$rounds,
       |fin AS (
       |$finals
       |)
       |SELECT w.word, w.n_occ, CAST(length(w.word) AS BIGINT) AS len,
       |  f.cost AS min_cost, f.ways AS n_best
       |FROM words w JOIN fin f ON f.word = w.word""".stripMargin
  }

  /** DuckDB twin of q89: same synthesized three-block pages, same
    * newline segmentation (string_split on chr(10) == Spark split
    * keeping trailing empties), same RE2 tag-strip (DuckDB needs the
    * explicit 'g' flag — Spark regexp_replace is global by default)
    * and anchor-concat length, same integer density verdict; the
    * ordered rebuild's ORDER BY idx is unique per url (the q67 rule —
    * urls embed doc_id, so no two blocks share (url, idx)).
    */
  private def q89Sql(densityBp: Int = 5000, minChars: Int = 10): String =
    s"""WITH pages AS (
       |  SELECT 'https://' || source || '.example.com/p/' || CAST(doc_id AS VARCHAR) AS url,
       |    '<div><a href="/">home</a> <a href="/about">about us</a></div>' || chr(10) ||
       |    '<p>' || text || '</p>' || chr(10) ||
       |    '<p>see <a href="/s">' || source || '</a> for more</p>' AS html
       |  FROM documents
       |), blk AS (
       |  SELECT url, CAST(i AS BIGINT) AS idx, parts[i + 1] AS block
       |  FROM (SELECT url, string_split(html, chr(10)) AS parts FROM pages),
       |       unnest(range(0, len(parts))) t(i)
       |), cls AS (
       |  SELECT url, idx,
       |    regexp_replace(block, '<[^>]*>', '', 'g') AS txt,
       |    CAST(len(array_to_string(regexp_extract_all(block, '>([^<]*)</a>', 1), '')) AS BIGINT) AS anchor_chars
       |  FROM blk
       |), v AS (
       |  SELECT url, idx, txt,
       |    CASE WHEN anchor_chars * 10000 // greatest(len(txt), 1) >= $densityBp
       |           OR len(txt) < $minChars THEN 1 ELSE 0 END AS boiler
       |  FROM cls
       |)
       |SELECT url, CAST(count(*) AS BIGINT) AS n_blocks,
       |  CAST(sum(boiler) AS BIGINT) AS n_boiler,
       |  coalesce(string_agg(CASE WHEN boiler = 0 THEN txt END, ' ' ORDER BY idx), '') AS content
       |FROM v GROUP BY url""".stripMargin

  /** DuckDB twin of q88: same banner augmentation, same width-word
    * line decomposition as q77, per-(source, line) distinct-doc
    * census, integer frequency verdict, remove-all + ordered rebuild
    * (unique line_idx keeps string_agg deterministic — the q77 rule).
    * `ln` is consumed by census/rm/kept → AS MATERIALIZED.
    */
  private def q88Sql(width: Int = 4, thrBp: Int = 2500, minDocs: Int = 2): String = {
    val w1 = width - 1
    s"""WITH aug AS (
       |  SELECT doc_id, source,
       |    CASE WHEN doc_id % 3 = 0 THEN 'subscribe to our newsletter ' || text ELSE text END AS text
       |  FROM documents
       |), base AS (
       |  SELECT doc_id, source, $wordsSql AS words
       |  FROM aug
       |), ln AS MATERIALIZED (
       |  SELECT doc_id, source, CAST(i AS BIGINT) AS line_idx,
       |    array_to_string(words[(i*$width+1):(i*$width+$width)], ' ') AS line
       |  FROM base, unnest(range(0, (len(words) + $w1) // $width)) t(i)
       |), census AS (
       |  SELECT source, md5(line) AS h, count(DISTINCT doc_id) AS n_with
       |  FROM ln GROUP BY 1, 2
       |), srcdocs AS (SELECT source, count(*) AS n_docs FROM base GROUP BY 1),
       |tmpl AS (
       |  SELECT census.source, h FROM census JOIN srcdocs USING (source)
       |  WHERE n_with >= $minDocs AND n_with * 10000 >= $thrBp * n_docs
       |), rm AS MATERIALIZED (
       |  SELECT ln.doc_id, ln.line_idx
       |  FROM ln JOIN tmpl ON ln.source = tmpl.source AND md5(ln.line) = tmpl.h
       |), kept AS (
       |  SELECT ln.doc_id, string_agg(ln.line, ' ' ORDER BY ln.line_idx) AS txt
       |  FROM ln LEFT JOIN rm ON ln.doc_id = rm.doc_id AND ln.line_idx = rm.line_idx
       |  WHERE rm.doc_id IS NULL GROUP BY ln.doc_id
       |), rmc AS (SELECT doc_id, count(*) AS n_rm FROM rm GROUP BY doc_id),
       |stats AS (
       |  SELECT doc_id, source, CAST((len(words) + $w1) // $width AS BIGINT) AS n_lines FROM base
       |)
       |SELECT s.doc_id, s.source, s.n_lines,
       |  CAST(coalesce(n_rm, 0) AS BIGINT) AS n_removed,
       |  coalesce(txt, '') AS text_clean
       |FROM stats s LEFT JOIN kept ON s.doc_id = kept.doc_id
       |LEFT JOIN rmc ON s.doc_id = rmc.doc_id""".stripMargin
  }

  /** DuckDB twin of q79: same (term, doc) tf rollup, same doc-id
    * blocks, ordered list() + list_transform gap encode vs Spark's
    * sorted-struct collect — `//` == `div` on non-negative doc ids;
    * the unique doc_id within a (term, block) group makes the ordered
    * aggregation deterministic in both engines.
    */
  private def q79Sql(blockSize: Int = 128): String =
    s"""WITH tf AS (
       |  SELECT w AS term, doc_id, count(*) AS tf
       |  FROM (
       |    SELECT doc_id, unnest($wordsSql) AS w
       |    FROM documents
       |  ) GROUP BY w, doc_id
       |), seg AS (
       |  SELECT term, doc_id // $blockSize AS block,
       |    list(doc_id ORDER BY doc_id) AS ds,
       |    list(tf ORDER BY doc_id) AS tfl
       |  FROM tf GROUP BY term, doc_id // $blockSize
       |)
       |SELECT term,
       |  CAST(block AS BIGINT) AS block,
       |  CAST(len(ds) AS BIGINT) AS df_block,
       |  CAST(ds[1] AS BIGINT) AS first_doc,
       |  array_to_string(list_transform(range(2, len(ds) + 1), j -> ds[j] - ds[j-1]), ',') AS gaps,
       |  array_to_string(tfl, ',') AS tfs
       |FROM seg""".stripMargin

  /** DuckDB twin of q78: same md5('ps|'·doc_id) hex-nibble uniform
    * (the q30 ascii decode), same 1 + distinct-word weight, same
    * integer priority `u·scale // weight` (non-negative operands:
    * `//` == `div`), same (priority, doc_id) top-k — doc_id unique,
    * so the boundary row is deterministic in both engines.
    */
  private def q78Sql(k: Int = 100, scale: Long = 1L << 20): String = {
    def nib(i: Int) =
      s"(CASE WHEN substring(md5('ps|' || CAST(doc_id AS VARCHAR)), $i, 1) <= '9' " +
        s"THEN ascii(substring(md5('ps|' || CAST(doc_id AS VARCHAR)), $i, 1)) - 48 " +
        s"ELSE ascii(substring(md5('ps|' || CAST(doc_id AS VARCHAR)), $i, 1)) - 87 END)"
    val u = (1 to 6).map(i => s"CAST(${nib(i)} AS BIGINT) * ${1L << (4 * (6 - i))}").mkString(" + ")
    s"""WITH b AS (
       |  SELECT doc_id,
       |    CAST(len(list_distinct($wordsSql)) + 1 AS BIGINT) AS weight,
       |    CAST($u AS BIGINT) AS u
       |  FROM documents
       |)
       |SELECT doc_id, weight, u,
       |  CAST(u * $scale // weight AS BIGINT) AS priority
       |FROM b ORDER BY priority, doc_id LIMIT $k""".stripMargin
  }

  /** DuckDB twin of q74: the same funnel assembled from the SAME stage
    * SQL (q42Sql / q31Sql / minhashLshSql parameterized over the
    * clone-augmented corpus, q8's fingerprint, q10's quality scalar).
    * Multi-referenced CTEs are MATERIALIZED (the q71 lesson).
    */
  private def q74Sql(contamBpMax: Long = 150L, cloneModulus: Int = 11,
                     evalModulus: Int = 97): String =
    s"""WITH aug AS MATERIALIZED (
       |  SELECT doc_id, text, lang FROM documents
       |  UNION ALL
       |  SELECT doc_id + 1000000 AS doc_id, text, lang FROM documents WHERE doc_id % $cloneModulus = 0
       |),
       |qf AS (SELECT doc_id, flags FROM (${q42Sql("aug")}) x),
       |dc AS (SELECT doc_id, contam_bp FROM (${q31Sql("aug")}) x),
       |s0 AS MATERIALIZED (
       |  SELECT a.doc_id, a.text,
       |    CASE WHEN a.doc_id % $evalModulus = 0 THEN 'eval_heldout'
       |         WHEN a.lang <> 'en' THEN 'langid'
       |         WHEN qf.flags <> 0 THEN 'quality'
       |         WHEN dc.contam_bp >= $contamBpMax THEN 'decontam' END AS early
       |  FROM aug a JOIN qf USING (doc_id) LEFT JOIN dc USING (doc_id)
       |),
       |s3 AS MATERIALIZED (
       |  SELECT doc_id, text, $fingerprintSql AS fp
       |  FROM s0 WHERE early IS NULL
       |),
       |keepers AS (SELECT fp, min(doc_id) AS keep_id FROM s3 GROUP BY fp),
       |s4 AS MATERIALIZED (
       |  SELECT s3.doc_id, s3.text, s3.doc_id <> k.keep_id AS exact_cut
       |  FROM s3 JOIN keepers k USING (fp)
       |),
       |surv AS MATERIALIZED (SELECT doc_id, text FROM s4 WHERE NOT exact_cut),
       |pairs AS (SELECT a, b FROM (${minhashLshSql(width = 3, threshold = 0.5, src = "surv")}) x),
       |q AS MATERIALIZED (SELECT doc_id, $q10QualityExpr AS q FROM surv),
       |losers AS (
       |  SELECT DISTINCT CASE WHEN qa.q < qb.q OR (qa.q = qb.q AND p.a > p.b) THEN p.a ELSE p.b END AS doc_id
       |  FROM pairs p JOIN q qa ON qa.doc_id = p.a JOIN q qb ON qb.doc_id = p.b
       |)
       |SELECT s0.doc_id,
       |  coalesce(s0.early,
       |    CASE WHEN s4.exact_cut THEN 'exact_dup' END,
       |    CASE WHEN l.doc_id IS NOT NULL THEN 'near_dup' END,
       |    'kept') AS stage
       |FROM s0 LEFT JOIN s4 USING (doc_id) LEFT JOIN losers l USING (doc_id)""".stripMargin

  /** DuckDB twin of q73: the NAIVE per-domain window rank — the Spark
    * side's bucketed two-phase rank must cancel to exactly this (the
    * q63 rule). Same q36/q37 domain ladder over the same synthetic
    * frontier, md5 of the RAW url as the fair order.
    */
  private def q73Sql(delayMs: Long = 250L): String = {
    val sch = Curation.UrlSchemeRe
    val hst = Curation.UrlHostRe
    s"""WITH aug AS (SELECT DISTINCT $syntheticUrlSql AS url FROM documents),
       |c AS (
       |  SELECT url, lower(regexp_extract(url, '$sch', 1)) AS scheme,
       |         lower(regexp_extract(url, '$hst', 1)) AS hostport
       |  FROM aug WHERE lower(regexp_extract(url, '$hst', 1)) <> ''
       |), d AS (
       |  SELECT url,
       |    regexp_replace(${Curation.hostSql("scheme", "hostport")}, '^www\\.', '') AS domain
       |  FROM c
       |)
       |SELECT url, domain,
       |  CAST(row_number() OVER (PARTITION BY domain ORDER BY md5(url), url) - 1 AS BIGINT) AS slot,
       |  CAST((row_number() OVER (PARTITION BY domain ORDER BY md5(url), url) - 1) * $delayMs AS BIGINT) AS sched_ms
       |FROM d""".stripMargin
  }

  /** DuckDB twin of q72: same tokenizer, generate_subscripts positions
    * (1-based, matching the Spark side's posexplode+1), per-term
    * position sets joined at the shifted anchor position.
    */
  private def q72Sql(phrase: Seq[String] = Seq("table", "hash")): String = {
    val terms = phrase.zipWithIndex.map { case (w, off) =>
      s"m$off AS (SELECT doc_id, i${if (off > 0) s" - $off" else ""} AS i FROM p WHERE tok = '$w')"
    }.mkString(",\n")
    val joins = (1 until phrase.size).map(o => s"JOIN m$o USING (doc_id, i)").mkString(" ")
    s"""WITH t AS (
       |  SELECT doc_id, $wordsSql AS w
       |  FROM documents
       |),
       |p AS (SELECT doc_id, generate_subscripts(w, 1) AS i, unnest(w) AS tok FROM t),
       |$terms
       |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_matches, CAST(min(i) AS BIGINT) AS first_pos
       |FROM m0 $joins GROUP BY doc_id""".stripMargin
  }

  /** DuckDB twin of q45 (DSIR scoring): same md5-prefix feature
    * hashing, same Laplace-smoothed integer ratio, same per-doc rollup.
    */
  private def q45Sql(targetModulus: Int = 37, hexLen: Int = 3): String =
    s"""WITH base AS (
       |  SELECT doc_id, $wordsSql AS words,
       |    doc_id % $targetModulus = 0 AS is_t
       |  FROM documents
       |), occ AS (
       |  SELECT doc_id, is_t, unnest(list_concat(
       |    list_transform(words, x -> substr(md5(x), 1, $hexLen)),
       |    CASE WHEN len(words) >= 2
       |      THEN list_transform(range(1, len(words)), i -> substr(md5(words[i] || ' ' || words[i+1]), 1, $hexLen))
       |      ELSE CAST([] AS VARCHAR[]) END)) AS b
       |  FROM base
       |), buckets AS (
       |  SELECT b, sum(CASE WHEN is_t THEN 1 ELSE 0 END) AS ct,
       |    sum(CASE WHEN is_t THEN 0 ELSE 1 END) AS cr
       |  FROM occ GROUP BY b
       |), ratio AS (
       |  SELECT b, (ct + 1) * 1000000 // (cr + 1) AS r FROM buckets
       |), perdoc AS (
       |  SELECT doc_id, count(*) AS n_feats, sum(r) AS score_sum
       |  FROM occ JOIN ratio USING (b) WHERE NOT is_t GROUP BY doc_id
       |)
       |SELECT d.doc_id,
       |  CAST(coalesce(n_feats, 0) AS BIGINT) AS n_feats,
       |  CAST(coalesce(score_sum, 0) AS BIGINT) AS score_sum,
       |  CAST(CASE WHEN coalesce(n_feats, 0) > 0 THEN score_sum // n_feats ELSE 0 END AS BIGINT) AS mean_ratio_x1e6
       |FROM documents d LEFT JOIN perdoc USING (doc_id)
       |WHERE d.doc_id % $targetModulus <> 0""".stripMargin

  /** DuckDB twin of q47 (BM25): same tf rollup, same df/dl windows,
    * same integer-rational idf and length normalization. Both engines
    * parse `a div b * c div d` left-to-right, so the truncation points
    * line up exactly.
    */
  private def q47Sql(qModulus: Int = 41, k: Int = 5): String =
    s"""WITH corpus AS (
       |  SELECT doc_id, $wordsSql AS words
       |  FROM documents WHERE doc_id % $qModulus <> 0
       |), occ AS (
       |  SELECT doc_id, unnest(words) AS term FROM corpus
       |), tf AS (
       |  SELECT doc_id, term, count(*) AS tf FROM occ GROUP BY doc_id, term
       |), st AS (
       |  SELECT *, sum(tf) OVER (PARTITION BY doc_id) AS dl,
       |    count(*) OVER (PARTITION BY term) AS df
       |  FROM tf
       |), scal AS (
       |  SELECT count(DISTINCT doc_id) AS n_docs, sum(tf) AS total_tokens FROM tf
       |), qt AS (
       |  SELECT DISTINCT doc_id AS qid, unnest($wordsSql) AS term
       |  FROM documents WHERE doc_id % $qModulus = 0
       |), scored AS (
       |  SELECT qid, st.doc_id, count(*) AS n_terms,
       |    sum((2 * (n_docs - df) + 1) * 10000 // (2 * df + 1)
       |        * tf * 22 * total_tokens
       |        // (10 * total_tokens * tf + 3 * total_tokens + 9 * dl * n_docs)) AS score
       |  FROM st JOIN qt USING (term) CROSS JOIN scal
       |  GROUP BY qid, st.doc_id
       |)
       |SELECT qid, doc_id, CAST(n_terms AS BIGINT) AS n_terms,
       |  CAST(score AS BIGINT) AS score, CAST(rank AS BIGINT) AS rank
       |FROM (SELECT *, row_number() OVER (PARTITION BY qid ORDER BY score DESC, doc_id) AS rank FROM scored)
       |WHERE rank <= $k""".stripMargin

  /** DuckDB twin of q51 (count-min): same md5-prefix row-keyed
    * buckets, same tf-first sketch accumulation, same min-over-rows
    * estimate and (cm_est DESC, term) top-k total order.
    */
  private def q51Sql(depth: Int = 4, hexLen: Int = 3, k: Int = 10): String =
    s"""WITH occ AS (
       |  SELECT unnest($wordsSql) AS term
       |  FROM documents
       |), tf AS (
       |  SELECT term, count(*) AS cnt FROM occ GROUP BY term
       |), expanded AS (
       |  SELECT term, cnt, r, substr(md5(CAST(r AS VARCHAR) || ':' || term), 1, $hexLen) AS bucket
       |  FROM tf, range(0, $depth) t(r)
       |), sketch AS (
       |  SELECT r, bucket, sum(cnt) AS bcnt FROM expanded GROUP BY r, bucket
       |), est AS (
       |  SELECT term, max(cnt) AS exact, min(bcnt) AS cm_est
       |  FROM expanded JOIN sketch USING (r, bucket) GROUP BY term
       |)
       |SELECT term, CAST(exact AS BIGINT) AS exact, CAST(cm_est AS BIGINT) AS cm_est,
       |  CAST(cm_est - exact AS BIGINT) AS overestimate, CAST(rank AS BIGINT) AS rank
       |FROM (SELECT *, row_number() OVER (ORDER BY cm_est DESC, term) AS rank FROM est)
       |WHERE rank <= $k""".stripMargin

  /** DuckDB twin of q55: same whitespace token counts (the q9 twin
    * expression), same floor(sqrt) weight — IEEE sqrt of an exactly-
    * representable bigint is identical in both engines — same ppm div.
    */
  private def q55Sql: String =
    s"""WITH s AS (
       |  SELECT source, count(*) AS n_docs,
       |    sum($tokenCountSql) AS n_tokens
       |  FROM documents GROUP BY source
       |), w AS (
       |  SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS w FROM s
       |)
       |SELECT source, CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST(n_tokens AS BIGINT) AS n_tokens, w,
       |  CAST(w * 1000000 // sum(w) OVER () AS BIGINT) AS share_ppm
       |FROM w""".stripMargin

  /** DuckDB twin of q57: same integer chunk-count ceil, same 1-based
    * list slice bounds, same single-space re-join.
    */
  private def q57Sql(window: Int = 128, stride: Int = 96): String =
    s"""WITH base AS (
       |  SELECT doc_id, $wordsSql AS words
       |  FROM documents
       |), sized AS (
       |  SELECT doc_id, words, len(words) AS n FROM base WHERE len(words) > 0
       |), idx AS (
       |  SELECT doc_id, words, n,
       |    unnest(range(0, CASE WHEN n <= $window THEN 1
       |                         ELSE (n - $window + $stride - 1) // $stride + 1 END)) AS chunk_idx
       |  FROM sized
       |)
       |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |  CAST(chunk_idx * $stride AS BIGINT) AS start_tok,
       |  CAST(least(chunk_idx * $stride + $window, n) AS BIGINT) AS end_tok,
       |  CAST(least(chunk_idx * $stride + $window, n) - chunk_idx * $stride AS BIGINT) AS n_tokens,
       |  array_to_string(list_slice(words, chunk_idx * $stride + 1,
       |    least(chunk_idx * $stride + $window, n)), ' ') AS chunk_text
       |FROM idx""".stripMargin

  /** DuckDB twin of q67: q55's mix CTE verbatim, the same md5 shuffle
    * key, the same source-partitioned running sum (unique ordering key
    * ⇒ RANGE default == ROWS in both engines), the same integer quota.
    */
  private def q67Sql(budget: Long = 12000L): String =
    s"""WITH mix AS (${q55Sql}),
       |toks AS (
       |  SELECT source, doc_id,
       |    CAST($tokenCountSql AS BIGINT) AS n_tok,
       |    md5('bs|' || CAST(doc_id AS VARCHAR)) AS ord
       |  FROM documents
       |),
       |c AS (
       |  SELECT source, doc_id, n_tok,
       |    sum(n_tok) OVER (PARTITION BY source ORDER BY ord, doc_id) AS cum
       |  FROM toks
       |)
       |SELECT c.source, c.doc_id, c.n_tok, CAST(c.cum AS BIGINT) AS cum_tokens
       |FROM c JOIN mix USING (source)
       |WHERE c.cum <= share_ppm * $budget // 1000000""".stripMargin

  /** DuckDB twin of q62: same distinct word sets, same (cnt DESC, w)
    * vocabulary cut, same integer ppm ratio.
    */
  private def q62Sql(vocabTop: Int = 64, minPair: Int = 5): String =
    s"""WITH toks AS (
       |  SELECT doc_id, unnest(list_distinct($wordsSql)) AS w
       |  FROM documents
       |),
       |cw AS (SELECT w, count(*) AS cnt FROM toks GROUP BY w),
       |vocab AS (SELECT w, cnt FROM cw ORDER BY cnt DESC, w LIMIT $vocabTop),
       |nd AS (SELECT count(DISTINCT doc_id) AS n_docs FROM toks),
       |tv AS (SELECT t.doc_id, t.w FROM toks t JOIN vocab v USING (w)),
       |pr AS (
       |  SELECT l.w AS wa, r.w AS wb, count(*) AS n_ab
       |  FROM tv l JOIN tv r ON l.doc_id = r.doc_id AND l.w < r.w
       |  GROUP BY 1, 2 HAVING count(*) >= $minPair
       |)
       |SELECT wa, wb, CAST(n_ab AS BIGINT) AS n_ab,
       |  CAST(va.cnt AS BIGINT) AS n_a, CAST(vb.cnt AS BIGINT) AS n_b,
       |  CAST(n_docs AS BIGINT) AS n_docs,
       |  CAST(n_ab * n_docs * 1000000 // (va.cnt * vb.cnt) AS BIGINT) AS pmi_ratio_ppm
       |FROM pr JOIN vocab va ON va.w = pr.wa JOIN vocab vb ON vb.w = pr.wb, nd""".stripMargin

  val queries: Seq[Query] = Seq(
    Query("q9_token_stats", (s, d) => {
      val docs = t(s, d, "documents")
      docs.select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("tokens"),
        TextOps.subwordCount(col("text"), TextOps.subwordPattern).as("subwords"))
    },
      Some(s"""SELECT doc_id,
        |  $tokenCountSql AS tokens,
        |  ${subwordCountSql(TextOps.subwordPattern)} AS subwords
        |FROM documents""".stripMargin)),
    Query("q10_quality", (s, d) => {
      t(s, d, "documents").select(col("doc_id"), TextOps.qualityScore(col("text")).as("quality"))
    },
      Some(s"SELECT doc_id, $q10QualityExpr AS quality\nFROM documents")),
    Query("q11_langid", (s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"), TextOps.langId(col("text")).as("lang_id"))
    },
      Some("""SELECT doc_id,
        |  CASE WHEN ((CASE WHEN ' ' || lower(text) || ' ' LIKE '% the %' THEN 1 ELSE 0 END)
        |           + (CASE WHEN ' ' || lower(text) || ' ' LIKE '% and %' THEN 1 ELSE 0 END)
        |           + (CASE WHEN ' ' || lower(text) || ' ' LIKE '% with %' THEN 1 ELSE 0 END)
        |           + (CASE WHEN ' ' || lower(text) || ' ' LIKE '% this %' THEN 1 ELSE 0 END)) >= 2 THEN 'en'
        |       WHEN ((CASE WHEN ' ' || lower(text) || ' ' LIKE '% der %' THEN 1 ELSE 0 END)
        |           + (CASE WHEN ' ' || lower(text) || ' ' LIKE '% und %' THEN 1 ELSE 0 END)
        |           + (CASE WHEN ' ' || lower(text) || ' ' LIKE '% nicht %' THEN 1 ELSE 0 END)
        |           + (CASE WHEN ' ' || lower(text) || ' ' LIKE '% das %' THEN 1 ELSE 0 END)) >= 2 THEN 'de'
        |       WHEN ((CASE WHEN ' ' || lower(text) || ' ' LIKE '% le %' THEN 1 ELSE 0 END)
        |           + (CASE WHEN ' ' || lower(text) || ' ' LIKE '% et %' THEN 1 ELSE 0 END)
        |           + (CASE WHEN ' ' || lower(text) || ' ' LIKE '% les %' THEN 1 ELSE 0 END)
        |           + (CASE WHEN ' ' || lower(text) || ' ' LIKE '% des %' THEN 1 ELSE 0 END)) >= 2 THEN 'fr'
        |       WHEN ((CASE WHEN ' ' || lower(text) || ' ' LIKE '% el %' THEN 1 ELSE 0 END)
        |           + (CASE WHEN ' ' || lower(text) || ' ' LIKE '% que %' THEN 1 ELSE 0 END)
        |           + (CASE WHEN ' ' || lower(text) || ' ' LIKE '% los %' THEN 1 ELSE 0 END)
        |           + (CASE WHEN ' ' || lower(text) || ' ' LIKE '% una %' THEN 1 ELSE 0 END)) >= 2 THEN 'es'
        |       ELSE 'und' END AS lang_id
        |FROM documents""".stripMargin)),
    Query("q12_fingerprint", (s, d) => {
      t(s, d, "documents").select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
    },
      Some(s"""SELECT doc_id, $fingerprintSql AS fp FROM documents""")),
    Query("q24_bpe_pretoken", (s, d) =>
      t(s, d, "documents").select(col("doc_id"), TextOps.bpePretokenCount(col("text")).as("bpe_tokens")),
      // whitespace spelled as an explicit class (java \s includes \x0B,
      // RE2 \s does not); coalesce matches the Spark side's NULL → 0
      Some("""SELECT doc_id,
        |  CAST(coalesce(len(regexp_extract_all(text, '(''s|''t|''re|''ve|''m|''ll|''d| ?\p{L}+| ?\p{N}+| ?[^ \t\n\x0B\f\r\p{L}\p{N}]+|[ \t\n\x0B\f\r]+)')), 0) AS BIGINT) AS bpe_tokens
        |FROM documents""".stripMargin)),
    // trained-vocab subword count: the shipped corpus-trained BPE merges
    // resource drives a greedy longest-match segmenter (the oracle-
    // expressible twin of true merge-order BPE encoding, x_bpe_encode)
    Query("q25_bpe_vocab_subwords", (s, d) =>
      t(s, d, "documents").select(col("doc_id"), TextOps.subwordCount(col("text"), Bpe.trainedVocabPattern).as("bpe_subwords")),
      // the alternation is generated from the same checked-in merges
      // resource the Spark side loads — DuckDB segments independently
      Some(s"""SELECT doc_id,
        |  ${subwordCountSql(Bpe.trainedVocabPattern)} AS bpe_subwords
        |FROM documents""".stripMargin)),
    // corpus-curation primitives (Gopher-style repetition filter stats;
    // deterministic md5-bucket stratified source downsampling) — both
    // integer/md5-exact, DuckDB-oracle-checked
    Query("q29_repetition", (s, d) => Curation.repetitionStats(t(s, d, "documents")),
      // DuckDB twin of q29: word-level repetition statistics in integer
      // basis points (dup-word, top-word and top-bigram shares), integer
      // `//` division throughout.
      Some(s"""WITH base AS (
        |  SELECT doc_id, $wordsSql AS words
        |  FROM documents
        |), counts AS (
        |  SELECT doc_id, len(words) AS nw, len(list_distinct(words)) AS dw FROM base
        |), we AS (SELECT doc_id, unnest(words) AS w FROM base),
        |tw AS (SELECT doc_id, max(n) AS mxw, sum(n) AS totw FROM (SELECT doc_id, w, count(*) AS n FROM we GROUP BY doc_id, w) GROUP BY doc_id),
        |bge AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(words)), i -> words[i] || ' ' || words[i+1])) AS bg
        |  FROM base WHERE len(words) >= 2
        |),
        |tb AS (SELECT doc_id, max(n) AS mxb, sum(n) AS totb FROM (SELECT doc_id, bg, count(*) AS n FROM bge GROUP BY doc_id, bg) GROUP BY doc_id)
        |SELECT c.doc_id,
        |  CAST(CASE WHEN nw > 0 THEN (nw - dw) * 10000 // nw ELSE 0 END AS BIGINT) AS dup_word_bp,
        |  CAST(coalesce(mxw * 10000 // totw, 0) AS BIGINT) AS top_word_bp,
        |  CAST(coalesce(mxb * 10000 // totb, 0) AS BIGINT) AS top_bigram_bp
        |FROM counts c LEFT JOIN tw USING (doc_id) LEFT JOIN tb USING (doc_id)""".stripMargin)),
    Query("q30_stratified_sample", (s, d) =>
      Curation.stratifiedSample(t(s, d, "documents"), q30Quotas),
      // DuckDB twin of q30: md5-nibble bucket in [0,100) vs the per-source
      // quota CASE generated from the SAME Scala map the Spark side uses.
      Some {
        def nib(i: Int) =
          s"(CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), $i, 1) <= '9' " +
            s"THEN ascii(substring(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 48 " +
            s"ELSE ascii(substring(md5(CAST(doc_id AS VARCHAR)), $i, 1)) - 87 END)"
        val cases = q30Quotas.toSeq.sortBy(_._1)
          .map { case (s, q) => s"WHEN '$s' THEN $q" }.mkString(" ")
        s"""WITH b AS (
           |  SELECT doc_id, source,
           |    CAST((${nib(1)} * 16 + ${nib(2)}) % 100 AS BIGINT) AS bucket
           |  FROM documents
           |)
           |SELECT doc_id, source, bucket FROM b
           |WHERE bucket < CASE source $cases ELSE 100 END""".stripMargin
      }),
    // benchmark decontamination: distinct-trigram overlap of each
    // training document against the held-out eval slice (doc_id % 97),
    // integer basis points, eval grams broadcast — oracle-checked
    Query("q31_decontam", (s, d) => Curation.decontaminate(t(s, d, "documents")),
      Some(q31Sql())),
    // canonical representative per near-dup cluster: q26's components +
    // q10's integer quality, highest-quality member wins (min doc_id
    // tiebreak) — the keep-one-per-duplicate-group step, oracle-checked
    Query("q32_cluster_rep", (s, d) => Curation.clusterRepresentatives(t(s, d, "documents")),
      // DuckDB twin of q32: q26's recursive-CTE components + the q10
      // quality scalar; representative = min doc_id among max-quality
      // members, same deterministic tiebreak as the Spark window.
      Some(s"""WITH RECURSIVE pairs AS (SELECT a, b FROM (${minhashLshSql(width = 3, threshold = 0.5)}) q17),
        |edges AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
        |$reachSql,
        |cc AS (SELECT node, min(lab) AS component FROM reach GROUP BY node),
        |q AS (SELECT doc_id, $q10QualityExpr AS q FROM documents),
        |j AS (SELECT cc.node, cc.component, q.q FROM cc JOIN q ON q.doc_id = cc.node),
        |w AS (SELECT j.*,
        |        count(*) OVER (PARTITION BY component) AS n_members,
        |        max(q) OVER (PARTITION BY component) AS best_quality
        |      FROM j)
        |SELECT component, min(node) AS rep_doc,
        |  CAST(n_members AS BIGINT) AS n_members,
        |  CAST(best_quality AS BIGINT) AS best_quality
        |FROM w WHERE q = best_quality GROUP BY component, n_members, best_quality""".stripMargin)),
    // PII masking over text augmented with constructed contact strings
    // (pure function of doc_id, mirrored in the oracle) so the redaction
    // logic itself — not just identity text — is value-exact-checked
    Query("q33_pii_mask", (s, d) => {
      val aug = t(s, d, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@mail.example.com or +1-555-01"),
          pmod(col("doc_id"), lit(90)) + 10, lit(" from 10.0."),
          pmod(col("doc_id"), lit(256)), lit(".7")).as("text"))
      Curation.maskPii(aug)
    },
      // DuckDB twin of q33: identical augmented text, identical
      // RE2-compatible patterns (shared constants), identical masking
      // order — counts taken at the same intermediate stages.
      Some {
        val e = Curation.EmailRe
        val i = Curation.Ipv4Re
        val p = Curation.PhoneRe
        s"""WITH aug AS (
          |  SELECT doc_id,
          |    text || ' contact user' || CAST(doc_id AS VARCHAR) || '@mail.example.com or +1-555-01'
          |      || CAST(doc_id % 90 + 10 AS VARCHAR) || ' from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' AS t0
          |  FROM documents
          |), s1 AS (SELECT doc_id, t0, regexp_replace(t0, '$e', '<EMAIL>', 'g') AS t1 FROM aug),
          |s2 AS (SELECT doc_id, t0, t1, regexp_replace(t1, '$i', '<IP>', 'g') AS t2 FROM s1)
          |SELECT doc_id,
          |  CAST(len(regexp_extract_all(t0, '$e')) AS BIGINT) AS n_emails,
          |  CAST(len(regexp_extract_all(t1, '$i')) AS BIGINT) AS n_ips,
          |  CAST(len(regexp_extract_all(t2, '$p')) AS BIGINT) AS n_phones,
          |  regexp_replace(t2, '$p', '<PHONE>', 'g') AS masked
          |FROM s2""".stripMargin
      }),
    // text normalization (NFC + control strip + whitespace collapse)
    // over text augmented with a decomposed accent, a BEL control and
    // messy whitespace — so the normalization logic itself, not just
    // identity text, is value-exact-checked (same pattern as q33)
    Query("q35_normalize", (s, d) => {
      val aug = t(s, d, "documents").select(col("doc_id"),
        concat(col("text"), lit(" Cafe\u0301 \u0007beep\tx  y ")).as("text"))
      Curation.normalizeText(aug)
    },
      // DuckDB twin of q35: identical augmentation (decomposed accent,
      // BEL, tab, doubled spaces), `nfc_normalize` for the NFC stage, and
      // the same RE2-compatible control/whitespace classes.
      Some("""WITH aug AS (
        |  SELECT doc_id,
        |    text || ' Cafe' || chr(769) || ' ' || chr(7) || 'beep' || chr(9) || 'x  y ' AS text
        |  FROM documents
        |), n AS (
        |  SELECT doc_id, text,
        |    trim(regexp_replace(regexp_replace(nfc_normalize(text),
        |      '[\x00-\x08\x0B\x0C\x0E-\x1F\x7F]', '', 'g'), '[ \t\n\r]+', ' ', 'g')) AS norm_text
        |  FROM aug
        |)
        |SELECT doc_id, norm_text,
        |  CAST(CASE WHEN norm_text <> text THEN 1 ELSE 0 END AS BIGINT) AS changed,
        |  CAST(length(text) AS BIGINT) AS chars_before,
        |  CAST(length(norm_text) AS BIGINT) AS chars_after
        |FROM n""".stripMargin)),
    // URL canonicalization over deterministically constructed messy
    // URLs (mixed-case scheme/host, default + non-default ports, empty
    // paths, fragments, queries — three variants by doc_id % 3) so all
    // canonicalization branches are value-exact-checked
    Query("q36_url_canon", (s, d) => Curation.canonicalizeUrls(
      t(s, d, "documents").select(col("doc_id"), syntheticUrl.as("url"))),
      Some(q36Sql)),
    // per-domain rollup over the same constructed URLs: the stats that
    // drive domain quotas / blocklists — one map-side-combinable groupBy
    Query("q37_domain_stats", (s, d) => Curation.domainStats(
      t(s, d, "documents").select(col("doc_id"), syntheticUrl.as("url"), col("n_chars"))),
      // DuckDB twin of q37: group the q36 domains.
      Some(s"""WITH canon AS ($q36Sql)
         |SELECT c.domain, count(*) AS n_docs,
         |  CAST(sum(d.n_chars) AS BIGINT) AS sum_chars,
         |  min(c.doc_id) AS min_doc,
         |  CAST(sum(c.has_query) AS BIGINT) AS n_with_query
         |FROM canon c JOIN documents d USING (doc_id)
         |WHERE c.parsed = 1
         |GROUP BY c.domain""".stripMargin)),
    // exact duplicate-SPAN detection (substring-level dedup, Lee et al.
    // 2022): rolling word-window md5s, corpus-wide duplicated-window
    // count, per-doc gaps-and-islands merge into maximal spans —
    // integer coverage stats, oracle-checked end to end
    Query("q34_dup_spans", (s, d) => Curation.dupSpans(t(s, d, "documents")),
      Some(q34Sql())),
    // the CUT step of substring dedup: rewrite each doc's normalized
    // token stream with every duplicated span removed (q34 detects,
    // q38 cuts) — deterministic token-level rebuild, oracle-checked
    Query("q38_dedup_rewrite", (s, d) => Curation.dedupRewrite(t(s, d, "documents")),
      Some(q38Sql())),
    // sequence packing (concat-and-chunk): per-source-shard prefix sums
    // lay documents end-to-end (+1 EOS each) and cut fixed 512-token
    // training sequences — integer window arithmetic, oracle-checked
    Query("q39_pack_chunks", (s, d) => CorpusOps.packChunks(t(s, d, "documents")),
      Some(q39Sql())),
    // bigram-LM fluency: corpus-wide bigram frequencies (ONE window
    // shuffle over the md5'd occurrence stream) → per-doc mean frequency
    // + hapax share — the CCNet-style frequency-prior quality signal
    Query("q40_bigram_lm", (s, d) => CorpusOps.bigramLm(t(s, d, "documents")),
      // DuckDB twin of q40: same md5'd bigram stream, same corpus-wide
      // COUNT window, same integer mean/hapax arithmetic.
      Some(s"""WITH base AS (
        |  SELECT doc_id, $wordsSql AS words
        |  FROM documents
        |), occ AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(words)), i -> md5(words[i] || ' ' || words[i+1]))) AS h
        |  FROM base WHERE len(words) >= 2
        |), counted AS (
        |  SELECT doc_id, count(*) OVER (PARTITION BY h) AS cnt FROM occ
        |), perdoc AS (
        |  SELECT doc_id, count(*) AS nbg, sum(cnt) AS cnt_sum,
        |    sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS hapax
        |  FROM counted GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  CAST(coalesce(nbg, 0) AS BIGINT) AS n_bigrams,
        |  CAST(coalesce(cnt_sum, 0) AS BIGINT) AS cnt_sum,
        |  CAST(CASE WHEN coalesce(nbg, 0) > 0 THEN cnt_sum * 100 // nbg ELSE 0 END AS BIGINT) AS mean_cnt_x100,
        |  CAST(CASE WHEN coalesce(nbg, 0) > 0 THEN hapax * 10000 // nbg ELSE 0 END AS BIGINT) AS hapax_bp
        |FROM documents d LEFT JOIN perdoc USING (doc_id)""".stripMargin)),
    // unigram-LM surprisal in WHOLE BITS: floor(log2(N/cnt)) is exact
    // integer both engines (length(bin(N div cnt)) - 1) — the log-scale
    // perplexity-filter signal with zero FP in the oracle output
    Query("q70_surprisal_bits", (s, d) => CorpusOps.surprisalBits(t(s, d, "documents")),
      // DuckDB twin of q70: same unigram census, same exact integer
      // floor(log2) via length(bin(·)) − 1 — DuckDB's bin() and the JVM's
      // Long.toBinaryString both render positive integers without leading
      // zeros. n_total is HUGEINT under DuckDB's sum, so the quotient is
      // cast back to BIGINT before bin().
      Some(s"""WITH base AS (
        |  SELECT doc_id, $wordsSql AS words
        |  FROM documents
        |), occ AS (
        |  SELECT doc_id, unnest(words) AS w FROM base
        |), freq AS (
        |  SELECT w, count(*) AS cnt FROM occ GROUP BY w
        |), scal AS (
        |  SELECT sum(cnt) AS n_total FROM freq
        |), kw AS (
        |  SELECT w, CAST(length(bin(CAST(n_total // cnt AS BIGINT))) - 1 AS BIGINT) AS k
        |  FROM freq, scal
        |), tf AS (
        |  SELECT doc_id, w, count(*) AS c_dw FROM occ GROUP BY doc_id, w
        |), perdoc AS (
        |  SELECT doc_id, sum(c_dw) AS ntok, sum(c_dw * k) AS bits
        |  FROM tf JOIN kw USING (w) GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  CAST(coalesce(ntok, 0) AS BIGINT) AS n_tokens,
        |  CAST(coalesce(bits, 0) AS BIGINT) AS surprisal_bits,
        |  CAST(CASE WHEN coalesce(ntok, 0) > 0 THEN bits * 100 // ntok ELSE 0 END AS BIGINT) AS mean_centibits
        |FROM documents d LEFT JOIN perdoc USING (doc_id)""".stripMargin)),
    Query("q101_bigram_lm", (s, d) => CorpusOps.bigramLmBits(t(s, d, "documents")),
      // DuckDB twin of q101: same tokenization (q70's), bigrams via the
      // list `range` (empty when start > stop — the Spark side guards
      // with CASE because `sequence` DESCENDS there), same add-one
      // smoothed whole-bit conditional `floor(log2((c1+V) // (c2+1)))`
      // with the HUGEINT quotient cast to BIGINT before bin() (the q70
      // rule).
      Some(s"""WITH base AS (
        |  SELECT doc_id, $wordsSql AS words
        |  FROM documents
        |), bg AS (
        |  SELECT doc_id,
        |    unnest(list_transform(range(1, len(words)), i -> words[i] || ' ' || words[i + 1])) AS b
        |  FROM base
        |), c2 AS (
        |  SELECT b, count(*) AS c2 FROM bg WHERE doc_id % 2 = 0 GROUP BY b
        |), c1 AS (
        |  SELECT split_part(b, ' ', 1) AS w1, sum(c2) AS c1 FROM c2 GROUP BY 1
        |), voc AS (
        |  SELECT count(DISTINCT t) AS v
        |  FROM (SELECT unnest(words) AS t FROM base WHERE doc_id % 2 = 0)
        |), k AS (
        |  SELECT bg.doc_id,
        |    length(bin(CAST((coalesce(c1.c1, 0) + v) // (coalesce(c2.c2, 0) + 1) AS BIGINT))) - 1 AS k
        |  FROM bg
        |  LEFT JOIN c2 USING (b)
        |  LEFT JOIN c1 ON c1.w1 = split_part(bg.b, ' ', 1)
        |  CROSS JOIN voc
        |), perdoc AS (
        |  SELECT doc_id, count(*) AS nbg, sum(k) AS bits FROM k GROUP BY doc_id
        |)
        |SELECT d.doc_id,
        |  CAST(coalesce(nbg, 0) AS BIGINT) AS n_bigrams,
        |  CAST(coalesce(bits, 0) AS BIGINT) AS lm_bits,
        |  CAST(CASE WHEN coalesce(nbg, 0) > 0 THEN bits * 100 // nbg ELSE 0 END AS BIGINT) AS mean_centibits
        |FROM documents d LEFT JOIN perdoc USING (doc_id)""".stripMargin)),
    // rendezvous-hash shard assignment: stable output bucketing under
    // reshard — k -> k+1 moves only the new shard's ~1/(k+1) share
    // (hash-mod would move k/(k+1)); pure projection, no shuffle
    Query("q90_rendezvous_shards", (s, d) =>
      Curation.rendezvousShards(t(s, d, "documents")),
      Some(q90Sql())),
    // deterministic epoch shuffle: md5(seed:doc_id) ordering, first
    // hex char as the shard (STRING — the q45 rule), rank within
    // shard — the dataloader order/shard assignment, reproducible on
    // any cluster size because order is a pure function of the data
    Query("q114_epoch_shuffle", (s, d) =>
      CorpusOps.epochShuffle(t(s, d, "documents"), seed = "ep0", hexLen = 1),
      // DuckDB twin of q114 (epoch shuffle): same md5 key, same hex
      // STRING shard prefix, native window rank — (k, doc_id) is a
      // total order, so the rank is deterministic in both engines.
      Some("""WITH keyed AS (
        |  SELECT doc_id, md5('ep0:' || CAST(doc_id AS VARCHAR)) AS k FROM documents
        |)
        |SELECT doc_id, substring(k, 1, 1) AS shard,
        |       CAST(ROW_NUMBER() OVER (
        |         PARTITION BY substring(k, 1, 1) ORDER BY k, doc_id) AS BIGINT) AS pos
        |FROM keyed""".stripMargin)),
    // Pairwise ER evaluation without pair materialization: the
    // contingency-table identity turns cluster-level P/R into three
    // map-side-combinable counts — the predicted labels corrupt the
    // gold id%17 classes on the id%51==1 rows, so TP/FP/FN are all
    // nonzero at every SF; ppm ratios truncate (q62)
    Query("q173_er_metrics", (s, d) => {
      val docs = t(s, d, "documents")
      val gold = pmod(col("doc_id"), lit(17))
      val pred = when(pmod(col("doc_id"), lit(51)) === 1,
        pmod(col("doc_id") * 31, lit(17))).otherwise(gold)
      Curation.pairwiseErMetrics(docs.select(
        dId.as("id"),
        concat(lit("p"), pred).as("pred"),
        concat(lit("g"), gold).as("gold")))
    },
      // DuckDB twin of q173 (ER metrics): the same contingency identity
      // — HUGEINT sums cast to BIGINT (q70 rule), `//` on non-negative
      // pair counts (q62 rule).
      Some("""WITH a AS (
        |  SELECT 'p' || CAST(CASE WHEN doc_id % 51 = 1 THEN (doc_id * 31) % 17
        |                          ELSE doc_id % 17 END AS VARCHAR) AS pred,
        |         'g' || CAST(doc_id % 17 AS VARCHAR) AS gold
        |  FROM documents
        |), cell AS (
        |  SELECT CAST(COALESCE(sum(n * (n - 1) // 2), 0) AS BIGINT) AS tp
        |  FROM (SELECT count(*) AS n FROM a GROUP BY pred, gold)
        |), pt AS (
        |  SELECT CAST(COALESCE(sum(n * (n - 1) // 2), 0) AS BIGINT) AS pred_pairs
        |  FROM (SELECT count(*) AS n FROM a GROUP BY pred)
        |), gt AS (
        |  SELECT CAST(COALESCE(sum(n * (n - 1) // 2), 0) AS BIGINT) AS gold_pairs
        |  FROM (SELECT count(*) AS n FROM a GROUP BY gold)
        |)
        |SELECT tp, pred_pairs - tp AS fp, gold_pairs - tp AS fn,
        |       CASE WHEN pred_pairs > 0 THEN tp * 1000000 // pred_pairs ELSE 0 END AS precision_ppm,
        |       CASE WHEN gold_pairs > 0 THEN tp * 1000000 // gold_pairs ELSE 0 END AS recall_ppm
        |FROM cell, pt, gt""".stripMargin)),
    // WordPiece greedy longest-match segmentation of the corpus's
    // distinct word types against the shared unit inventory; token
    // sequences serialize comma-joined (q79) and the oracle walks the
    // same step table with a recursive functional chain — no
    // aggregates in the recursion, so both engines replay exactly
    Query("q189_wordpiece", (s, d) => {
      val docs = t(s, d, "documents")
      val words = docs.select(explode(TextOps.words(col("text"))).as("word"))
      Bpe.wordpieceSegment(words).select("word", "tokens", "ntok")
    },
      Some(q189Sql)),
    // unigram-LM Viterbi segmentation census: the OPTIMAL min-cost
    // segmentation per word type over the q189 unit inventory with
    // length-derived integer costs (singles 100, bigrams 150,
    // trigrams 220) plus the optimal-path tie count — the subword
    // triad's third tokenizer (BPE merge replay / WordPiece greedy /
    // unigram Viterbi); occurrence weights join back per type
    Query("q211_viterbi_segment", (s, d) => {
      val docs = t(s, d, "documents")
      val tok = docs.select(explode(TextOps.words(col("text"))).as("word"))
      val occ = tok.groupBy(col("word"))
        .agg(count(lit(1)).cast("bigint").as("n_occ"))
      Bpe.viterbiSegmentCensus(occ.select(col("word")))
        .join(occ, Seq("word"))
        .select("word", "n_occ", "len", "min_cost", "n_best")
    },
      Some(q211Sql())),
    // greedy-vs-optimal tokenizer gap: q189's WordPiece segmentation
    // costed under the q211 unit-cost model (a once-per-row lambda
    // over the token list — greedy emits ONE segmentation, so its
    // cost is just that path's sum) joined against the Viterbi
    // optimum; excess >= 0 by construction (the optimum ranges over
    // all segmentations incl. greedy's) — the report that tells a
    // tokenizer owner where longest-match loses and by how much
    Query("q213_greedy_gap", (s, d) => {
      val docs = t(s, d, "documents")
      val words = docs.select(explode(TextOps.words(col("text"))).as("word"))
      val greedy = Bpe.wordpieceSegment(words)
        .select(col("word"),
          // cost literals spliced from the shared Bpe model (ADVICE-r5
          // #4) — generates the identical expression text; a cost-model
          // change now flows to both tokenizer legs from one place
          // (q213's oracle repeats the literals — change them only together)
          expr(s"aggregate(split(tokens, ','), 0L, (s, t) -> s + IF(length(t) = 1, " +
            s"${Bpe.ViterbiCharCost}L, ${Bpe.ViterbiUnitSlope}L * length(t) + " +
            s"${Bpe.ViterbiUnitIntercept}L))").as("greedy_cost"))
      Bpe.viterbiSegmentCensus(words)
        .join(greedy, Seq("word"))
        .select(col("word"), col("greedy_cost"), col("min_cost"),
          (col("greedy_cost") - col("min_cost")).as("excess"))
    },
      // DuckDB twin of q213 (greedy-vs-optimal gap): both tokenizer
      // chains nested as full-statement subqueries (their WITHs scope
      // inside the parens), the greedy path costed token-by-token under
      // the identical length-cost CASE, then one word-keyed join. Both
      // subquery results are multi-referenced conceptually — mark them
      // MATERIALIZED (the q71 rule) so DuckDB never inlines the
      // recursive walk or the 16-round DP twice.
      Some(s"""WITH g AS MATERIALIZED (
         |  SELECT word, CAST(list_sum(list_transform(string_split(tokens, ','),
         |    t -> CASE WHEN length(t) = 1 THEN 100 ELSE 70 * length(t) + 10 END)) AS BIGINT) AS greedy_cost
         |  FROM ( $q189Sql ) t189
         |), o AS MATERIALIZED (
         |  SELECT word, min_cost FROM ( ${q211Sql()} ) t211
         |)
         |SELECT g.word, g.greedy_cost, o.min_cost,
         |  g.greedy_cost - o.min_cost AS excess
         |FROM g JOIN o ON o.word = g.word""".stripMargin)),
    // k-anonymity audit on (source, lang, 100-char size bucket): the
    // post-PII re-identification check — equivalence classes smaller
    // than k=10 would be suppressed before release; the size-bucket
    // tail guarantees violating groups at every SF
    Query("q195_k_anonymity", (s, d) => {
      val docs = t(s, d, "documents")
      Curation.kAnonymityViolations(
        docs.select(col("source"), col("lang"),
          expr("n_chars div 100").cast("bigint").as("size_bucket")),
        Seq("source", "lang", "size_bucket"), k = 10L)
        .select("source", "lang", "size_bucket", "n")
    },
      // q195: k-anonymity equivalence classes under k=10, restated as a
      // plain HAVING; doc n_chars is never null so count(*) == count.
      Some("""SELECT source, lang, CAST(n_chars // 100 AS BIGINT) AS size_bucket,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM documents GROUP BY 1, 2, 3 HAVING count(*) < 10""".stripMargin)),
    // Aho-Corasick multi-pattern scan (the third codegen Catalyst
    // expression): one automaton pass per document counts EVERY
    // occurrence of the shared curation pattern set — nested patterns
    // (scan>can>an, order>er) each count; the oracle restates the
    // count as a per-position substring census over the same VALUES
    // list (ASCII corpus, so byte == char positions)
    Query("q197_multi_find", (s, d) => {
      graft.functions.GraftFunctions.register(s)
      val docs = t(s, d, "documents")
      val call = "multi_find_count(text, " +
        graft.functions.MultiFindCount.CurationPatterns
          .map(p => s"'$p'").mkString(", ") + ")"
      docs.select(col("doc_id"), expr(call).as("n_matches"))
        .where(col("n_matches") > 0)
    },
      // q197: per-position substring census — counts every (pattern,
      // position) match like the AC automaton (overlaps and nested
      // patterns included); the VALUES list is generated from the SAME
      // Scala constant (q36 rule).
      Some {
        val vals = graft.functions.MultiFindCount.CurationPatterns
          .map(p => s"('$p')").mkString(", ")
        s"""WITH pats(p) AS (VALUES $vals),
           |pos AS (
           |  SELECT doc_id, text, unnest(range(1, length(text) + 1)) AS i
           |  FROM documents),
           |occ AS (
           |  SELECT pos.doc_id, count(*) AS n_matches
           |  FROM pos JOIN pats
           |    ON i + length(p) - 1 <= length(text)
           |   AND substring(text, CAST(i AS INTEGER), CAST(length(p) AS INTEGER)) = p
           |  GROUP BY pos.doc_id)
           |SELECT doc_id, CAST(n_matches AS BIGINT) AS n_matches
           |FROM occ WHERE n_matches > 0""".stripMargin
      }),
    // ER blocking-quality metrics: gold groups = %150 residues,
    // blocking = %40 buckets — a gold pair is covered iff its id
    // difference is divisible by lcm-structure 600, so recall is a
    // nontrivial deterministic fraction; all pair counts are
    // per-group C(s,2) sums (the q173 contingency identity, nothing
    // quadratic materialized)
    Query("q198_blocking_quality", (s, d) => {
      val docs = t(s, d, "documents")
      Curation.blockingQuality(docs.select(
        col("doc_id").as("id"),
        pmod(col("doc_id"), lit(150)).as("gold_key"),
        pmod(col("doc_id"), lit(40)).as("block_key")))
        .select("n_items", "n_gold_pairs", "n_cand_pairs", "n_covered",
          "recall_ppm", "reduction_ppm")
    },
      // q198: the same contingency-identity censuses in SQL — per-key
      // group sizes, C(s,2) sums, truncating ppm (q62 rule).
      Some("""WITH it AS (SELECT DISTINCT doc_id AS id, doc_id % 150 AS gk,
        |            doc_id % 40 AS bk FROM documents),
        |n AS (SELECT count(*) AS n FROM it),
        |g AS (SELECT coalesce(sum(s * (s - 1) // 2), 0) AS gold
        |      FROM (SELECT count(*) AS s FROM it GROUP BY gk) x),
        |c AS (SELECT coalesce(sum(s * (s - 1) // 2), 0) AS cand
        |      FROM (SELECT count(*) AS s FROM it GROUP BY bk) x),
        |v AS (SELECT coalesce(sum(s * (s - 1) // 2), 0) AS cov
        |      FROM (SELECT count(*) AS s FROM it GROUP BY gk, bk) x)
        |SELECT CAST(n AS BIGINT) AS n_items, CAST(gold AS BIGINT) AS n_gold_pairs,
        |  CAST(cand AS BIGINT) AS n_cand_pairs, CAST(cov AS BIGINT) AS n_covered,
        |  CAST(CASE WHEN gold > 0 THEN cov * 1000000 // gold ELSE 0 END AS BIGINT) AS recall_ppm,
        |  CAST(CASE WHEN n > 1 THEN (n * (n - 1) // 2 - cand) * 1000000 // (n * (n - 1) // 2) ELSE 0 END AS BIGINT) AS reduction_ppm
        |FROM n, g, c, v""".stripMargin)),
    // corpus mix drift vs a declared target-weight table (weights
    // derived from the source index, plus a planted absent source
    // whose whole target shows as negative drift); full-outer so both
    // directions surface
    Query("q199_mix_drift", (s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val targets = docs.select(col("source").cast("string").as("source")).distinct()
        .select(col("source"),
          expr("(CAST(substring(source, 4) AS BIGINT) + 1) * 1000000 div 210")
            .as("target_ppm"))
        .unionByName(Seq(("srcX", 50000L)).toDF("source", "target_ppm"))
      Curation.mixDrift(docs, targets)
        .select("source", "n_docs", "obs_ppm", "target_ppm", "drift_ppm")
    },
      // q199: observed ppm shares vs index-derived targets, full-outer
      // incl. the planted absent source; signed drift of non-negative
      // ppms (q160 subtraction regime).
      Some("""WITH obs AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
        |tot AS (SELECT sum(n_docs) AS total FROM obs),
        |o2 AS (SELECT source, n_docs, n_docs * 1000000 // total AS obs_ppm
        |       FROM obs, tot),
        |t AS (SELECT source,
        |        (CAST(substring(source, 4) AS BIGINT) + 1) * 1000000 // 210 AS target_ppm
        |      FROM (SELECT DISTINCT source FROM documents) s
        |      UNION ALL SELECT 'srcX', 50000)
        |SELECT coalesce(o2.source, t.source) AS source,
        |  CAST(coalesce(n_docs, 0) AS BIGINT) AS n_docs,
        |  CAST(coalesce(obs_ppm, 0) AS BIGINT) AS obs_ppm,
        |  CAST(coalesce(target_ppm, 0) AS BIGINT) AS target_ppm,
        |  CAST(coalesce(obs_ppm, 0) - coalesce(target_ppm, 0) AS BIGINT) AS drift_ppm
        |FROM o2 FULL OUTER JOIN t ON t.source = o2.source""".stripMargin)),
    // vocabulary frequency-of-frequencies spectrum (Zipf / Good-Turing
    // census): for each token frequency f, the distinct-type count and
    // token mass at that frequency
    Query("q202_freq_spectrum", (s, d) => CorpusOps.freqSpectrum(t(s, d, "documents")),
      // q202: the q19 tokenizer, counts, frequency-of-frequencies
      Some(s"""WITH toks AS (
        |  SELECT unnest($wordsSql) AS w
        |  FROM documents
        |), freq AS (SELECT w, count(*) AS f FROM toks GROUP BY w)
        |SELECT CAST(f AS BIGINT) AS f, CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(f * count(*) AS BIGINT) AS n_tokens
        |FROM freq GROUP BY f""".stripMargin)),
    // Cohen's kappa between the metadata lang and a deterministically
    // corrupted copy (doc_id%7 rotates the label through a fixed lang
    // cycle) — the agreement metric with all four components exercised
    // at every SF; the corruption CASE is shared text with the oracle
    Query("q203_rater_kappa", (s, d) => {
      val docs = t(s, d, "documents")
      Curation.agreementKappa(docs.select(col("lang").as("a"),
        when(pmod(col("doc_id"), lit(7)) === 0,
          expr("CASE lang WHEN 'en' THEN 'fr' WHEN 'fr' THEN 'es' WHEN 'es' THEN 'de' WHEN 'de' THEN 'zh' ELSE 'en' END"))
          .otherwise(col("lang")).as("b")))
    },
      // q203: contingency cells once, marginals joined on the label,
      // truncating ppm with the nested floor-div identity for the N²
      // denominator; kappa sign-cased so // sees non-negatives (q164).
      Some("""WITH lab AS (
        |  SELECT lang AS a,
        |         CASE WHEN doc_id % 7 = 0
        |              THEN CASE lang WHEN 'en' THEN 'fr' WHEN 'fr' THEN 'es' WHEN 'es' THEN 'de' WHEN 'de' THEN 'zh' ELSE 'en' END
        |              ELSE lang END AS b
        |  FROM documents),
        |cells AS MATERIALIZED (SELECT a, b, count(*) AS n FROM lab GROUP BY a, b),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM cells),
        |ag AS (SELECT CAST(coalesce(sum(n), 0) AS BIGINT) AS agree FROM cells WHERE a = b),
        |ma AS (SELECT a AS k, sum(n) AS na FROM cells GROUP BY a),
        |mb AS (SELECT b AS k, sum(n) AS nb FROM cells GROUP BY b),
        |pe AS (SELECT CAST(coalesce(sum(na * nb), 0) AS BIGINT) AS penum
        |       FROM ma JOIN mb ON ma.k = mb.k),
        |ppm AS (
        |  SELECT total AS n_items,
        |         agree * 1000000 // total AS po_ppm,
        |         penum * 1000000 // total // total AS pe_ppm
        |  FROM tot, ag, pe)
        |SELECT CAST(n_items AS BIGINT) AS n_items, CAST(po_ppm AS BIGINT) AS po_ppm,
        |  CAST(pe_ppm AS BIGINT) AS pe_ppm,
        |  CAST(CASE WHEN 1000000 - pe_ppm <= 0 THEN 0
        |       WHEN po_ppm >= pe_ppm THEN (po_ppm - pe_ppm) * 1000000 // (1000000 - pe_ppm)
        |       ELSE -((pe_ppm - po_ppm) * 1000000 // (1000000 - pe_ppm)) END AS BIGINT) AS kappa_ppm
        |FROM ppm""".stripMargin)),
    // learned spam/quality classifier: integer multinomial Naive
    // Bayes in whole-bit surprisals (the q70 primitive) — label-1
    // docs carry planted spam tokens, the model trains on the
    // doc_id%3 split and scores EVERYONE (held-out docs exercise
    // smoothing); the fasttext-classifier slot of a curation stack
    Query("q93_nb_classify", (s, d) => {
      val docs = t(s, d, "documents")
      val labeled = docs.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(4)) === 0,
          concat(col("text"), lit(" free crypto win bonus click offer")))
          .otherwise(col("text")).as("text"),
        (pmod(col("doc_id"), lit(4)) === 0).cast("bigint").as("label"),
        (pmod(col("doc_id"), lit(3)) =!= 0).cast("bigint").as("is_train"))
      CorpusOps.nbClassifyBits(labeled)
    },
      // DuckDB twin of q93: same augmentation/label/split rules, same
      // add-one smoothed whole-bit likelihood grid over the training
      // vocabulary (the q70 bin/length idiom — HUGEINT sums cast back to
      // BIGINT before bin), same tf-then-grid scoring and min-bits
      // verdict. The class axis is a literal 2-row VALUES, mirroring the
      // Spark side's literal explode.
      Some(s"""WITH aug AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 0 THEN text || ' free crypto win bonus click offer'
        |         ELSE text END AS text,
        |    CAST(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS BIGINT) AS label,
        |    CASE WHEN doc_id % 3 <> 0 THEN 1 ELSE 0 END AS is_train
        |  FROM documents
        |), occ AS (
        |  SELECT doc_id, label, is_train,
        |    unnest($wordsSql) AS w
        |  FROM aug
        |), tocc AS (
        |  SELECT * FROM occ WHERE is_train = 1
        |), vocab AS (
        |  SELECT DISTINCT w FROM tocc
        |), vs AS (
        |  SELECT count(*) AS v FROM vocab
        |), cnt AS (
        |  SELECT w, label AS cls, count(*) AS c_tc FROM tocc GROUP BY w, label
        |), tot AS (
        |  SELECT label AS cls, count(*) AS tot_c FROM tocc GROUP BY label
        |), grid AS (
        |  SELECT vocab.w, c.cls,
        |    CAST(length(bin(CAST((tot.tot_c + vs.v) // (coalesce(cnt.c_tc, 0) + 1) AS BIGINT))) - 1 AS BIGINT) AS k
        |  FROM vocab
        |  CROSS JOIN (SELECT CAST(0 AS BIGINT) AS cls UNION ALL SELECT 1) c
        |  CROSS JOIN vs
        |  JOIN tot ON tot.cls = c.cls
        |  LEFT JOIN cnt ON cnt.w = vocab.w AND cnt.cls = c.cls
        |), tf AS (
        |  SELECT doc_id, w, count(*) AS c_dw FROM occ GROUP BY doc_id, w
        |), db AS (
        |  SELECT tf.doc_id,
        |    sum(CASE WHEN g.cls = 0 THEN tf.c_dw * g.k END) AS b0,
        |    sum(CASE WHEN g.cls = 1 THEN tf.c_dw * g.k END) AS b1
        |  FROM tf JOIN grid g ON g.w = tf.w GROUP BY tf.doc_id
        |), pri AS (
        |  SELECT
        |    CAST(length(bin(count(*) // CAST(sum(CASE WHEN label = 0 THEN 1 ELSE 0 END) AS BIGINT))) - 1 AS BIGINT) AS p0,
        |    CAST(length(bin(count(*) // CAST(sum(CASE WHEN label = 1 THEN 1 ELSE 0 END) AS BIGINT))) - 1 AS BIGINT) AS p1
        |  FROM aug WHERE is_train = 1
        |)
        |SELECT a.doc_id, a.label,
        |  CAST(pri.p0 + coalesce(db.b0, 0) AS BIGINT) AS bits_ham,
        |  CAST(pri.p1 + coalesce(db.b1, 0) AS BIGINT) AS bits_spam,
        |  CAST(CASE WHEN pri.p1 + coalesce(db.b1, 0) < pri.p0 + coalesce(db.b0, 0)
        |       THEN 1 ELSE 0 END AS BIGINT) AS pred
        |FROM aug a CROSS JOIN pri LEFT JOIN db ON db.doc_id = a.doc_id""".stripMargin)),
    // main-content extraction by link density (jusText/Readability
    // heuristic): nav block (pure links) classes boilerplate, the
    // body <p> stays content, the mixed see-more block sits under
    // the density threshold — all verdicts integer bp
    Query("q89_main_content", (s, d) => {
      val docs = t(s, d, "documents")
      val html = concat(
        lit("<div><a href=\"/\">home</a> <a href=\"/about\">about us</a></div>\n"),
        lit("<p>"), col("text"), lit("</p>\n"),
        lit("<p>see <a href=\"/s\">"), col("source"), lit("</a> for more</p>"))
      val pages = docs.select(
        concat(lit("https://"), col("source"), lit(".example.com/p/"),
          col("doc_id").cast("string")).as("url"),
        html.as("html"))
      Curation.mainContent(pages)
    },
      Some(q89Sql())),
    // per-source template-line removal (per-site boilerplate: a third
    // of each source's docs carry a planted banner line — template by
    // the 25% frequency rule — ALL copies stripped; q77 is keep-first
    // and source-blind, this is remove-all and source-scoped)
    Query("q88_template_lines", (s, d) => {
      val docs = t(s, d, "documents")
      val aug = docs.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit("subscribe to our newsletter "), col("text")))
          .otherwise(col("text")).as("text"),
        col("source"))
      Curation.templateLines(aug)
    },
      Some(q88Sql())),
    // per-source percentile calibration: exact within-source percentile
    // rank via the q73 two-phase bucketed decomposition — the oracle is
    // the NAIVE per-source window (the q63/q73 rule)
    Query("q86_source_percentile", (s, d) => Curation.sourcePercentile(t(s, d, "documents")),
      // DuckDB twin of q86: the NAIVE per-source window rank — the q73
      // rule: the oracle never replays the two-phase bucket decomposition
      // under test; it must cancel exactly. Same lexical-diversity score,
      // same (score, doc_id) ordering, same greatest(n−1, 1) divisor.
      Some(s"""WITH base AS (
        |  SELECT doc_id, source,
        |    CAST(CASE WHEN len(words) > 0 THEN len(list_distinct(words)) * 10000 // len(words) ELSE 0 END AS BIGINT) AS score
        |  FROM (SELECT doc_id, source, $wordsSql AS words
        |        FROM documents)
        |), r AS (
        |  SELECT doc_id, source, score,
        |    row_number() OVER (PARTITION BY source ORDER BY score, doc_id) AS rank,
        |    count(*) OVER (PARTITION BY source) AS n_src
        |  FROM base
        |)
        |SELECT doc_id, source, score, CAST(rank AS BIGINT) AS rank,
        |  CAST(n_src AS BIGINT) AS n_src,
        |  CAST((rank - 1) * 10000 // greatest(n_src - 1, 1) AS BIGINT) AS pct_bp
        |FROM r""".stripMargin)),
    // block-segmented posting lists: per (term, 128-doc block) the
    // delta-encoded doc gaps + tf payloads — the Lucene-style physical
    // index layout (no term ever holds its full posting list in a row)
    Query("q79_posting_blocks", (s, d) => CorpusOps.postingBlocks(t(s, d, "documents")),
      Some(q79Sql())),
    // priority sampling (Duffield-Lund-Thorup): md5-uniform u ranked
    // by u*scale div weight, global top-k via TakeOrderedAndProject —
    // the deterministic weighted subsample (q30 is the uniform one)
    Query("q78_priority_sample", (s, d) => CorpusOps.prioritySample(t(s, d, "documents")),
      Some(q78Sql())),
    // C4-style line-level corpus dedup: fixed-width lines, every
    // duplicated line removed corpus-wide except its first occurrence
    // (min composite (doc_id, line_idx)), documents rewritten from the
    // surviving lines — keep-first at line granularity where q34/q38
    // cut both copies at window granularity
    Query("q77_line_dedup", (s, d) => Curation.lineDedup(t(s, d, "documents")),
      Some(q77Sql())),
    // crawl snapshot diff (refresh-crawl CDC): old = the corpus, new =
    // deterministic removals (%11==3), text edits (%4==1) and additions
    // (%13 clones) — every status fires at every SF; changed rows get a
    // word-set Jaccard in integer bp
    Query("q76_snapshot_diff", (s, d) => {
      val docs = t(s, d, "documents")
      val oldSnap = docs.select(col("doc_id"), col("text"))
      val newSnap = docs.where(pmod(col("doc_id"), lit(11)) =!= 3)
        .select(col("doc_id"),
          when(pmod(col("doc_id"), lit(4)) === 1,
            concat(col("text"), lit(" refreshed section marker")))
            .otherwise(col("text")).as("text"))
        .unionByName(docs.where(pmod(col("doc_id"), lit(13)) === 0)
          .select((col("doc_id") + 1000000L).as("doc_id"),
            concat(lit("fresh page "), col("text")).as("text")))
      Curation.snapshotDiff(oldSnap, newSnap)
    },
      // DuckDB twin of q76: same synthetic snapshots, same q8/q12
      // fingerprint identity, same distinct-word-set Jaccard (Spark
      // array_union == list_distinct(list_concat) on already-distinct
      // inputs), `//` == `div` on the non-negative operands.
      Some(s"""WITH oldsnap AS (
        |  SELECT doc_id, text FROM documents
        |), newsnap AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 4 = 1 THEN text || ' refreshed section marker' ELSE text END AS text
        |  FROM documents WHERE doc_id % 11 <> 3
        |  UNION ALL
        |  SELECT doc_id + 1000000 AS doc_id, 'fresh page ' || text AS text
        |  FROM documents WHERE doc_id % 13 = 0
        |), po AS (
        |  SELECT doc_id, $fingerprintSql AS fp_old,
        |    list_distinct($wordsSql) AS ws_old
        |  FROM oldsnap
        |), pn AS (
        |  SELECT doc_id, $fingerprintSql AS fp_new,
        |    list_distinct($wordsSql) AS ws_new
        |  FROM newsnap
        |), j AS (SELECT * FROM po FULL OUTER JOIN pn USING (doc_id))
        |SELECT doc_id,
        |  CASE WHEN fp_old IS NULL THEN 'added'
        |       WHEN fp_new IS NULL THEN 'removed'
        |       WHEN fp_old = fp_new THEN 'unchanged'
        |       ELSE 'changed' END AS status,
        |  CASE WHEN fp_old IS NOT NULL AND fp_new IS NOT NULL AND fp_old <> fp_new
        |    THEN CAST(CASE WHEN len(list_distinct(list_concat(ws_old, ws_new))) > 0
        |      THEN CAST(len(list_intersect(ws_old, ws_new)) AS BIGINT) * 10000
        |           // CAST(len(list_distinct(list_concat(ws_old, ws_new))) AS BIGINT)
        |      ELSE 10000 END AS BIGINT)
        |    ELSE NULL END AS jaccard_bp
        |FROM j""".stripMargin)),
    // robots.txt-aware frontier filtering over the q36/q73 synthetic
    // frontier: relational REP parse (gaps-and-islands agent groups,
    // '*' group semi-join) + longest-match verdict; robots text is a
    // shared per-domain template with a domain-derived digit so
    // Disallow/Allow interplay varies across domains
    Query("q75_robots_filter", (s, d) => {
      val frontier = t(s, d, "documents").select(col("doc_id"), syntheticUrl.as("url"))
      val domains = Curation.canonicalizeUrls(frontier)
        .where(col("parsed") === 1L).select(col("domain")).distinct()
      // % 5 (not % 10): with the corpus's doc_id%4 / doc_id%50 / source
      // moduli, digits 6/7 never align with a variant-0 path — %5 gives
      // digits 1/2, which hit BOTH the plain-Disallow and the
      // Allow-overrides-Disallow longest-match branch on real rows
      val dgt = pmod(length(col("domain")), lit(5)).cast("string")
      val robots = domains.select(col("domain"), concat(
        lit("# synthetic robots\nUser-agent: googlebot\nDisallow: /private/\n\nUser-agent: *\nCrawl-delay: 2\nDisallow: /a/"),
        dgt, lit("\nAllow: /a/"), dgt,
        lit("/p\nDisallow: /b/\nUnknown-directive: x\n\nUser-agent: evilbot\nDisallow: /")).as("robots_txt"))
      Curation.robotsFilter(frontier, robots)
    },
      // DuckDB twin of q75: same synthetic robots template, same
      // relational REP parse (filtered-line lag grouping, '*' group
      // semi-join, allow/disallow rules), same q36 domain/path ladder,
      // same longest-match window (length DESC, allow-first, rule).
      Some {
        val sch = Curation.UrlSchemeRe
        val hst = Curation.UrlHostRe
        val pth = Curation.UrlPathRe
        s"""WITH aug AS MATERIALIZED (SELECT DISTINCT $syntheticUrlSql AS url FROM documents),
           |c AS (
           |  SELECT url, lower(regexp_extract(url, '$sch', 1)) AS scheme,
           |         lower(regexp_extract(url, '$hst', 1)) AS hostport,
           |         regexp_extract(url, '$pth', 1) AS path0
           |  FROM aug WHERE lower(regexp_extract(url, '$hst', 1)) <> ''
           |), parsed AS MATERIALIZED (
           |  SELECT url,
           |    regexp_replace(${Curation.hostSql("scheme", "hostport")}, '^www\\.', '') AS domain,
           |    CASE WHEN path0 = '' THEN '/' ELSE path0 END AS path
           |  FROM c
           |), rb AS (
           |  SELECT domain,
           |    '# synthetic robots' || chr(10) || 'User-agent: googlebot' || chr(10) || 'Disallow: /private/' || chr(10) || chr(10)
           |    || 'User-agent: *' || chr(10) || 'Crawl-delay: 2' || chr(10) || 'Disallow: /a/' || CAST(length(domain) % 5 AS VARCHAR) || chr(10)
           |    || 'Allow: /a/' || CAST(length(domain) % 5 AS VARCHAR) || '/p' || chr(10) || 'Disallow: /b/' || chr(10) || 'Unknown-directive: x' || chr(10) || chr(10)
           |    || 'User-agent: evilbot' || chr(10) || 'Disallow: /' AS robots_txt
           |  FROM (SELECT DISTINCT domain FROM parsed)
           |), rawlines AS (
           |  SELECT domain, generate_subscripts(ls, 1) AS ln, unnest(ls) AS raw
           |  FROM (SELECT domain, regexp_split_to_array(robots_txt, chr(10)) AS ls FROM rb)
           |), lines AS (
           |  SELECT domain, ln,
           |    lower(trim(regexp_extract(line, '^([A-Za-z-]+)\\s*:', 1))) AS directive,
           |    trim(regexp_extract(line, '^[A-Za-z-]+\\s*:(.*)$$', 1)) AS value
           |  FROM (SELECT domain, ln, trim(regexp_replace(raw, '#.*$$', '')) AS line FROM rawlines)
           |  WHERE line <> ''
           |), prevd AS (
           |  SELECT domain, ln, directive, value,
           |    coalesce(lag(directive) OVER (PARTITION BY domain ORDER BY ln), '') AS prev
           |  FROM lines
           |), grouped AS MATERIALIZED (
           |  SELECT domain, ln, directive, value,
           |    sum(CASE WHEN directive = 'user-agent' AND prev <> 'user-agent'
           |        THEN 1 ELSE 0 END) OVER (PARTITION BY domain ORDER BY ln) AS grp
           |  FROM prevd
           |), star AS (
           |  SELECT DISTINCT domain, grp FROM grouped WHERE directive = 'user-agent' AND value = '*'
           |), rules AS MATERIALIZED (
           |  SELECT DISTINCT g.domain, g.value AS rule,
           |    CASE WHEN g.directive = 'allow' THEN 1 ELSE 0 END AS is_allow
           |  FROM grouped g JOIN star USING (domain, grp)
           |  WHERE g.directive IN ('allow', 'disallow') AND g.value <> ''
           |), m AS (
           |  SELECT p.url, r.rule, r.is_allow,
           |    row_number() OVER (PARTITION BY p.url ORDER BY length(r.rule) DESC, r.is_allow DESC, r.rule) AS rn
           |  FROM parsed p JOIN rules r USING (domain)
           |  WHERE substring(p.path, 1, length(r.rule)) = r.rule
           |)
           |SELECT p.url, p.domain,
           |  coalesce(m.rule, '') AS matched_rule,
           |  CAST(coalesce(m.is_allow, 1) AS BIGINT) AS allowed
           |FROM parsed p LEFT JOIN (SELECT url, rule, is_allow FROM m WHERE rn = 1) m USING (url)""".stripMargin
      }),
    // end-to-end curation funnel: eval-holdout -> lang -> quality ->
    // decontam -> exact dedup (over clone-augmented input) -> pair-
    // dominance near-dup prune — per-doc first-cutting stage, the
    // attrition report; every stage reuses an oracle-proven operator
    Query("q74_curation_funnel", (s, d) => Curation.curationFunnel(t(s, d, "documents")),
      Some(q74Sql())),
    // per-domain crawl-politeness schedule over the q36 synthetic
    // frontier: deterministic md5-fair fetch slots, two-phase bucketed
    // rank (the q63 decomposition rule — oracle is the NAIVE window)
    Query("q73_crawl_schedule", (s, d) => Curation.crawlSchedule(
      t(s, d, "documents").select(col("doc_id"), syntheticUrl.as("url"))),
      Some(q73Sql())),
    // positional phrase search: exact adjacency matches of a 2-gram
    // over the tokenized corpus — per-term posting-stream filters +
    // one (doc_id, pos) equi-join per adjacency, no regex rescans
    Query("q72_phrase_search", (s, d) =>
      CorpusOps.phraseSearch(t(s, d, "documents"), Seq("table", "hash")),
      Some(q72Sql())),
    // TF-IDF-style keywords: integer tf-over-df score, deterministic
    // top-3 per document — tf collapses the corpus before the df shuffle
    Query("q41_tfidf_topk", (s, d) => CorpusOps.tfIdfTopK(t(s, d, "documents")),
      // DuckDB twin of q41: same tf rollup, same COUNT-window df, same
      // integer tf-over-df score and (score DESC, term) top-3 window.
      Some(s"""WITH we AS (
        |  SELECT doc_id, unnest($wordsSql) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, count(*) AS tf FROM we GROUP BY doc_id, term
        |), sc AS (
        |  SELECT doc_id, term, tf, df, tf * 1000000 // df AS score
        |  FROM (SELECT *, count(*) OVER (PARTITION BY term) AS df FROM tf)
        |)
        |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        |  CAST(score AS BIGINT) AS score, CAST(rank AS BIGINT) AS rank
        |FROM (SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term) AS rank FROM sc)
        |WHERE rank <= 3""".stripMargin)),
    // DSIR importance scoring (hashed n-gram likelihood-ratio surrogate
    // vs the deterministic target slice; broadcast bucket weights)
    Query("q45_dsir_score", (s, d) => CorpusOps.dsirScore(t(s, d, "documents")),
      Some(q45Sql())),
    // composite Gopher-rule quality VERDICT: per-document reason
    // bitmask (one bit per violated rule) + keep flag — thresholds are
    // shared Scala constants embedded into the oracle SQL
    Query("q42_quality_filter", (s, d) => Curation.qualityFilter(t(s, d, "documents")),
      Some(q42Sql())),
    // cross-source near-duplication rollup over the q17 LSH pair graph:
    // which source pairs duplicate each other (snapshot-overlap stats)
    Query("q43_source_overlap", (s, d) => Curation.sourceOverlap(t(s, d, "documents")),
      // DuckDB twin of q43: the q17 LSH pair SQL joined to the source
      // projection, rolled up per unordered source pair. mean_jaccard_bp
      // floors the (bit-identical, q17-hash-proven) rounded double into
      // integer basis points before the integer-division mean.
      Some(s"""WITH pairs AS (SELECT a, b, jaccard FROM (${minhashLshSql(width = 3, threshold = 0.5)}) q17),
         |src AS (SELECT doc_id, source FROM documents),
         |e AS (
         |  SELECT least(sa.source, sb.source) AS s1, greatest(sa.source, sb.source) AS s2,
         |    CASE WHEN sa.source = sb.source THEN 1 ELSE 0 END AS intra,
         |    CAST(floor(jaccard * 10000) AS BIGINT) AS jbp
         |  FROM pairs p JOIN src sa ON p.a = sa.doc_id JOIN src sb ON p.b = sb.doc_id
         |)
         |SELECT s1, s2, count(*) AS n_pairs, CAST(sum(intra) AS BIGINT) AS n_intra,
         |  CAST(sum(jbp) // count(*) AS BIGINT) AS mean_jaccard_bp
         |FROM e GROUP BY s1, s2""".stripMargin)),
    // BM25 sparse retrieval: integer-rational Okapi scoring, query
    // slice vs corpus, top-5 per query — one corpus shuffle, q41-form
    // df/dl windows, broadcast query terms and scalars
    Query("q47_bm25_topk", (s, d) => CorpusOps.bm25TopK(t(s, d, "documents")),
      Some(q47Sql())),
    // deterministic HyperLogLog over word-trigram shingles: md5-bucket
    // registers, dyadic 2^40 fixed-point harmonic mean, exact-distinct
    // companion column — the sketch the exact distinct replaces at scale
    Query("q48_hll_trigrams", (s, d) => CorpusOps.hllTrigramCardinality(t(s, d, "documents")),
      // DuckDB twin of q48 (HLL): same md5 bucket/rho derivation via hex
      // string ops, same dyadic 2^40 harmonic accumulation, same
      // truncation order for the alpha correction.
      Some(s"""WITH base AS (
        |  SELECT $wordsSql AS words
        |  FROM documents
        |), tri AS (
        |  SELECT unnest(CASE WHEN len(words) >= 3
        |    THEN list_transform(range(1, len(words) - 1), i -> md5(words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
        |    ELSE CAST([] AS VARCHAR[]) END) AS h
        |  FROM base
        |), reg AS (
        |  SELECT substr(h, 1, 2) AS bucket,
        |    CASE WHEN stripped = '' THEN 121
        |         ELSE (30 - length(stripped)) * 4 + 1 +
        |           CASE WHEN nib >= '8' THEN 0 WHEN nib >= '4' THEN 1 WHEN nib >= '2' THEN 2 ELSE 3 END
        |    END AS rho, h
        |  FROM (SELECT h, regexp_replace(substr(h, 3, 30), '^0+', '') AS stripped,
        |          substr(regexp_replace(substr(h, 3, 30), '^0+', ''), 1, 1) AS nib FROM tri)
        |), regs AS (
        |  SELECT bucket, max(rho) AS max_rho, count(DISTINCT h) AS nd FROM reg GROUP BY bucket
        |), acc AS (
        |  SELECT count(*) AS n_buckets,
        |    sum(CAST(1 AS BIGINT) << (40 - least(max_rho, 40))) AS denom_obs,
        |    sum(nd) AS exact_distinct
        |  FROM regs
        |), fin AS (
        |  SELECT n_buckets, denom_obs + (256 - n_buckets) * (CAST(1 AS BIGINT) << 40) AS denom_x2p40,
        |    exact_distinct
        |  FROM acc
        |)
        |SELECT CAST(n_buckets AS BIGINT) AS n_buckets,
        |  CAST(denom_x2p40 AS BIGINT) AS denom_x2p40,
        |  CAST((CAST(1 AS BIGINT) << 56) // denom_x2p40 AS BIGINT) AS est_raw,
        |  CAST((CAST(1 AS BIGINT) << 56) // denom_x2p40 * 71827 // 100000 AS BIGINT) AS est_alpha,
        |  CAST(exact_distinct AS BIGINT) AS exact_distinct
        |FROM fin""".stripMargin)),
    // grouped HLL: one register set per source — the mergeable-state
    // property that makes the sketch a 100-TB primitive
    Query("q58_hll_by_source", (s, d) => CorpusOps.hllTrigramsBySource(t(s, d, "documents")),
      // DuckDB twin of q58: q48's sketch with `source` added to both
      // group-bys — same register derivation per group.
      Some(s"""WITH base AS (
        |  SELECT source, $wordsSql AS words
        |  FROM documents
        |), tri AS (
        |  SELECT source, unnest(CASE WHEN len(words) >= 3
        |    THEN list_transform(range(1, len(words) - 1), i -> md5(words[i] || ' ' || words[i+1] || ' ' || words[i+2]))
        |    ELSE CAST([] AS VARCHAR[]) END) AS h
        |  FROM base
        |), reg AS (
        |  SELECT source, substr(h, 1, 2) AS bucket,
        |    CASE WHEN stripped = '' THEN 121
        |         ELSE (30 - length(stripped)) * 4 + 1 +
        |           CASE WHEN nib >= '8' THEN 0 WHEN nib >= '4' THEN 1 WHEN nib >= '2' THEN 2 ELSE 3 END
        |    END AS rho, h
        |  FROM (SELECT source, h, regexp_replace(substr(h, 3, 30), '^0+', '') AS stripped,
        |          substr(regexp_replace(substr(h, 3, 30), '^0+', ''), 1, 1) AS nib FROM tri)
        |), regs AS (
        |  SELECT source, bucket, max(rho) AS max_rho, count(DISTINCT h) AS nd FROM reg GROUP BY source, bucket
        |), acc AS (
        |  SELECT source, count(*) AS n_buckets,
        |    sum(CAST(1 AS BIGINT) << (40 - least(max_rho, 40))) AS denom_obs,
        |    sum(nd) AS exact_distinct
        |  FROM regs GROUP BY source
        |), fin AS (
        |  SELECT source, n_buckets, denom_obs + (256 - n_buckets) * (CAST(1 AS BIGINT) << 40) AS denom_x2p40,
        |    exact_distinct
        |  FROM acc
        |)
        |SELECT source, CAST(n_buckets AS BIGINT) AS n_buckets,
        |  CAST(denom_x2p40 AS BIGINT) AS denom_x2p40,
        |  CAST((CAST(1 AS BIGINT) << 56) // denom_x2p40 AS BIGINT) AS est_raw,
        |  CAST((CAST(1 AS BIGINT) << 56) // denom_x2p40 * 71827 // 100000 AS BIGINT) AS est_alpha,
        |  CAST(exact_distinct AS BIGINT) AS exact_distinct
        |FROM fin""".stripMargin)),
    // vocabulary-capped document-level PMI co-occurrence in integer ppm
    Query("q62_pmi_cooccur", (s, d) => CorpusOps.pmiCooccur(t(s, d, "documents")),
      Some(q62Sql())),
    // leakage-safe train/val split: split key = near-dup CLUSTER (the
    // q22 graph's connected component), so near-dups never straddle
    // the split; md5-hex cluster assignment, 75/25. Oracle replays the
    // components via the q26-style recursive transitive-closure CTE.
    Query("q66_leakage_split", (s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.minhashLshMd5(docs, threshold = 0.5, shingleWidth = 1)
        .select(col("a"), col("b"))
      CorpusOps.leakageSplit(docs, KgPipeline.connectedComponents(pairs))
    },
      // DuckDB twin of q66: q26-style recursive transitive-closure min
      // over the q22 (width-1) pair graph, singletons labeled by their
      // own id, then the identical md5-hex split rule.
      Some(s"""WITH RECURSIVE pairs AS (SELECT a, b FROM (${minhashLshSql(width = 1, threshold = 0.5)}) q22),
         |edges AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
         |$reachSql,
         |cc AS (SELECT node, min(lab) AS component FROM reach GROUP BY node)
         |SELECT d.doc_id,
         |  CAST(coalesce(cc.component, d.doc_id) AS BIGINT) AS cluster,
         |  CASE WHEN substr(md5('split|' ||
         |      CAST(coalesce(cc.component, d.doc_id) AS VARCHAR)), 1, 1) < 'c'
         |    THEN 'train' ELSE 'val' END AS split
         |FROM documents d LEFT JOIN cc ON cc.node = d.doc_id""".stripMargin)),
    // token-budget subsampling: q55's temperature shares turned into an
    // actual corpus cut — per-source quotas, md5-shuffled greedy prefix
    // budget 12000 tokens ≈ 44% of the sf0.01 corpus (27k tokens) and
    // ~4% of sf0.1 — selective at every test scale
    Query("q67_budget_sample", (s, d) => CorpusOps.budgetSample(t(s, d, "documents"), 12000L),
      Some(q67Sql())),
    // RAG-style sliding-window chunking: token-offset chunks with
    // overlap (window 32 / stride 24 — small enough that the synthetic
    // docs actually split), shuffle-free explode
    Query("q57_chunk_sliding", (s, d) => CorpusOps.chunkSliding(t(s, d, "documents"), window = 32, stride = 24),
      Some(q57Sql(window = 32, stride = 24))),
    // temperature-resampling mixture weights: per-source token counts
    // → floor(sqrt) weights → ppm shares (τ=2 source re-balancing)
    Query("q55_temperature_mix", (s, d) => CorpusOps.temperatureMix(t(s, d, "documents")),
      Some(q55Sql)),
    // count-min sketch heavy hitters: d=4 × w=4096 md5-prefix buckets,
    // sketch over the reduced tf table, broadcast min-over-rows
    // estimate, sort-limit top-k
    Query("q51_countmin_topk", (s, d) => CorpusOps.countMinTopK(t(s, d, "documents")),
      Some(q51Sql())),
    // distributed BPE trainer: one word-freq shuffle + bounded driver
    // merge loop; deterministic, so the merges table is stable
    Query("x_bpe_train", (s, d) => Bpe.mergesTable(s, Bpe.train(t(s, d, "documents"), numMerges = 60))),
    // true merge-order BPE encoding with the shipped merges resource
    Query("x_bpe_encode", (s, d) => Bpe.tokenCounts(t(s, d, "documents"), Bpe.shippedMerges))
  )
}
