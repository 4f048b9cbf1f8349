package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators a large-scale training-data pipeline runs
  * before anything touches a tokenizer: repetition filtering (the
  * Gopher/RefinedWeb-style quality rules) and deterministic stratified
  * downsampling of over-represented sources. Both are value-exact
  * cross-engine (integer basis points, md5-derived buckets), so the
  * driver's DuckDB oracle replays them end to end (q29/q30).
  */
object Curation {

  /** Per-document repetition statistics in integer basis points:
    *
    *   - `dup_word_bp`: 1 − |distinct words| / |words| — bulk token
    *     repetition;
    *   - `top_word_bp`: most-frequent-word share — degenerate chant
    *     pages;
    *   - `top_bigram_bp`: most-frequent-bigram share — boilerplate /
    *     template repetition (the Gopher "top n-gram fraction" rule).
    *
    * Shape: counting is RELATIONAL (explode → two map-side-combinable
    * groupBys), never a per-row lambda fold over an unbounded array —
    * a 10 MB degenerate document costs rows, not driver-side or
    * interpreted-lambda time. Integer `div` arithmetic keeps every
    * emitted value engine-exact.
    */
  def repetitionStats(documents: DataFrame): DataFrame = {
    val base = documents.select(col("doc_id"), TextOps.words(col("text")).as("words"))
    val counts = base.select(
      col("doc_id"),
      size(col("words")).cast("bigint").as("nw"),
      size(array_distinct(col("words"))).cast("bigint").as("dw"))
    // word shares
    val wordExpl = base.select(col("doc_id"), explode(col("words")).as("w"))
    val topWord = wordExpl.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id")).agg(max(col("n")).as("mxw"), sum(col("n")).as("totw"))
    // bigram shares
    val bigrams = base.select(
      col("doc_id"),
      explode(
        when(size(col("words")) >= 2,
          transform(sequence(lit(1), size(col("words")) - 1),
            i => concat(element_at(col("words"), i), lit(" "), element_at(col("words"), i + 1))))
          .otherwise(array().cast("array<string>"))).as("bg"))
    val topBigram = bigrams.groupBy(col("doc_id"), col("bg")).agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id")).agg(max(col("n")).as("mxb"), sum(col("n")).as("totb"))
    counts
      .join(topWord, Seq("doc_id"), "left")
      .join(topBigram, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        expr("CAST(CASE WHEN nw > 0 THEN (nw - dw) * 10000 div nw ELSE 0 END AS BIGINT)").as("dup_word_bp"),
        expr("CAST(coalesce(mxw * 10000 div totw, 0) AS BIGINT)").as("top_word_bp"),
        expr("CAST(coalesce(mxb * 10000 div totb, 0) AS BIGINT)").as("top_bigram_bp"))
  }

  /** Benchmark decontamination: for every training document, the
    * fraction of its distinct word n-grams that also occur in a
    * held-out eval set (here: documents whose `doc_id` is divisible by
    * `evalModulus` — a deterministic stand-in for the real benchmark
    * corpus). The standard pre-training hygiene op: training documents
    * with high overlap leak eval answers and are dropped or flagged.
    *
    * Scale shape: the eval n-gram set is BROADCAST — real benchmark
    * suites are megabytes against a 100 TB corpus, so the overlap
    * check must never shuffle the corpus on the n-gram key. Training
    * grams stream through a broadcast left join into one map-side-
    * combinable groupBy on doc_id. Output is integer basis points.
    */
  def decontaminate(documents: DataFrame, evalModulus: Int = 97, n: Int = 3): DataFrame = {
    require(n >= 2, "n-gram width must be >= 2")
    // words are PROJECTED once; grams stay an EXPRESSION fed straight
    // to explode. Both halves matter: (a) an inlined words AST would be
    // cloned per element_at and re-tokenize the document per gram
    // element; (b) exploding a projected grams ATTRIBUTE lets
    // InferFiltersFromGenerate synthesize a size(grams) > 0 filter
    // that predicate pushdown then inlines through both projections —
    // re-deriving the whole gram pipeline per element inside a scan
    // filter (measured 40x slower at sf0.1). With a complex explode
    // child the inference rule skips (the SPARK-33544 guard), which is
    // exactly the q29 shape.
    val base = documents.select(col("doc_id"), TextOps.words(col("text")).as("words"))
    val w = col("words")
    val gramsExpr = when(size(w) >= n,
      array_distinct(transform(sequence(lit(1), size(w) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(o => element_at(w, i + o)): _*))))
      .otherwise(array().cast("array<string>"))
    val isEval = col("doc_id") % evalModulus === 0
    val exploded = base.select(col("doc_id"), explode(gramsExpr).as("g"))
    val evalGrams = exploded.where(isEval).select(col("g")).distinct()
    // hits: gram rows stream through the broadcast semi-join, then one
    // map-side-combinable groupBy — the only shuffle carries doc-level
    // partial counts, never gram-level rows
    val hits = exploded.where(!isEval)
      .join(broadcast(evalGrams), Seq("g"), "left_semi")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("hits"))
    // totals come straight off the scan (distinct-gram array size) —
    // no second pass through the gram explosion
    base.where(!isEval)
      .select(col("doc_id"), size(gramsExpr).cast("bigint").as("n_grams"))
      .join(hits, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        col("n_grams"),
        coalesce(col("hits"), lit(0L)).as("n_contaminated"),
        expr("CAST(CASE WHEN n_grams > 0 THEN coalesce(hits, 0) * 10000 div n_grams ELSE 0 END AS BIGINT)")
          .as("contam_bp"))
  }

  /** PII redaction patterns. RE2-compatible by construction (no
    * lookarounds, no backreferences) so the DuckDB oracle replays the
    * exact same matches: character classes, bounded repetition, ASCII
    * word boundaries and non-capturing groups only.
    */
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Re = "\\b(?:[0-9]{1,3}\\.){3}[0-9]{1,3}\\b"
  val PhoneRe = "\\+?[0-9][0-9 .-]{6,}[0-9]"

  /** PII masking: replace emails, IPv4 addresses and phone-shaped
    * digit runs with typed placeholder tokens, and count each kind.
    * Masking order is load-bearing (emails first — their digits would
    * otherwise feed the phone pattern; IPs before phones — dotted
    * quads are phone-shaped) and is mirrored exactly by the oracle.
    * Pure per-row codegen'd string work: no UDF, no shuffle, scales as
    * a projection.
    */
  def maskPii(documents: DataFrame): DataFrame = {
    val t0 = col("text")
    val t1 = regexp_replace(t0, EmailRe, "<EMAIL>")
    val t2 = regexp_replace(t1, Ipv4Re, "<IP>")
    val t3 = regexp_replace(t2, PhoneRe, "<PHONE>")
    documents.select(
      col("doc_id"),
      regexp_count(t0, lit(EmailRe)).cast("bigint").as("n_emails"),
      regexp_count(t1, lit(Ipv4Re)).cast("bigint").as("n_ips"),
      regexp_count(t2, lit(PhoneRe)).cast("bigint").as("n_phones"),
      t3.as("masked"))
  }

  /** Canonical-document selection per near-dup cluster: the step after
    * near-dup detection where a real pipeline KEEPS one document per
    * duplicate group and drops the rest. Clusters come from connected
    * components over the MinHash-LSH pair graph (the q26 pipeline);
    * the representative is the member with the highest integer quality
    * score, ties broken by lowest doc_id — fully deterministic.
    *
    * Scale shape: the pair graph and its components are tiny relative
    * to the corpus (only documents with a near-duplicate appear), so
    * the per-component window runs over node-level rows, one shuffle
    * on the component key. The corpus contributes only the quality
    * projection through a node-keyed join.
    */
  def clusterRepresentatives(documents: DataFrame): DataFrame = {
    val pairs = Dedup.minhashLshMd5(documents, threshold = 0.5).select(col("a"), col("b"))
    val labels = KgPipeline.connectedComponents(pairs) // (node, component)
    val quality = documents.select(col("doc_id").as("node"), TextOps.qualityScore(col("text")).as("q"))
    val byComp = Window.partitionBy(col("component"))
    labels.join(quality, Seq("node"))
      .withColumn("n_members", count(lit(1)).over(byComp))
      .withColumn("best_quality", max(col("q")).over(byComp))
      .where(col("q") === col("best_quality"))
      .groupBy(col("component"), col("n_members"), col("best_quality"))
      .agg(min(col("node")).as("rep_doc"))
      .select(col("component"), col("rep_doc"),
        col("n_members").cast("bigint").as("n_members"),
        col("best_quality").cast("bigint").as("best_quality"))
  }

  /** Internal shared stage of [[dupSpans]] / [[dedupRewrite]]: maximal
    * duplicated-span ranges per document as (doc_id, island, nwin, s,
    * e) in 1-based word positions, span = [s, e] inclusive.
    */
  private def dupSpanRanges(documents: DataFrame, width: Int): DataFrame = {
    require(width >= 2, "window width must be >= 2")
    // words PROJECTED once (an inlined words AST would be cloned per
    // element_at and re-tokenize the document per window element — the
    // q29/q31 lesson); the when/transform fed to posexplode stays a
    // complex expression so InferFiltersFromGenerate skips it
    val base = documents.select(col("doc_id"), TextOps.words(col("text")).as("words"))
    val w = col("words")
    // md5 INSIDE the transform lambda — a measured exception to the
    // interpreted-HOF rule: hashing before posexplode means the
    // Generate boundary materializes 32-hex digests instead of the
    // wider raw window strings, and that row-materialization saving
    // beats codegen'd-md5-after-explode (A/B at sf0.1: 2.2s vs 3.7s
    // warm). The lambda stays once-per-row over a bounded array.
    val hashesExpr = when(size(w) >= width,
      transform(sequence(lit(1), size(w) - (width - 1)),
        i => md5(concat_ws(" ", (0 until width).map(o => element_at(w, i + o)): _*))))
      .otherwise(array().cast("array<string>"))
    val occ = base.select(col("doc_id"), posexplode(hashesExpr).as(Seq("p0", "h")))
      .select(col("doc_id"), (col("p0") + 1).cast("bigint").as("pos"), col("h"))
    // a window is duplicated if its hash occurs >= 2 times corpus-wide
    // (cross-document or within-document — self-repetition is still
    // training-data duplication). Shape: a COUNT window over the hash
    // partition, not groupBy-then-semi-join — the occurrence stream is
    // the corpus-sized thing here, and the window form shuffles it
    // ONCE (partition by h + local sort) where the join form shuffles
    // it twice (once into the aggregate, once into the join probe).
    val dup = occ
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("h"))))
      .where(col("cnt") >= 2)
      .select(col("doc_id"), col("pos"))
    // gaps-and-islands: two duplicated windows merge while their
    // [pos, pos+width-1] coverage stays contiguous, i.e. the next start
    // is within `width` of the previous one
    val byDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val islands = dup
      .withColumn("brk",
        when(col("pos") - lag(col("pos"), 1).over(byDoc) <= width, lit(0)).otherwise(lit(1)))
      .withColumn("island",
        sum(col("brk")).over(byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    islands.groupBy(col("doc_id"), col("island"))
      .agg(count(lit(1)).as("nwin"),
        min(col("pos")).as("s"),
        (max(col("pos")) + (width - 1)).as("e"))
  }

  /** Duplicate-span detection — exact SUBSTRING-level dedup, the family
    * member document-level hashing (q8) and near-dup LSH (q17) cannot
    * express: find every maximal run of words that occurs (anywhere in
    * the corpus, including elsewhere in the same document) at least
    * twice, as in "Deduplicating Training Data Makes Language Models
    * Better" (Lee et al., 2022) — there via a corpus suffix array, here
    * as the relational equivalent: fixed-width rolling word windows,
    * corpus-wide duplicated-window detection, and a per-document
    * gaps-and-islands merge of overlapping duplicated windows into
    * maximal spans.
    *
    * Scale shape: ONE corpus-sized shuffle keyed on the 128-bit window
    * hash (map-side-combinable count), a semi-join back to the
    * occurrence stream, and a per-document window sort over only the
    * DUPLICATED positions (the skew-bounded minority in a real corpus).
    * The window hashes are fed straight to posexplode as an expression
    * (never a projected attribute — the q31 InferFiltersFromGenerate
    * pathology). Everything emitted is integer / md5, so the DuckDB
    * oracle (q34) replays it value-exact.
    */
  def dupSpans(documents: DataFrame, width: Int = 8): DataFrame = {
    val spans = dupSpanRanges(documents, width)
    val perDoc = spans.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("spans"), sum(col("nwin")).as("dupwin"),
        sum(col("e") - col("s") + 1).as("covered"))
    val w = TextOps.words(col("text"))
    documents.select(col("doc_id"),
        size(w).cast("bigint").as("n_words"),
        greatest(size(w) - (width - 1), lit(0)).cast("bigint").as("n_windows"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_words"), col("n_windows"),
        coalesce(col("dupwin"), lit(0L)).cast("bigint").as("n_dup_windows"),
        coalesce(col("spans"), lit(0L)).cast("bigint").as("n_spans"),
        coalesce(col("covered"), lit(0L)).cast("bigint").as("dup_cover"),
        expr("CAST(CASE WHEN n_words > 0 THEN coalesce(covered, 0) * 10000 div n_words ELSE 0 END AS BIGINT)")
          .as("dup_bp"))
  }

  /** The CUT step completing the Lee-et-al. dedup pipeline: rewrite
    * each document's normalized token stream with every duplicated
    * span (as detected by [[dupSpans]], both copies — the
    * deduplicate-everywhere policy of the paper) removed. Output is
    * the surviving word sequence joined on single spaces — a
    * TOKEN-LEVEL rewrite (case/punctuation already normalized away by
    * the word split), which is the form the downstream tokenizer
    * consumes anyway.
    *
    * Scale shape: the span table is tiny (only documents with
    * duplication, a handful of ranges each), so the kept-word
    * anti-join is doc-keyed with a per-doc range predicate; the
    * rebuild is one sort_array over each doc's surviving words.
    */
  def dedupRewrite(documents: DataFrame, width: Int = 8): DataFrame = {
    val spans = dupSpanRanges(documents, width)
      .select(col("doc_id").as("sd"), col("s"), col("e"))
    val words = documents
      .select(col("doc_id"), posexplode(TextOps.words(col("text"))).as(Seq("p0", "w")))
      .select(col("doc_id"), (col("p0") + 1).cast("bigint").as("p"), col("w"))
    val kept = words.join(spans,
      words("doc_id") === spans("sd") && col("p") >= col("s") && col("p") <= col("e"),
      "left_anti")
    val rebuilt = kept.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("kept"),
        array_join(
          transform(array_sort(collect_list(struct(col("p"), col("w")))), x => x.getField("w")),
          " ").as("ct"))
    documents.select(col("doc_id"), size(TextOps.words(col("text"))).cast("bigint").as("n_words"))
      .join(rebuilt, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("ct"), lit("")).as("clean_text"),
        coalesce(col("kept"), lit(0L)).cast("bigint").as("n_kept"),
        (col("n_words") - coalesce(col("kept"), lit(0L))).cast("bigint").as("n_dropped"))
  }

  /** Text normalization — the hygiene pass run BEFORE any hash-based
    * operator (exact dedup, fingerprints, minhash shingles), so that
    * canonically-equivalent byte sequences collide instead of silently
    * diverging: (1) Unicode NFC composition via the codegen'd
    * [[graft.functions.UnicodeNfc]] expression, (2) C0/DEL control-char
    * strip (tab/newline/CR survive as whitespace), (3) whitespace
    * collapse + trim. Pure per-row codegen'd projection — no UDF, no
    * shuffle; scales as a map. The DuckDB oracle (q35) replays it via
    * `nfc_normalize` + identical RE2-compatible classes.
    */
  def normalizeText(documents: DataFrame): DataFrame = {
    graft.functions.GraftFunctions.register(documents.sparkSession)
    val t0 = col("text")
    val t1 = expr("unicode_nfc(text)")
    val t2 = regexp_replace(t1, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F\\x7F]", "")
    val t3 = trim(regexp_replace(t2, "[ \\t\\n\\r]+", " "))
    documents.select(
      col("doc_id"),
      t3.as("norm_text"),
      (t3 =!= t0).cast("bigint").as("changed"),
      length(t0).cast("bigint").as("chars_before"),
      length(t3).cast("bigint").as("chars_after"))
  }

  /** URL component patterns, RE2-compatible (no lookarounds) so the
    * DuckDB oracle replays extraction with the same regex semantics.
    */
  val UrlSchemeRe = "^([A-Za-z][A-Za-z0-9+.-]*)://"
  val UrlHostRe = "^[A-Za-z][A-Za-z0-9+.-]*://([^/?#]*)"
  val UrlPathRe = "^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"
  // anchored through the pre-fragment prefix: a '?' that first appears
  // INSIDE the fragment ("/p#sec?tab=2") is part of the dropped
  // fragment, not a query
  val UrlQueryRe = "^[^#?]*[?]([^#]*)"

  /** URL canonicalization — the identity step of web-corpus curation:
    * crawls see the same page under `HTTP://WWW.Site.COM:80/a#x` and
    * `http://site.com/a`, and URL-level dedup / per-domain quotas only
    * work after those collapse. Rules (the conservative, always-safe
    * subset): lowercase scheme + host, strip the scheme's default port
    * (:80 / :443), empty path → "/", drop the fragment, keep the query
    * (and a `www.`-stripped `domain` column for grouping). Pure per-row
    * codegen'd regex projection: no UDF, no shuffle, no java.net.URL
    * (driver-side parsing would not scale and throws on real-world
    * malformed URLs; these regexes never throw).
    */
  private def urlScheme: Column = lower(regexp_extract(col("url"), UrlSchemeRe, 1))
  private def urlHost: Column = hostOf(col("url"))
  private def urlDomain: Column = regexp_replace(urlHost, "^www\\.", "")
  private def urlPath: Column = {
    val p = regexp_extract(col("url"), UrlPathRe, 1)
    when(p === "", lit("/")).otherwise(p)
  }
  private def urlQuery: Column = regexp_extract(col("url"), UrlQueryRe, 1)

  def canonicalizeUrls(urls: DataFrame): DataFrame = {
    // a URL with no "scheme://host" prefix (relative link,
    // protocol-relative "//host/x", mailto:, data:) is NOT silently
    // rewritten into a phantom ":///" — it passes through verbatim with
    // parsed=0 and a NULL domain so downstream rollups can exclude it
    val parsed = lower(regexp_extract(col("url"), UrlHostRe, 1)) =!= ""
    val canonical = concat(urlScheme, lit("://"), urlHost, urlPath,
      when(urlQuery === "", lit("")).otherwise(concat(lit("?"), urlQuery)))
    urls.select(
      col("doc_id"),
      when(parsed, canonical).otherwise(col("url")).as("canonical"),
      when(parsed, urlDomain).otherwise(lit(null).cast("string")).as("domain"),
      when(parsed, length(urlPath) - length(translate(urlPath, "/", "")))
        .otherwise(lit(0)).cast("bigint").as("depth"),
      when(parsed, (urlQuery =!= "").cast("bigint")).otherwise(lit(0L)).as("has_query"),
      parsed.cast("bigint").as("parsed"))
  }

  /** Per-domain corpus rollup over canonicalized URLs — the statistics
    * that drive domain-level curation decisions (quota assignment,
    * spam-domain blocklists, per-site crawl budgets): document count
    * and total text volume per registered domain. The domain is derived
    * in the same projection that feeds ONE map-side-combinable groupBy
    * — no join back to the corpus, no second scan. Input needs
    * `doc_id`, `url` and `n_chars` columns.
    */
  def domainStats(urls: DataFrame): DataFrame = {
    urls
      // unparseable URLs (parsed=0 in canonicalizeUrls) are excluded —
      // they have no domain and would otherwise pool into one phantom
      // "" group and corrupt quota/blocklist statistics
      .where(lower(regexp_extract(col("url"), UrlHostRe, 1)) =!= "")
      .select(
        urlDomain.as("domain"), col("doc_id"), col("n_chars"),
        (urlQuery =!= "").cast("bigint").as("hq"))
      .groupBy(col("domain"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).cast("bigint").as("sum_chars"),
        min(col("doc_id")).as("min_doc"),
        sum(col("hq")).cast("bigint").as("n_with_query"))
  }

  /** End-to-end curation funnel — the composite recipe a real corpus
    * actually runs, wired from the already-oracle-proven stage
    * operators, reporting PER DOCUMENT the first stage that cut it
    * (the attrition report every curation paper tabulates):
    *
    *   eval_heldout → langid → quality → decontam → exact_dup →
    *   near_dup → kept
    *
    * Stage semantics: held-out eval slice (doc_id ≡ 0 mod
    * `evalModulus`, the q31 slice) is excluded first; language filter
    * keeps lang = 'en' (the upstream-classifier column — the q11
    * n-gram heuristic is degenerate on the 31-word synthetic
    * vocabulary); quality = q42's Gopher-rule bitmask must be 0;
    * decontamination cuts docs with eval-trigram overlap ≥
    * `contamBpMax` basis points (q31); exact dedup keeps the minimum
    * doc_id per q8/q12 fingerprint; near-dup prunes by PAIR-LOCAL
    * DOMINANCE — a survivor is cut iff it loses any verified
    * Jaccard ≥ 0.5 pair (q17 topology) against a better survivor
    * (higher q10 quality, tie lower doc_id) — the SemDeDup-style
    * order-independent prune (full cluster election is q32's job).
    *
    * The input is augmented with deterministic exact clones
    * (doc_id + 1e6 for doc_id ≡ 0 mod `cloneModulus`) — the corpus
    * ships duplicate-free, and an exact-dedup stage that provably cuts
    * nothing would be vacuous (the q33/q35 augmentation pattern).
    *
    * Scale shape: stages 0–3 are one pass of per-row predicates plus
    * the q31 broadcast semi-join; exact dedup is one fingerprint
    * shuffle; near-dup runs the banded LSH ONLY over stage-4 survivors
    * (each stage shrinks the next stage's input — the reason real
    * pipelines order filters this way). The survivor frame is
    * localCheckpointed once: it feeds the LSH pipeline, the quality
    * projection and the final join.
    */
  def curationFunnel(documents: DataFrame, contamBpMax: Long = 150L,
                     cloneModulus: Int = 11, evalModulus: Int = 97): DataFrame = {
    val aug = documents.select(col("doc_id"), col("text"), col("lang"))
      .unionByName(documents.where(col("doc_id") % cloneModulus === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text"), col("lang")))
    val flags = qualityFilter(aug).select(col("doc_id"), col("flags"))
    val contam = decontaminate(aug, evalModulus).select(col("doc_id"), col("contam_bp"))
    val s0 = aug.join(flags, Seq("doc_id"))
      .join(contam, Seq("doc_id"), "left") // eval docs have no decontam row
      .withColumn("early",
        when(col("doc_id") % evalModulus === 0, "eval_heldout")
          .when(col("lang") =!= "en", "langid")
          .when(col("flags") =!= 0, "quality")
          .when(col("contam_bp") >= contamBpMax, "decontam"))
      .localCheckpoint(true) // feeds s3 AND the final stage join
    val s3 = s0.where(col("early").isNull)
      .withColumn("fp", TextOps.fingerprint(col("text")))
    val keepers = s3.groupBy(col("fp")).agg(min(col("doc_id")).as("keep_id"))
    val s4 = s3.join(keepers, Seq("fp"))
      .select(col("doc_id"), col("text"), (col("doc_id") =!= col("keep_id")).as("exact_cut"))
      .localCheckpoint(true) // feeds survivors AND the final join
    val survivors = s4.where(!col("exact_cut")).select(col("doc_id"), col("text"))
      .localCheckpoint(true) // feeds LSH, quality projection, nothing else grows
    val pairs = Dedup.minhashLshMd5(survivors, threshold = 0.5).select(col("a"), col("b"))
    val q = survivors.select(col("doc_id"), TextOps.qualityScore(col("text")).as("q"))
    val losers = pairs
      .join(q.select(col("doc_id").as("a"), col("q").as("qa")), Seq("a"))
      .join(q.select(col("doc_id").as("b"), col("q").as("qb")), Seq("b"))
      .select(when(col("qa") < col("qb") ||
        (col("qa") === col("qb") && col("a") > col("b")), col("a"))
        .otherwise(col("b")).as("doc_id"))
      .distinct()
      .withColumn("near_cut", lit(true))
    s0.select(col("doc_id"), col("early"))
      .join(s4.select(col("doc_id"), col("exact_cut")), Seq("doc_id"), "left")
      .join(losers, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("early"),
          when(col("exact_cut"), "exact_dup"),
          when(col("near_cut"), "near_dup"),
          lit("kept")).as("stage"))
  }

  /** Per-domain crawl-politeness schedule: every distinct parseable URL
    * gets a fetch slot within its domain and a scheduled offset
    * `slot · delayMs` — the frontier-scheduling step of a polite
    * crawler (one fetch per domain per delay window, deterministic
    * fair order via md5 so one deep site cannot monopolize early
    * waves). The wave number IS the slot: url k of a domain fetches in
    * global wave k, so per-wave load is ≤ #domains.
    *
    * Scale shape: a naive per-domain row_number() is one window over
    * the whole frontier with partition size = domain size — a single
    * mega-domain (the crawl-frontier skew case) serializes into one
    * task. Instead the rank is TWO-PHASE (the q63 salting idea applied
    *  to ranking): rank within (domain, md5-prefix bucket) — 256-way
    * bounded partitions — plus the summed counts of earlier buckets
    * (a ≤256-row-per-domain window). Because the bucket is the hash's
    * own prefix, bucket-then-hash order equals plain hash order, and
    * the composition is value-identical to the naive window — the
    * DuckDB oracle IS that naive window (the q63 rule: the
    * decomposition must cancel exactly).
    *
    * Input needs `url`; unparseable URLs (no scheme://host) are
    * excluded like q37. Output: (url, domain, slot, sched_ms).
    */
  def crawlSchedule(urls: DataFrame, delayMs: Long = 250L): DataFrame = {
    require(delayMs >= 0, "delayMs must be >= 0")
    val base = urls
      .where(lower(regexp_extract(col("url"), UrlHostRe, 1)) =!= "")
      .select(urlDomain.as("domain"), col("url")).distinct()
      .withColumn("h", md5(col("url")))
      .withColumn("bkt", substring(col("h"), 1, 2))
    val inBkt = row_number().over(
      Window.partitionBy(col("domain"), col("bkt")).orderBy(col("h"), col("url")))
    val ranked = base.withColumn("r", inBkt)
    val offsets = base.groupBy(col("domain"), col("bkt"))
      .agg(count(lit(1)).as("n"))
      .withColumn("off", coalesce(sum(col("n")).over(
        Window.partitionBy(col("domain")).orderBy(col("bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("domain"), col("bkt"), col("off"))
    ranked.join(offsets, Seq("domain", "bkt"))
      .select(col("url"), col("domain"),
        (col("off") + col("r") - 1).cast("bigint").as("slot"),
        ((col("off") + col("r") - 1) * delayMs).cast("bigint").as("sched_ms"))
  }

  /** Crawl snapshot diff — the change-data-capture step of a refresh
    * crawl: given the previous and current snapshot of the corpus
    * (keyed by doc_id / url), classify every document as
    * added / removed / changed / unchanged and, for changed documents,
    * report how MUCH changed (distinct-word-set Jaccard in integer
    * basis points — the signal that decides re-extraction vs a cheap
    * metadata touch). This is what bounds incremental pipeline work:
    * only `changed` + `added` rows re-enter extraction, and q65's
    * incremental near-dup consumes exactly that slice.
    *
    * Relational shape: ONE full-outer equi-join on the key; identity
    * is the q8/q12 fingerprint (computed in the projection feeding the
    * join — changed-vs-unchanged costs a string compare, not a text
    * diff); the word-set Jaccard runs only on rows already known
    * `changed` (array set ops once per changed row — the bounded
    * minority in a real refresh). No window, no second shuffle.
    *
    * Output: (doc_id, status, jaccard_bp) — jaccard_bp is NULL except
    * for `changed` rows (10000 = word-identical reorder/whitespace
    * edit, 0 = disjoint).
    */
  def snapshotDiff(oldSnap: DataFrame, newSnap: DataFrame): DataFrame = {
    def prep(df: DataFrame, side: String) = df.select(
      col("doc_id"),
      TextOps.fingerprint(col("text")).as(s"fp_$side"),
      Dedup.wordSet(col("text")).as(s"ws_$side"))
    val joined = prep(oldSnap, "old")
      .join(prep(newSnap, "new"), Seq("doc_id"), "full_outer")
    val uni = size(array_union(col("ws_old"), col("ws_new"))).cast("bigint")
    val changed = col("fp_old").isNotNull && col("fp_new").isNotNull &&
      col("fp_old") =!= col("fp_new")
    joined.select(
      col("doc_id"),
      when(col("fp_old").isNull, "added")
        .when(col("fp_new").isNull, "removed")
        .when(col("fp_old") === col("fp_new"), "unchanged")
        .otherwise("changed").as("status"),
      when(changed,
        // both-empty word sets (punctuation-only diff) count as
        // word-identical: 10000 bp. `div`, not `/` — Column./ is FP
        when(uni > 0, expr(
          "CAST(size(array_intersect(ws_old, ws_new)) AS BIGINT) * 10000" +
            " div CAST(size(array_union(ws_old, ws_new)) AS BIGINT)"))
          .otherwise(lit(10000L)))
        .cast("bigint").as("jaccard_bp"))
  }

  /** robots.txt-aware frontier filtering — the companion to
    * [[crawlSchedule]]: parse each domain's robots.txt and give every
    * frontier URL a verdict under the standard longest-match rule
    * (Google REP semantics: the most specific matching rule wins;
    * Allow wins a length tie; no matching rule or no robots.txt =
    * allowed).
    *
    * The parser is fully relational — no UDF, no driver loop: lines
    * via ONE posexplode, comment strip + directive split as codegen'd
    * regexes, rule GROUPS via the gaps-and-islands trick (a group
    * starts at a User-agent line whose previous line is not one —
    * consecutive UA lines share the group, per the REP), `*` groups
    * selected by an EXISTS-style semi-join, and the per-URL longest
    * match as one row_number window over the url×rule prefix join.
    * Scope fences (documented subset): exact `*` agent match only, no
    * `$`/`*` wildcards inside rule paths, path-only matching (no
    * query), prefix semantics via substring equality — identical in
    * both engines, no LIKE-escaping hazards.
    *
    * Scale shape: robots tables are domain-sized (tiny next to the
    * frontier) — the rule join broadcasts; the verdict window
    * partitions by url over only that url's matching rules. Input:
    * `frontier(url)`, `robots(domain, robots_txt)`. Output one row per
    * parseable distinct url: (url, domain, matched_rule, allowed).
    */
  /** k-anonymity audit over quasi-identifier columns — the
    * re-identification risk check a corpus release runs after PII
    * masking (q33 removes direct identifiers; a RARE combination of
    * quasi-identifiers — source × language × size bucket — can still
    * single a document out). Reports every equivalence class smaller
    * than k: those are the groups a release would suppress or
    * generalize. One map-side-combinable groupBy on the
    * quasi-identifier key; no windows, no joins.
    */
  def kAnonymityViolations(df: DataFrame, keys: Seq[String], k: Long): DataFrame = {
    require(keys.nonEmpty, "no quasi-identifier columns")
    require(k >= 2, "k must be >= 2")
    df.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).cast("bigint").as("n"))
      .where(col("n") < k)
  }

  /** Blocking-quality metrics for entity resolution — pairs
    * completeness (recall of gold duplicate pairs inside the blocking
    * scheme's candidate set) and reduction ratio (candidate pairs vs
    * all C(n,2)) — the q173 discipline applied to BLOCKING
    * evaluation: every pair count is a sum of per-group C(s,2) over
    * group SIZES (gold key, block key, and their intersection), so
    * nothing quadratic is ever materialized. A gold pair is covered
    * exactly when both members share a block, i.e. it lives in one
    * (gold, block) cell — the contingency identity. Integer ppm
    * ratios, truncating div (q62 rule).
    *
    * Input: (id, gold_key, block_key) rows, one per item. Output: ONE
    * row (n_items, n_gold_pairs, n_cand_pairs, n_covered, recall_ppm,
    * reduction_ppm).
    */
  def blockingQuality(items: DataFrame): DataFrame = {
    val it = items.select(col("id").cast("string").as("id"),
      col("gold_key").cast("string").as("gk"),
      col("block_key").cast("string").as("bk")).distinct()
      .localCheckpoint(true) // consumed by four censuses
    def pairSum(keys: Seq[String]) =
      it.groupBy(keys.map(col): _*).agg(count(lit(1)).as("s"))
        .agg(coalesce(sum(expr("s * (s - 1) div 2")), lit(0L)).as("p"))
    val n = it.agg(count(lit(1)).as("n"))
    n.crossJoin(pairSum(Seq("gk")).withColumnRenamed("p", "gold"))
      .crossJoin(pairSum(Seq("bk")).withColumnRenamed("p", "cand"))
      .crossJoin(pairSum(Seq("gk", "bk")).withColumnRenamed("p", "cov"))
      .select(col("n").cast("bigint").as("n_items"),
        col("gold").cast("bigint").as("n_gold_pairs"),
        col("cand").cast("bigint").as("n_cand_pairs"),
        col("cov").cast("bigint").as("n_covered"),
        expr("CASE WHEN gold > 0 THEN cov * 1000000 div gold ELSE 0 END")
          .cast("bigint").as("recall_ppm"),
        expr("CASE WHEN n > 1 THEN (n * (n - 1) div 2 - cand) * 1000000 div (n * (n - 1) div 2) ELSE 0 END")
          .cast("bigint").as("reduction_ppm"))
  }

  /** Corpus mix-drift report — observed per-source share vs a target
    * weight table (the sampling-mix contract a training run declares;
    * DoReMi-style reweighting wants exactly this delta as its input
    * signal). FULL OUTER join so both drift directions surface:
    * over/under-represented sources AND target sources with zero
    * observations. Shares are truncating integer ppm of the corpus
    * total (q62 rule); drift is the signed difference of two
    * non-negative ppms (the q160 subtraction regime).
    */
  def mixDrift(df: DataFrame, targets: DataFrame): DataFrame = {
    val obs = df.groupBy(col("source").cast("string").as("source"))
      .agg(count(lit(1)).as("n_docs"))
    val total = obs.agg(sum(col("n_docs")).as("total"))
    val t = targets.select(col("source").cast("string").as("source"),
      col("target_ppm").cast("bigint").as("target_ppm"))
    obs.crossJoin(broadcast(total))
      .select(col("source"), col("n_docs"),
        expr("n_docs * 1000000 div total").as("obs_ppm"))
      .join(t, Seq("source"), "full_outer")
      .select(col("source"),
        coalesce(col("n_docs"), lit(0L)).cast("bigint").as("n_docs"),
        coalesce(col("obs_ppm"), lit(0L)).cast("bigint").as("obs_ppm"),
        coalesce(col("target_ppm"), lit(0L)).cast("bigint").as("target_ppm"),
        (coalesce(col("obs_ppm"), lit(0L)) - coalesce(col("target_ppm"), lit(0L)))
          .cast("bigint").as("drift_ppm"))
  }

  /** Cohen's kappa inter-rater agreement in integer ppm — the
    * eval-harness agreement metric (LLM-judge vs human labels, two
    * classifier generations, annotation QA). Input: one row per item
    * with label columns (a, b). ONE corpus-sized map-side-combinable
    * groupBy builds the (a, b) contingency cells; every further
    * aggregate runs on the k² cell table (checkpointed — multi-
    * consumed). po/pe are truncating ppm (q62 rule); pe's N²
    * denominator rides the nested floor-div identity
    * `(x div N) div N == x div N²` so the BIGINT products never meet
    * an N² literal (the 1e12-row path widens the cell products to
    * decimal(38,0) — the q70 HUGEINT note); kappa's numerator is the
    * single signed value, sign-cased so every division sees
    * non-negative operands (the q164 discipline — Spark `div` ==
    * DuckDB `//` only there).
    */
  def agreementKappa(labels: DataFrame): DataFrame = {
    val cells = labels.select(col("a").cast("string").as("a"),
        col("b").cast("string").as("b"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n"))
      .localCheckpoint(true)
    val n = cells.agg(sum(col("n")).as("total"))
    val diag = cells.where(col("a") === col("b"))
      .agg(coalesce(sum(col("n")), lit(0L)).as("agree"))
    val margA = cells.groupBy(col("a").as("k")).agg(sum(col("n")).as("na"))
    val margB = cells.groupBy(col("b").as("k")).agg(sum(col("n")).as("nb"))
    val pe = margA.join(margB, Seq("k"))
      .agg(coalesce(sum(col("na") * col("nb")), lit(0L)).as("penum"))
    n.crossJoin(diag).crossJoin(pe)
      .select(col("total").cast("bigint").as("n_items"),
        expr("agree * 1000000 div total").cast("bigint").as("po_ppm"),
        expr("penum * 1000000 div total div total").cast("bigint").as("pe_ppm"))
      .select(col("n_items"), col("po_ppm"), col("pe_ppm"),
        expr("""CASE WHEN 1000000 - pe_ppm <= 0 THEN 0
                WHEN po_ppm >= pe_ppm THEN (po_ppm - pe_ppm) * 1000000 div (1000000 - pe_ppm)
                ELSE -((pe_ppm - po_ppm) * 1000000 div (1000000 - pe_ppm)) END""")
          .cast("bigint").as("kappa_ppm"))
  }

  def robotsFilter(frontier: DataFrame, robots: DataFrame): DataFrame = {
    // --- parse robots.txt into (domain, applicable allow/disallow rules)
    val lines = robots.select(col("domain"),
        posexplode(split(col("robots_txt"), "\n")).as(Seq("ln", "raw")))
      .select(col("domain"), col("ln"),
        trim(regexp_replace(col("raw"), "#.*$", "")).as("line"))
      .where(col("line") =!= "")
      .select(col("domain"), col("ln"),
        lower(trim(regexp_extract(col("line"), "^([A-Za-z-]+)\\s*:", 1))).as("directive"),
        trim(regexp_extract(col("line"), "^[A-Za-z-]+\\s*:(.*)$", 1)).as("value"))
    val byDom = Window.partitionBy(col("domain")).orderBy(col("ln"))
    val grouped = lines
      .withColumn("prev", lag(col("directive"), 1).over(byDom))
      .withColumn("starts",
        (col("directive") === "user-agent" &&
          (col("prev").isNull || col("prev") =!= "user-agent")).cast("bigint"))
      .withColumn("grp", sum(col("starts")).over(byDom))
    val starGroups = grouped
      .where(col("directive") === "user-agent" && col("value") === "*")
      .select(col("domain"), col("grp")).distinct()
    val rules = grouped
      .join(starGroups, Seq("domain", "grp"), "left_semi")
      .where(col("directive").isin("allow", "disallow") && col("value") =!= "")
      .select(col("domain"), col("value").as("rule"),
        (col("directive") === "allow").as("is_allow"))
      .distinct()
    // --- frontier verdicts under longest-match
    val parsed = frontier
      .where(lower(regexp_extract(col("url"), UrlHostRe, 1)) =!= "")
      .select(col("url"), urlDomain.as("domain"), urlPath.as("path")).distinct()
    val matches = parsed.join(broadcast(rules), Seq("domain"))
      .where(col("path").substr(lit(1), length(col("rule"))) === col("rule"))
    val best = Window.partitionBy(col("url"))
      .orderBy(length(col("rule")).desc, col("is_allow").desc, col("rule").asc)
    val bestMatch = matches.withColumn("rn", row_number().over(best))
      .where(col("rn") === 1)
      .select(col("url"), col("rule").as("mr"), col("is_allow"))
    // urls with no matching rule (or no robots.txt at all) default to allowed
    parsed.join(bestMatch, Seq("url"), "left")
      .select(col("url"), col("domain"),
        coalesce(col("mr"), lit("")).as("matched_rule"),
        coalesce(col("is_allow"), lit(true)).cast("bigint").as("allowed"))
  }

  /** Quality-filter rule bits and thresholds — public so the oracle SQL
    * generator derives its CASE arms from the SAME constants the Spark
    * plan embeds (one source of truth, the q36/q37 pattern). Thresholds
    * are integer (basis points / deci-chars), tuned so each rule fires
    * on a real minority of the synthetic corpus.
    */
  val QfWordsBit = 1L        // word count outside [QfMinWords, QfMaxWords]
  val QfMeanLenBit = 2L      // mean word length outside [4.0, 5.2] chars
  val QfStopwordsBit = 4L    // fewer than QfMinStopHits stopword types
  val QfDupWordsBit = 8L     // bulk token repetition (1 - distinct/total)
  val QfTopWordBit = 16L     // most-frequent-word share
  val QfTopBigramBit = 32L   // most-frequent-bigram share (Gopher top-n-gram)
  val QfSymbolsBit = 64L     // symbol runs ('#', '...') per word
  val QfMinWords = 30
  val QfMaxWords = 90
  val QfMinMwlDeci = 40      // mean word length, deci-chars (40 = 4.0)
  val QfMaxMwlDeci = 52
  val QfMinStopHits = 2
  val QfDupWordBpMax = 6500
  val QfTopWordBpMax = 1400
  val QfTopBigramBpMax = 900
  val QfSymbolBpMax = 1000
  val QfStopwords: Seq[String] = Seq("the", "a", "and")
  val QfSymbolRe = "#|\\.\\.\\."

  /** Composite document-quality FILTER — the verdict step (Gopher-rule
    * style: word-count band, mean word length band, stopword floor,
    * repetition ceilings, symbol ceiling) that real pipelines run over
    * every signal the taggers produced. Emits a reason BITMASK (`flags`,
    * one bit per violated rule) plus the `keep` verdict, so downstream
    * mixing can attribute losses per rule instead of seeing one opaque
    * boolean — the Dolma tagger/mixer contract.
    *
    * Scale shape: the projection rules (count/length/stopword/symbol)
    * are shuffle-free codegen'd column work — mean word length comes
    * from `length(regexp_replace(...))`, never a per-word lambda fold;
    * the repetition rules reuse [[repetitionStats]] through one
    * doc-keyed join. Integer thresholds throughout → DuckDB-exact.
    */
  def qualityFilter(documents: DataFrame): DataFrame = {
    val nw = size(TextOps.words(col("text"))).cast("bigint")
    // total in-word chars without touching the words array: every
    // [a-z0-9] char of the lowered text is in exactly one word
    val sumLen = length(regexp_replace(lower(col("text")), "[^a-z0-9]", "")).cast("bigint")
    val stop = TextOps.stopwordHits(col("text"), QfStopwords)
    val sym = regexp_count(col("text"), lit(QfSymbolRe)).cast("bigint")
    val base = documents
      .select(
        col("doc_id"), nw.as("n_words"), sumLen.as("sum_len"),
        stop.cast("bigint").as("stop_hits"), sym.as("sym"))
      .select(
        col("doc_id"), col("n_words"),
        expr("CAST(CASE WHEN n_words > 0 THEN sum_len * 10 div n_words ELSE 0 END AS BIGINT)").as("mwl"),
        col("stop_hits"),
        expr("CAST(CASE WHEN n_words > 0 THEN sym * 10000 div n_words ELSE 0 END AS BIGINT)").as("sym_bp"))
    val rep = repetitionStats(documents)
    val flags =
      when(col("n_words") < QfMinWords || col("n_words") > QfMaxWords, lit(QfWordsBit)).otherwise(lit(0L)) +
      when(col("mwl") < QfMinMwlDeci || col("mwl") > QfMaxMwlDeci, lit(QfMeanLenBit)).otherwise(lit(0L)) +
      when(col("stop_hits") < QfMinStopHits, lit(QfStopwordsBit)).otherwise(lit(0L)) +
      when(col("dup_word_bp") >= QfDupWordBpMax, lit(QfDupWordsBit)).otherwise(lit(0L)) +
      when(col("top_word_bp") > QfTopWordBpMax, lit(QfTopWordBit)).otherwise(lit(0L)) +
      when(col("top_bigram_bp") > QfTopBigramBpMax, lit(QfTopBigramBit)).otherwise(lit(0L)) +
      when(col("sym_bp") > QfSymbolBpMax, lit(QfSymbolsBit)).otherwise(lit(0L))
    base.join(rep, Seq("doc_id"))
      .select(col("doc_id"), col("n_words"), flags.cast("bigint").as("flags"))
      .withColumn("keep", (col("flags") === 0).cast("bigint"))
  }

  /** Cross-source near-duplication rollup: which pairs of sources
    * duplicate each other, from the MinHash-LSH near-dup pair graph.
    * The operator behind snapshot-overlap curation decisions (drop a
    * crawl snapshot that's 90% contained in another) — per unordered
    * source pair: pair count, mean verified Jaccard (integer basis
    * points), and how many near-dup pairs are INTRA-source vs cross.
    *
    * Scale shape: the pair table is the tiny output of the banded LSH
    * join, so both source lookups are doc-keyed joins against a
    * two-column corpus projection, then one groupBy over at most
    * |sources|² rows.
    */
  def sourceOverlap(documents: DataFrame): DataFrame = {
    val pairs = Dedup.minhashLshMd5(documents, threshold = 0.5)
    val src = documents.select(col("doc_id"), col("source"))
    pairs
      .join(src.select(col("doc_id").as("a"), col("source").as("sa")), Seq("a"))
      .join(src.select(col("doc_id").as("b"), col("source").as("sb")), Seq("b"))
      .select(
        least(col("sa"), col("sb")).as("s1"),
        greatest(col("sa"), col("sb")).as("s2"),
        (col("sa") === col("sb")).cast("bigint").as("intra"),
        floor(col("jaccard") * 10000).cast("bigint").as("jbp"))
      .groupBy(col("s1"), col("s2"))
      .agg(
        count(lit(1)).as("n_pairs"),
        sum(col("intra")).cast("bigint").as("n_intra"),
        sum(col("jbp")).as("sum_jbp"))
      .select(col("s1"), col("s2"), col("n_pairs"), col("n_intra"),
        expr("CAST(sum_jbp div n_pairs AS BIGINT)").as("mean_jaccard_bp"))
  }

  /** Deterministic stratified downsampling: keep a document iff its
    * md5-derived bucket (two hex nibbles of md5(doc_id) → [0, 100))
    * falls under its source's quota percentage. No RNG state — the
    * same row is kept on every retry, every partitioning, and in any
    * engine with md5 (the property .sample() cannot give), so
    * downstream incremental jobs see a STABLE subcorpus. One
    * filter-only pass: no shuffle, no join; the quota map rides along
    * as a literal CASE.
    */
  def stratifiedSample(documents: DataFrame, quotaPct: Map[String, Int],
                       defaultPct: Int = 100): DataFrame = {
    val h = md5(col("doc_id").cast("string"))
    def nibble(i: Int) = {
      val c = substring(h, i, 1)
      (ascii(c) - when(c <= "9", lit(48)).otherwise(lit(87)))
    }
    val bucket = pmod(nibble(1) * 16 + nibble(2), lit(100)).cast("bigint")
    val quota = quotaPct.toSeq.sortBy(_._1).foldLeft(lit(defaultPct)) {
      case (acc, (s, q)) => when(col("source") === s, lit(q)).otherwise(acc)
    }
    documents
      .select(col("doc_id"), col("source"), bucket.as("bucket"))
      .where(col("bucket") < quota)
  }

  /** Registrable domain of a URL string via the shared q36 component
    * patterns: scheme-lowered host, default port stripped, leading
    * `www.` dropped; NULL for unparseable URLs (no scheme://host).
    */
  private[pipeline] def domainOf(u: Column): Column =
    when(lower(regexp_extract(u, UrlHostRe, 1)) =!= "", regexp_replace(hostOf(u), "^www\\.", ""))

  /** The host ladder shared by [[canonicalizeUrls]] and [[domainOf]]:
    * the lower-cased host of `u` with its scheme's default port (:443
    * for https, :80 for http) stripped; "" when `u` has no scheme://host.
    */
  private def hostOf(u: Column): Column = {
    val scheme = lower(regexp_extract(u, UrlSchemeRe, 1))
    val hostport = lower(regexp_extract(u, UrlHostRe, 1))
    when(scheme === "https", regexp_replace(hostport, ":443$", ""))
      .when(scheme === "http", regexp_replace(hostport, ":80$", ""))
      .otherwise(hostport)
  }

  /** DuckDB twin of [[hostOf]] over the SQL expressions `scheme` (the
    * lower-cased scheme) and `hostport` (the lower-cased host).
    */
  private[graft] def hostSql(scheme: String, hostport: String): String =
    s"""CASE WHEN $scheme = 'https' THEN regexp_replace($hostport, ':443$$', '')
       |         WHEN $scheme = 'http' THEN regexp_replace($hostport, ':80$$', '')
       |         ELSE $hostport END""".stripMargin

  /** DuckDB twin of [[domainOf]] over the SQL expression `u`. */
  private[graft] def domainSql(u: String): String =
    s"""CASE WHEN lower(regexp_extract($u, '$UrlHostRe', 1)) <> ''
       |  THEN regexp_replace(
       |    ${hostSql(s"lower(regexp_extract($u, '$UrlSchemeRe', 1))", s"lower(regexp_extract($u, '$UrlHostRe', 1))")}, '^www\\.', '')
       |  ELSE NULL END""".stripMargin

  /** Link-graph construction — the web-graph step between extraction
    * and graph analytics (q56/q60/q69 style ops consume exactly this
    * edge list at web scale): scan each page's html for outbound
    * hrefs, canonicalize BOTH endpoints to registrable domains (the
    * shared q36 patterns — one identity rule for the whole pipeline),
    * and roll up the (src_domain, dst_domain) edge list with link and
    * linking-page counts. Href discovery is the RE2-safe attribute
    * regex, not a strict parse — the RDFa lenient-tokenizer precedent:
    * crawl HTML is mostly malformed, and an attribute scan keeps the
    * links a strict XML parse loses.
    *
    * Scale shape: regexp_extract_all + posexplode stream straight into
    * a distinct-collapse groupBy on (src, dst, url) — the grid
    * discipline: page-level multiplicity collapses BEFORE the
    * edge-level shuffle, so the second groupBy sees at most one row
    * per (edge, page). Domains derive in-projection; unparseable
    * endpoints drop with a NULL filter, never an error.
    */
  def linkGraph(pages: DataFrame): DataFrame = {
    val occ = pages
      .select(col("url"),
        explode(expr("regexp_extract_all(html, 'href=\"([^\"]+)\"', 1)")).as("href"))
      .select(domainOf(col("url")).as("src_domain"),
        domainOf(col("href")).as("dst_domain"), col("url"))
      .where(col("src_domain").isNotNull && col("dst_domain").isNotNull)
    val perPage = occ.groupBy(col("src_domain"), col("dst_domain"), col("url"))
      .agg(count(lit(1)).as("n"))
    perPage.groupBy(col("src_domain"), col("dst_domain"))
      .agg(sum(col("n")).cast("bigint").as("n_links"),
        count(lit(1)).cast("bigint").as("n_pages"))
      .select(col("src_domain"), col("dst_domain"), col("n_links"), col("n_pages"),
        (col("src_domain") === col("dst_domain")).cast("bigint").as("is_internal"))
  }

  /** Per-source percentile calibration — the cross-source score
    * normalization step before any GLOBAL quality threshold: a raw
    * quality score (here lexical diversity, distinct/total words in
    * integer bp — self-contained and exact) means different things in
    * different sources, so each document gets its exact percentile
    * rank WITHIN its source (0..10000 bp), and the downstream cut
    * ("drop the bottom 20% of every source") becomes source-fair.
    *
    * Scale shape: the q73 two-phase rank decomposition applied to a
    * VALUE ordering — a naive per-source dense window funnels each
    * source's whole corpus through one partition; instead rank =
    * row_number within (source, score-BUCKET) + the summed counts of
    * earlier buckets, which equals the naive rank EXACTLY because the
    * bucket (score div bucketWidth) is a monotone prefix of the
    * ordering key (score, doc_id) — the q73 cancellation argument.
    * The offset table is tiny (sources × ≤21 buckets); the heavy
    * window partitions by (source, bucket). Ordering ties break by
    * doc_id, so the percentile is fully deterministic.
    */
  def sourcePercentile(documents: DataFrame, bucketWidth: Int = 500): DataFrame = {
    require(bucketWidth >= 1, "bucket width must be >= 1")
    val base = documents
      .select(col("doc_id"), col("source"), TextOps.words(col("text")).as("words"))
      .select(col("doc_id"), col("source"),
        size(col("words")).as("nw"), size(array_distinct(col("words"))).as("dw"))
      .select(col("doc_id"), col("source"),
        expr("CAST(CASE WHEN nw > 0 THEN dw * 10000 div nw ELSE 0 END AS BIGINT)").as("score"))
      .localCheckpoint(true) // feeds the bucket census AND the ranked side
    val bcnt = base
      .withColumn("bucket", expr(s"score div $bucketWidth"))
      .groupBy(col("source"), col("bucket")).agg(count(lit(1)).as("bn"))
    val bySrc = Window.partitionBy(col("source")).orderBy(col("bucket"))
    val offsets = bcnt
      .withColumn("offset",
        coalesce(sum(col("bn")).over(bySrc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n_src", sum(col("bn")).over(Window.partitionBy(col("source"))))
    val byBucket = Window.partitionBy(col("source"), col("bucket"))
      .orderBy(col("score").asc, col("doc_id").asc)
    base
      .withColumn("bucket", expr(s"score div $bucketWidth"))
      .withColumn("rn", row_number().over(byBucket))
      .join(broadcast(offsets), Seq("source", "bucket"))
      .select(col("doc_id"), col("source"),
        col("score").cast("bigint").as("score"),
        (col("offset") + col("rn")).cast("bigint").as("rank"),
        col("n_src").cast("bigint").as("n_src"),
        expr("CAST((offset + rn - 1) * 10000 div greatest(n_src - 1, 1) AS BIGINT)").as("pct_bp"))
  }

  /** Anchor-text aggregation — the classic web-search relevance signal
    * (anchor words describe the TARGET page better than its own text;
    * every large-scale search/KG stack aggregates them per target):
    * scan `<a href="...">text</a>` tags, canonicalize the target to
    * its registrable domain (the q36/q83 shared identity), tokenize
    * the anchor text, and keep each target domain's top-`k` anchor
    * terms by occurrence count (ties by term — fully deterministic).
    *
    * Scale shape: tag scan + two explodes stream into one map-side-
    * combinable (domain, term) groupBy; top-k is a row_number window
    * over the already-aggregated term table partitioned by domain (the
    * q41 form — the window never sees raw occurrences). The anchor
    * regex is RE2-safe (no lookarounds, single-tag bounded matches).
    */
  def anchorTerms(pages: DataFrame, k: Int = 3): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val tagRe = "<a href=\"[^\"]+\"[^>]*>[^<]*</a>"
    val occ = pages
      .select(explode(expr(s"regexp_extract_all(html, '$tagRe', 0)")).as("tag"))
      .select(
        domainOf(regexp_extract(col("tag"), "href=\"([^\"]+)\"", 1)).as("dst_domain"),
        explode(TextOps.words(regexp_extract(col("tag"), ">([^<]*)</a>", 1))).as("term"))
      .where(col("dst_domain").isNotNull)
    val counts = occ.groupBy(col("dst_domain"), col("term")).agg(count(lit(1)).as("n"))
    val byDom = Window.partitionBy(col("dst_domain"))
      .orderBy(col("n").desc, col("term").asc)
    counts
      .withColumn("rank", row_number().over(byDom))
      .where(col("rank") <= k)
      .select(col("dst_domain"), col("term"),
        col("n").cast("bigint").as("n"), col("rank").cast("bigint").as("rank"))
  }

  /** C4-style line-level corpus dedup (Raffel et al. 2020, the famous
    * "discard all but one of any three-sentence span occurring more
    * than once" cleaning step of C4; CCNet applies the same rule to
    * paragraphs): every duplicated LINE is removed corpus-wide except
    * its first occurrence, and each document is rewritten from its
    * surviving lines. The synthetic corpus has no sentence or newline
    * structure, so the line unit is the fixed non-overlapping
    * `width`-word window over the normalized token stream — the same
    * stand-in q57's chunker uses. This is the third member of the
    * substring-dedup family: q8 dedups whole documents, q34/q38 dedup
    * overlapping windows *everywhere* (both copies cut); lineDedup is
    * the keep-first policy at line granularity.
    *
    * First occurrence = smallest (doc_id, line_idx), encoded as the
    * composite integer `doc_id·2²⁰ + line_idx` so min() is one
    * map-side-combinable aggregate (line_idx < 2²⁰ holds to
    * million-line documents; widen the shift for books). Scale shape:
    * the occurrence stream ships (doc_id, line_idx, 32-hex digest) —
    * hashing INSIDE the once-per-row transform, the measured q34
    * exception — through ONE hash-partitioned window (count + min in
    * the same partition pass, the q34 window-over-groupBy-join
    * discipline); the rebuild joins the per-doc removed-index list
    * (tiny by construction) back and filters each doc's line array in
    * place. A pathologically hot line (a boilerplate footer on every
    * page) concentrates one hash partition — at real scale cap it
    * with the q22 hot-bucket suppression rule before the window; the
    * keep-first semantics only need (cnt, min) which both survive
    * capping via partial aggregation.
    */
  /** Rendezvous (highest-random-weight) shard assignment — the stable
    * output-bucketing rule for a corpus that must RE-shard as it
    * grows: each doc goes to the shard with the highest
    * md5(doc_id:shard) weight, so growing from k to k+1 shards moves
    * ONLY the ~1/(k+1) of keys whose new-shard weight wins — hash-mod
    * would reshuffle (k)/(k+1) of the corpus. Weights compare as hex
    * STRINGS (the q45/q48 md5-prefix rule — no hex-to-int, engines
    * disagree there); the CASE ladder picks the LOWEST index on a
    * (cryptographically impossible) tie, identically in both engines.
    *
    * Output per doc: (shard, shard_plus, moved) under k and k+1 —
    * `moved` can only target the NEW shard, by HRW construction.
    *
    * Scale shape: a pure projection — 2k+1 codegen'd md5s per row, no
    * explode, no shuffle, no state (the q30 filter-only discipline);
    * the assignment is a function of the key alone, so retries,
    * partitioning and corpus growth never move settled keys.
    */
  def rendezvousShards(documents: DataFrame, k: Int = 8): DataFrame = {
    require(k >= 1 && k <= 64, "shard count in [1,64]")
    def h(i: Int) = md5(concat(col("doc_id").cast("string"), lit(s":$i")))
    def shardCol(n: Int): Column = {
      val mx = if (n == 1) h(0) else greatest((0 until n).map(h): _*)
      (0 until n).reverse.foldLeft(lit(-1L): Column)((acc, i) =>
        when(h(i) === mx, lit(i.toLong)).otherwise(acc))
    }
    documents.select(
      col("doc_id"),
      shardCol(k).as("shard"),
      shardCol(k + 1).as("shard_plus"))
      .withColumn("moved", (col("shard") =!= col("shard_plus")).cast("bigint"))
  }

  /** Main-content extraction by link density — the jusText/Readability
    * core heuristic made relational: segment each page into blocks
    * (newline-separated markup lines — the rendered-line segmentation
    * real boilerplate strippers use), strip tags per block, and class
    * a block BOILERPLATE when its anchor-text share of visible text
    * reaches `densityBp`/10000 (nav bars and footers are mostly link
    * text) or its visible text is shorter than `minChars` (chrome
    * fragments). The page's content is the ordered join of its
    * content-block texts. All verdicts are integer basis points; the
    * tag-strip and anchor regexes are RE2-safe (the q31/q33 rule).
    *
    * Scale shape: one posexplode over the line split, per-block
    * codegen regex projections (the anchor-length fold is the
    * sanctioned once-per-row small-array lambda), ONE url-keyed
    * groupBy whose ordered rebuild is the array_sort(collect_list)
    * form — no window over raw blocks, no second shuffle.
    */
  def mainContent(pages: DataFrame, densityBp: Int = 5000, minChars: Int = 10): DataFrame = {
    require(densityBp >= 1 && minChars >= 0, "sane thresholds")
    val blocks = pages
      .select(col("url"), posexplode(split(col("html"), "\n", -1)).as(Seq("idx", "block")))
      .select(col("url"), col("idx"),
        regexp_replace(col("block"), "<[^>]*>", "").as("txt"),
        length(expr("array_join(regexp_extract_all(block, '>([^<]*)</a>', 1), '')"))
          .cast("bigint").as("anchor_chars"))
      .select(col("url"), col("idx"), col("txt"),
        length(col("txt")).cast("bigint").as("txt_chars"), col("anchor_chars"))
      .select(col("url"), col("idx"), col("txt"), col("txt_chars"),
        expr("CAST(anchor_chars * 10000 div greatest(txt_chars, 1) AS BIGINT)").as("density_bp"))
      .withColumn("boiler",
        (col("density_bp") >= densityBp || col("txt_chars") < minChars).cast("bigint"))
    blocks.groupBy(col("url"))
      .agg(
        count(lit(1)).cast("bigint").as("n_blocks"),
        sum(col("boiler")).cast("bigint").as("n_boiler"),
        array_join(
          transform(
            array_sort(collect_list(when(col("boiler") === 0L,
              struct(col("idx"), col("txt"))).otherwise(null))),
            x => x.getField("txt")),
          " ").as("content"))
  }

  /** Per-source template-line removal — the per-site boilerplate rule
    * (nav bars, cookie banners, footers repeat across one site's
    * pages): any line occurring in at least `thrBp`/10000 of a
    * source's documents (and in >= `minDocs` documents) is template,
    * and ALL of its copies are stripped — unlike [[lineDedup]]'s
    * corpus-wide keep-first policy, which keeps the first copy and
    * pools all sources. Line unit = the fixed `width`-word window
    * (the q57/q77 stand-in — the synthetic corpus has no newlines).
    * The verdict is pure integer: template iff
    * `n_docs_with_line * 10000 >= thrBp * n_docs(source)`.
    *
    * Scale shape: the occurrence stream ships (source, doc_id,
    * line_idx, 32-hex md5) only — hashing inside the once-per-row
    * lambda narrows what the Generate boundary materializes (the q34
    * measured exception); the census distinct-collapses per document
    * BEFORE its (source, h) groupBy (the grid discipline — a line
    * repeated inside one doc counts once); per-source doc totals ride
    * a tiny broadcast; removal indices come from ONE equi-join of the
    * occurrence stream against the template set (never a window over
    * raw occurrences); the rebuild is q77's indexed array filter.
    */
  def templateLines(documents: DataFrame, width: Int = 4,
      thrBp: Int = 2500, minDocs: Int = 2): DataFrame = {
    require(width >= 1 && thrBp >= 1 && minDocs >= 1, "positive parameters")
    val base = documents.select(col("doc_id"), col("source"), TextOps.words(col("text")).as("words"))
    val w = col("words")
    val nLines = expr(s"(size(words) + ${width - 1}) div $width").cast("int")
    val hashesExpr = when(size(w) > 0,
      transform(sequence(lit(0), nLines - 1),
        i => md5(concat_ws(" ", slice(w, i * width + 1, lit(width))))))
      .otherwise(array().cast("array<string>"))
    val occ = base.select(col("doc_id"), col("source"),
      posexplode(hashesExpr).as(Seq("line_idx", "h")))
    val srcDocs = base.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    val census = occ.select(col("source"), col("h"), col("doc_id")).distinct()
      .groupBy(col("source"), col("h")).agg(count(lit(1)).as("n_with"))
    val template = census.join(broadcast(srcDocs), Seq("source"))
      .where(col("n_with") >= minDocs &&
        col("n_with") * lit(10000L) >= lit(thrBp.toLong) * col("n_docs"))
      .select(col("source"), col("h"))
    val rm = occ.join(template, Seq("source", "h"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("line_idx"))).as("rm"))
    base
      .join(rm, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("source"),
        expr(s"CAST((size(words) + ${width - 1}) div $width AS BIGINT)").as("n_lines"),
        coalesce(size(col("rm")), lit(0)).cast("bigint").as("n_removed"),
        when(size(w) > 0,
          array_join(
            filter(
              transform(sequence(lit(0), nLines - 1),
                i => concat_ws(" ", slice(w, i * width + 1, lit(width)))),
              (_, i) => not(array_contains(coalesce(col("rm"),
                array().cast("array<integer>")), i))),
            " "))
          .otherwise(lit("")).as("text_clean"))
  }

  def lineDedup(documents: DataFrame, width: Int = 4): DataFrame = {
    require(width >= 1, "line width must be >= 1")
    val base = documents.select(col("doc_id"), TextOps.words(col("text")).as("words"))
    val w = col("words")
    val nLines = expr(s"(size(words) + ${width - 1}) div $width").cast("int")
    // md5 inside the lambda: the Generate boundary materializes 32-hex
    // digests, not raw line strings (the q34 measured exception)
    val hashesExpr = when(size(w) > 0,
      transform(sequence(lit(0), nLines - 1),
        i => md5(concat_ws(" ", slice(w, i * width + 1, lit(width))))))
      .otherwise(array().cast("array<string>"))
    val occ = base.select(col("doc_id"), posexplode(hashesExpr).as(Seq("line_idx", "h")))
      .withColumn("ord", col("doc_id") * lit(1048576L) + col("line_idx"))
    val win = Window.partitionBy(col("h"))
    val removed = occ
      .withColumn("cnt", count(lit(1)).over(win))
      .withColumn("keep_ord", min(col("ord")).over(win))
      .where(col("cnt") >= 2 && col("ord") =!= col("keep_ord"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("line_idx"))).as("rm"))
    base
      .join(removed, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        size(w).cast("bigint").as("n_words"),
        expr(s"CAST((size(words) + ${width - 1}) div $width AS BIGINT)").as("n_lines"),
        coalesce(size(col("rm")), lit(0)).cast("bigint").as("n_removed"),
        when(size(w) > 0,
          array_join(
            filter(
              transform(sequence(lit(0), nLines - 1),
                i => concat_ws(" ", slice(w, i * width + 1, lit(width)))),
              (_, i) => not(array_contains(coalesce(col("rm"),
                array().cast("array<integer>")), i))),
            " "))
          .otherwise(lit("")).as("text_dedup"))
  }

  /** Pairwise entity-resolution evaluation — precision/recall of a
    * predicted clustering against gold labels, WITHOUT materializing
    * any pair set (quadratic per cluster at KG scale): the standard
    * contingency-table identity. With n_ij = |pred=i ∧ gold=j|:
    *   TP        = Σ_ij C(n_ij, 2)
    *   TP + FP   = Σ_i  C(|pred=i|, 2)
    *   TP + FN   = Σ_j  C(|gold=j|, 2)
    * Three map-side-combinable aggregations over the assignment table;
    * C(n,2) = n·(n−1) div 2 keeps everything integer, and the ppm
    * ratios are truncating div (the q62 rule). Output is ONE row:
    * (tp, fp, fn, precision_ppm, recall_ppm) — zero-pair sides yield
    * ppm 0 by the guard, never a division error.
    */
  def pairwiseErMetrics(assignments: DataFrame): DataFrame = {
    val a = assignments.select(
      col(assignments.columns(0)).cast("string").as("id"),
      col(assignments.columns(1)).cast("string").as("pred"),
      col(assignments.columns(2)).cast("string").as("gold"))
    val cell = a.groupBy(col("pred"), col("gold")).agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(expr("n * (n - 1) div 2")), lit(0L)).as("tp"))
    val predT = a.groupBy(col("pred")).agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(expr("n * (n - 1) div 2")), lit(0L)).as("pred_pairs"))
    val goldT = a.groupBy(col("gold")).agg(count(lit(1)).as("n"))
      .agg(coalesce(sum(expr("n * (n - 1) div 2")), lit(0L)).as("gold_pairs"))
    cell.crossJoin(predT).crossJoin(goldT)
      .select(col("tp"),
        (col("pred_pairs") - col("tp")).as("fp"),
        (col("gold_pairs") - col("tp")).as("fn"),
        when(col("pred_pairs") > 0, expr("tp * 1000000 div pred_pairs"))
          .otherwise(lit(0L)).as("precision_ppm"),
        when(col("gold_pairs") > 0, expr("tp * 1000000 div gold_pairs"))
          .otherwise(lit(0L)).as("recall_ppm"))
  }
}
