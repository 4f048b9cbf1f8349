package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import BroadcastGate.broadcastIfSmall
import org.apache.spark.sql.Column

/** Deduplication family for the documents table. Strategy per variant:
  *
  *   - exact: fingerprint groupBy (map-side combinable, one shuffle).
  *   - MinHash+LSH: shingle → seeded-xxhash64 minhash signature →
  *     banding → bucket self-join. Candidates only; verified by exact
  *     Jaccard on the (tiny) candidate set. Pure built-in expressions:
  *     whole-stage codegen end to end, no UDF, no crossJoin.
  *   - SimHash: 32-bit sign-aggregated token hashes, near-dup =
  *     hamming distance ≤ k via bit_count(xor).
  *   - n-gram Jaccard: fully relational (explode → self-join →
  *     count-distinct) so DuckDB can replay it as the oracle.
  *   - embedding cosine: see Similarity (shares the kernel).
  */
object Dedup {

  /** Exact dedup: keep min doc_id per normalized-text fingerprint. */
  def exact(documents: DataFrame): DataFrame =
    documents
      .withColumn("fp", TextOps.fingerprint(col("text")))
      .groupBy(col("fp"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))

  def wordSet(text: Column): Column =
    array_distinct(filter(split(lower(text), "[^a-z0-9]+"), t => t =!= ""))

  /** Word w-shingles (default 3) as a distinct array.
    *
    * NOTE: inlines the tokenizer into the transform lambda — fine for a
    * literal column or ad-hoc use, but on the corpus scan path use
    * [[shingleRows]], which tokenizes once per document (the q29/q31
    * lesson: the inlined `words` AST is cloned into `size` and every
    * `slice`, re-splitting the document per shingle element — measured
    * 5.8s → sub-second at sf0.1 for the explode+distinct stage).
    */
  def shingles(text: Column, w: Int = 3): Column = {
    val words = filter(split(lower(text), "[^a-z0-9]+"), t => t =!= "")
    array_distinct(
      filter(
        transform(sequence(lit(1), greatest(size(words) - (w - 1), lit(1))),
          i => concat_ws(" ", slice(words, i, lit(w)))),
        s => s =!= ""
      )
    )
  }

  /** (doc_id, shingle) occurrence rows with the words array PROJECTED
    * once per document: the transform lambda then references a bounded
    * attribute, not a re-tokenizing expression tree. The shingle array
    * stays a complex expression fed straight to explode (never a
    * projected attribute — the InferFiltersFromGenerate pathology, see
    * Curation.decontaminate). CollapseProject keeps the projection
    * split because `words` is referenced more than once and split() is
    * not cheap.
    */
  private[graft] def shingleRows(documents: DataFrame, w: Int): DataFrame = {
    val wordsExpr = filter(split(lower(col("text")), "[^a-z0-9]+"), t => t =!= "")
    val base = documents.select(col("doc_id"), wordsExpr.as("words"))
    val words = col("words")
    val sh = array_distinct(
      filter(
        transform(sequence(lit(1), greatest(size(words) - (w - 1), lit(1))),
          i => concat_ws(" ", slice(words, i, lit(w)))),
        s => s =!= ""))
    base.select(col("doc_id"), explode(sh).as("s"))
  }

  /** MinHash-LSH near-dup candidate pairs with exact-Jaccard verify.
    * bands*rows must equal nHashes. Hot buckets (more than `maxBucket`
    * members) are suppressed — the standard skew guard: a degenerate
    * bucket would otherwise cost |bucket|^2 join rows at 100 TB, and
    * any pair it would have found recurs in the other bands with
    * near-certainty for genuinely similar documents.
    *
    * Transport discipline (the 100 TB shape): the band self-join carries
    * doc_ids ONLY — never the shingle arrays — and candidate pairs are
    * deduped BEFORE verification, so a pair sharing k bands is verified
    * once, not k times, and the heavy arrays are joined back exactly
    * once per side of each unique pair.
    */
  def minhashLsh(documents: DataFrame, nHashes: Int = 16, bands: Int = 4, threshold: Double = 0.7,
                 maxBucket: Int = 200, shingleWidth: Int = 3): DataFrame = {
    require(bands > 0 && nHashes % bands == 0,
      s"bands ($bands) must evenly divide nHashes ($nHashes)")
    val rows = nHashes / bands
    // Shingle ROWS, not arrays: higher-order array lambdas (transform/
    // aggregate) run INTERPRETED in Spark — the array formulation spent
    // ~2ms/doc in signature computation alone (measured per operator;
    // QueryProbe times the LSH queries end to end), and the subtree
    // recomputed once per consumer. One explode + codegen'd
    // xxhash64 + a map-side-combinable 16-way min groupBy is ~10x
    // cheaper, and no array ever enters a shuffle.
    // eager localCheckpoint: this subtree (scan → explode → distinct)
    // feeds FOUR consumers (signatures, sizes, both sides of the
    // intersection join) and Spark's ReuseExchange does NOT unify them
    // (measured: 8 parquet scans, 0 reused exchanges) — materialize
    // once, read from blocks. Reference-tracked, reclaimed by the
    // ContextCleaner when the result frame is dropped; persist() would
    // instead pin the plan in the CacheManager for the whole session.
    val expl = shingleRows(documents, shingleWidth)
      .select(col("doc_id"), xxhash64(col("s")).as("h"))
      .distinct() // shingle SET semantics
      .localCheckpoint(true)
    val sigCols = (0 until nHashes).map(i => min(xxhash64(col("h"), lit(i))).as(s"m$i"))
    val sig = expl.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
    // banded rows feed three consumers (hot census + both join sides);
    // tiny (bands rows/doc) — checkpoint skips re-running the 16-min
    // groupBy per consumer
    val banded0 = sig.select(
      col("doc_id"),
      posexplode(array((0 until bands).map(b =>
        hash((b * rows until (b + 1) * rows).map(i => col(s"m$i")): _*)): _*))
        .as(Seq("band", "bucket"))
    ).localCheckpoint(true)
    val hot = banded0.groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("n")).where(col("n") > maxBucket)
      .select(col("band"), col("bucket"))
    val banded = banded0.join(broadcast(hot), Seq("band", "bucket"), "left_anti")
    val l = banded.select(col("band"), col("bucket"), col("doc_id").as("a"))
    val r = banded.select(col("band"), col("bucket"), col("doc_id").as("b"))
    val candIds = l.join(r, Seq("band", "bucket"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"))
      .distinct()
    // relational exact-Jaccard verify over the candidate pairs only:
    // intersection via hash-equality join, sizes via groupBy — work
    // proportional to |candidates|, zero array transport
    val sizes = expl.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = candIds
      .join(expl.select(col("doc_id").as("a"), col("h")), Seq("a"))
      .join(expl.select(col("doc_id").as("b"), col("h")), Seq("b", "h"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("ic"))
    val jaccard = col("ic").cast("double") / (col("sza") + col("szb") - col("ic"))
    inter
      .join(sizes.select(col("doc_id").as("a"), col("sz").as("sza")), Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("sz").as("szb")), Seq("b"))
      .where(jaccard >= threshold)
      .select(col("a"), col("b"), round(jaccard, 4).as("jaccard"))
  }

  /** 32-bit SimHash from word hashes; same-bucket pairs within hamming
    * distance ≤ maxHamming. Buckets = 4 x 8-bit chunks (any pair with
    * hamming ≤ 3 shares at least one chunk — pigeonhole), so the join
    * is bucketed, never all-pairs.
    */
  def simhash(documents: DataFrame, maxHamming: Int = 3, maxBucket: Int = 500): DataFrame = {
    // relational sign counters: explode the (distinct) word set, hash
    // each word ONCE with a codegen'd expression, fold all 32 sign sums
    // in one map-side-combinable groupBy — array-lambda folds are
    // interpreted and would cost 32 x |words| lambda evals per doc
    val hw = documents
      .select(col("doc_id"), explode(wordSet(col("text"))).as("w"))
      .select(col("doc_id"), hash(col("w")).as("h"))
    val bitSums = (0 until 32).map(b =>
      sum(when(shiftright(col("h"), b).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"s$b"))
    val agg = hw.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val sim = (0 until 32).map(b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(0L)).reduce((a, b) => a + b)
    val withSim = agg.select(col("doc_id"), sim.as("simhash"))
    // 3 consumers (hot census + both join sides) — materialize the
    // 32-sum signature aggregation once (see minhashLsh census note)
    val chunked0 = withSim.select(
      col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(c => shiftright(col("simhash"), c * 8).bitwiseAND(255)): _*))
        .as(Seq("chunk", "value"))
    ).localCheckpoint(true)
    // hot-chunk suppression: same skew guard as minhashLsh
    val hot = chunked0.groupBy(col("chunk"), col("value"))
      .agg(count(lit(1)).as("n")).where(col("n") > maxBucket)
      .select(col("chunk"), col("value"))
    val chunked = chunked0.join(broadcast(hot), Seq("chunk", "value"), "left_anti")
    val l = chunked.select(col("chunk"), col("value"), col("doc_id").as("a"), col("simhash").as("ha"))
    val r = chunked.select(col("chunk"), col("value"), col("doc_id").as("b"), col("simhash").as("hb"))
    l.join(r, Seq("chunk", "value"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"), bit_count(expr("ha ^ hb")).as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Cross-engine-exact SimHash: bit b of the 32-bit signature comes
    * from hex nibble b of md5(word) (set iff nibble >= 8), sign-summed
    * over the distinct word set. md5 is identical across engines, so
    * this variant is DuckDB-oracle-checkable value-for-value; the
    * production path [[simhash]] uses the cheaper codegen'd murmur
    * hash and is gated by planted-pair tests instead.
    */
  def simhashMd5(documents: DataFrame): DataFrame = {
    // same relational shape as simhash (the oracle SQL is itself
    // relational, so this mirrors it stage for stage)
    val hw = documents
      .select(col("doc_id"), explode(wordSet(col("text"))).as("w"))
      .select(col("doc_id"), md5(col("w")).as("h"))
    val bitSums = (0 until 32).map(b =>
      sum(when(substring(col("h"), b + 1, 1) >= "8", 1).otherwise(-1)).as(s"s$b"))
    val agg = hw.groupBy(col("doc_id")).agg(bitSums.head, bitSums.tail: _*)
    val sim = (0 until 32).map(b =>
      when(col(s"s$b") > 0, lit(1L << b)).otherwise(0L)).reduce((a, b) => a + b)
    agg.select(col("doc_id"), sim.as("simhash"))
  }

  /** Cross-engine-exact SimHash PAIR RECOVERY: the full near-dup
    * pipeline over [[simhashMd5]] signatures — 4×8-bit pigeonhole chunk
    * buckets, hot-chunk suppression, hamming ≤ maxHamming via
    * bit_count(xor) — every step ANSI-replayable (DuckDB has
    * bit_count/xor), so unlike the murmur-based [[simhash]] this
    * variant is oracle-checked value-for-value end to end.
    */
  def simhashMd5Pairs(documents: DataFrame, maxHamming: Int = 3, maxBucket: Int = 500): DataFrame = {
    require(maxHamming <= 3, "4 pigeonhole chunks only guarantee recall for hamming <= 3")
    val withSim = simhashMd5(documents)
    val chunked0 = withSim.select(
      col("doc_id"), col("simhash"),
      posexplode(array((0 until 4).map(c => shiftright(col("simhash"), c * 8).bitwiseAND(255)): _*))
        .as(Seq("chunk", "value")))
      .localCheckpoint(true) // 3 consumers — see minhashLsh census note
    val hot = chunked0.groupBy(col("chunk"), col("value"))
      .agg(count(lit(1)).as("n")).where(col("n") > maxBucket)
      .select(col("chunk"), col("value"))
    val chunked = chunked0.join(broadcast(hot), Seq("chunk", "value"), "left_anti")
    val l = chunked.select(col("chunk"), col("value"), col("doc_id").as("a"), col("simhash").as("ha"))
    val r = chunked.select(col("chunk"), col("value"), col("doc_id").as("b"), col("simhash").as("hb"))
    l.join(r, Seq("chunk", "value"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"), bit_count(expr("ha ^ hb")).cast("bigint").as("hamming"))
      .where(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Cross-engine-exact MinHash-LSH pair recovery: signatures are
    * lexicographic minima of md5("<seed>|" + shingle) strings (a valid
    * random permutation of shingle space), bands are md5 of 3
    * concatenated signature minima — every step replayable in ANSI SQL,
    * so the full candidate-generation + verify pipeline is DuckDB
    * oracle-checked. Same id-only/dedup-first transport discipline as
    * the production [[minhashLsh]].
    */
  def minhashLshMd5(documents: DataFrame, threshold: Double = 0.5, maxBucket: Int = 200,
                    shingleWidth: Int = 3): DataFrame =
    // stage-cached AND eagerly checkpointed: the verified pair graph is
    // tiny (near-dup pairs only) and feeds CC / splits / reps — every
    // consumer after the first reads the materialized rows (verdict-r4
    // #3: each self-contained query re-derived the whole LSH pipeline)
    StageCache.getOrCompute("minhashLshMd5", s"$threshold|$maxBucket|$shingleWidth", documents) {
      // same relational shape as minhashLsh (explode + codegen + groupBy
      // minima — array lambdas are interpreted); md5-string minima and
      // md5 band buckets keep every value replayable in ANSI SQL
      // same materialization points as minhashLsh: expl feeds 4 consumers,
      // banded0 feeds 3 (see the scan/exchange census note there)
      val expl = md5ShingleSet(documents, shingleWidth)
      val banded = md5BandedSuppressed(expl, maxBucket)
      val candIds = banded.select(col("band"), col("bucket"), col("doc_id").as("a"))
        .join(banded.select(col("band"), col("bucket"), col("doc_id").as("b")), Seq("band", "bucket"))
        .where(col("a") < col("b"))
        .select(col("a"), col("b"))
        .distinct()
      md5JaccardVerify(candIds, expl, threshold).localCheckpoint(true)
    }

  /** All LSH candidate pairs with INTEGER-exact intersection/union
    * shingle counts and no threshold gate — the calibration input for
    * dedup threshold sweeps (q204): downstream picks the operating
    * point from per-threshold precision/recall instead of trusting a
    * default. Same stages as [[minhashLshMd5]] (StageCache-shared
    * expl/banded), so a sweep after a dedup run is nearly free; the
    * pair set is bounded by banding + hot-bucket suppression exactly
    * like the gated operator. Bucket-mates always share the argmin
    * shingle of their band minima, so the intersection inner-join
    * drops nothing real (an md5-collision pair with ic = 0 could not
    * pass any positive threshold anyway).
    */
  def scoredPairsMd5(documents: DataFrame, maxBucket: Int = 200,
                     shingleWidth: Int = 3): DataFrame = {
    val expl = md5ShingleSet(documents, shingleWidth)
    val banded = md5BandedSuppressed(expl, maxBucket)
    val candIds = banded.select(col("band"), col("bucket"), col("doc_id").as("a"))
      .join(banded.select(col("band"), col("bucket"), col("doc_id").as("b")), Seq("band", "bucket"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"))
      .distinct()
    val sizes = expl.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    // verify joins in the md5JaccardVerify r6 shape (b-leg broadcast only)
    candIds
      .join(expl.select(col("doc_id").as("a"), col("s")), Seq("a"))
      .join(broadcastIfSmall(expl, 2000000L).select(col("doc_id").as("b"), col("s")), Seq("b", "s"))
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("ic"))
      .join(sizes.select(col("doc_id").as("a"), col("sz").as("sza")), Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("sz").as("szb")), Seq("b"))
      .select(col("a"), col("b"), col("ic").cast("bigint").as("ic"),
        (col("sza") + col("szb") - col("ic")).cast("bigint").as("uc"))
  }

  /** Incremental near-dup — dedup a NEW batch against the EXISTING
    * corpus, the production crawl-refresh shape: candidate pairs come
    * only from old×new band-bucket collisions, never old×old or
    * new×new (those were settled when the old corpus was deduped).
    * Banding, hot-bucket suppression (counted over the FULL bucket,
    * old+new — a bucket hot in the union is hot for the probe too) and
    * the Jaccard verify are byte-identical to [[minhashLshMd5]], so the
    * result is value-exactly the full pair set restricted to
    * cross-batch pairs — which is the DuckDB oracle (q22's SQL plus a
    * one-line batch-parity filter).
    *
    * Scale shape: at 100 TB the old side's (band, bucket, doc_id) index
    * is a precomputed bucketed table — only the new batch pays the
    * shingle/signature cost per refresh, and the candidate join is
    * new-batch-sized, not corpus-sized. Here both sides derive from one
    * pass over the union (the sandbox has no persisted index), but the
    * join topology is already the incremental one.
    *
    * `isNew` maps the doc_id column to the batch predicate — a pure
    * function of doc_id so it evaluates in-projection on both legs
    * without a membership join.
    */
  def minhashLshMd5Incremental(documents: DataFrame, isNew: Column => Column,
                               threshold: Double = 0.5, maxBucket: Int = 200,
                               shingleWidth: Int = 3): DataFrame = {
    val expl = md5ShingleSet(documents, shingleWidth)
    val banded = md5BandedSuppressed(expl, maxBucket)
    val oldSide = banded.where(!isNew(col("doc_id")))
      .select(col("band"), col("bucket"), col("doc_id").as("o"))
    val newSide = banded.where(isNew(col("doc_id")))
      .select(col("band"), col("bucket"), col("doc_id").as("n"))
    val candIds = oldSide.join(newSide, Seq("band", "bucket"))
      .select(least(col("o"), col("n")).as("a"), greatest(col("o"), col("n")).as("b"))
      .distinct()
    md5JaccardVerify(candIds, expl, threshold)
  }

  /** Distinct (doc_id, shingle) rows, eagerly materialized — feeds the
    * signature census, both verify legs and the size census (see the
    * scan/exchange note on [[minhashLsh]]).
    */
  /** The lazy (pre-checkpoint) shingle-set plan — split out so the
    * PipelineSparkSpec scan-pruning pin can inspect the parquet scan
    * that the eager checkpoint in [[md5ShingleSet]] otherwise hides
    * from PlanAudit (checkpointed stages plan as RDD leaves).
    */
  private[pipeline] def md5ShingleSetPlan(documents: DataFrame, shingleWidth: Int): DataFrame =
    shingleRows(documents, shingleWidth)
      .distinct() // shingle SET semantics

  private def md5ShingleSet(documents: DataFrame, shingleWidth: Int): DataFrame =
    // stage-cached: the batch and incremental LSH variants (and any
    // same-width caller) share one materialization per corpus
    StageCache.getOrCompute("md5ShingleSet", s"w=$shingleWidth", documents) {
      md5ShingleSetPlan(documents, shingleWidth).localCheckpoint(true)
    }

  /** (doc_id, band, bucket) rows after hot-bucket suppression —
    * 12 md5-minima signatures in 4 bands of 3, buckets as md5 strings.
    */
  private def md5BandedSuppressed(expl: DataFrame, maxBucket: Int): DataFrame =
    // stage-cached on the (already-checkpointed) shingle frame: batch +
    // incremental LSH share one signature/banding materialization
    StageCache.getOrCompute("md5BandedSuppressed", s"mb=$maxBucket", expl) {
      val sigCols = (0 until 12).map(j => min(md5(concat(lit(s"$j|"), col("s")))).as(s"m$j"))
      val sig = expl.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
      val bucketCols = (0 until 4).map(b =>
        md5(concat(col(s"m${3 * b}"), col(s"m${3 * b + 1}"), col(s"m${3 * b + 2}"))))
      val banded0 = sig.select(
        col("doc_id"),
        posexplode(array(bucketCols: _*)).as(Seq("band", "bucket")))
        .localCheckpoint(true)
      val hot = banded0.groupBy(col("band"), col("bucket"))
        .agg(count(lit(1)).as("n")).where(col("n") > maxBucket)
        .select(col("band"), col("bucket"))
      banded0.join(broadcast(hot), Seq("band", "bucket"), "left_anti")
    }

  /** Exact set-Jaccard verify over candidate id pairs: relational
    * intersection counts against the materialized shingle rows, sizes
    * from the same frame — verify-once-per-pair, id-only transport.
    *
    * Join shape (r6, opt-guide §3.1): the b-side shingle leg
    * broadcasts when the (already materialized) shingle frame's cheap
    * row count says it fits — the fat (cand × shingles-of-a)
    * intermediate then STREAMS through the second join and the
    * map-side partial count instead of being shuffled whole by
    * (b, s). That single hint is the whole change: a first attempt
    * that ALSO checkpointed + broadcast the candidate set regressed
    * the family in clean-window captures (q59 +2.4s, q17 +0.9s) —
    * the extra blocking actions and broadcast builds serialized a
    * previously one-action pipeline, while the a-leg join's inputs
    * are small either way. Row-count-gated with the sort-merge
    * fallback at scale.
    */
  private def md5JaccardVerify(candIds: DataFrame, expl: DataFrame, threshold: Double): DataFrame = {
    val sizes = expl.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    val inter = candIds
      .join(expl.select(col("doc_id").as("a"), col("s")), Seq("a"))
      .join(broadcastIfSmall(expl, 2000000L).select(col("doc_id").as("b"), col("s")), Seq("b", "s"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("ic"))
    val jaccard = col("ic").cast("double") / (col("sza") + col("szb") - col("ic"))
    inter
      .join(sizes.select(col("doc_id").as("a"), col("sz").as("sza")), Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("sz").as("szb")), Seq("b"))
      .where(jaccard >= threshold)
      .select(col("a"), col("b"), round(jaccard, 4).as("jaccard"))
  }

  /** Fully-relational n-gram (word) Jaccard near-dup, blocked by the
    * `source` column: explode tokens → distinct → self-join → counts.
    * Expressible 1:1 in ANSI SQL → DuckDB oracle-checkable.
    *
    * ORACLE-ONLY at scale: the token self-join is quadratic on dense
    * vocabularies by construction. The registered 100 TB scale path for
    * the same semantics is `minhashLsh(..., shingleWidth = 1)` (word-set
    * Jaccard via minhash banding) — registered as x_ngram_jaccard_lsh
    * and included in the sf0.1 bench, where this one is gated to sf0.01
    * correctness runs.
    */
  def ngramJaccard(documents: DataFrame, threshold: Double = 0.5): DataFrame = {
    val toks = documents
      .select(col("doc_id"), col("source"), explode(wordSet(col("text"))).as("token"))
    val sizes = toks.groupBy(col("doc_id").as("sid")).agg(count(lit(1)).as("sz"))
    val l = toks.select(col("source"), col("doc_id").as("a"), col("token"))
    val r = toks.select(col("source"), col("doc_id").as("b"), col("token"))
    l.join(r, Seq("source", "token"))
      .where(col("a") < col("b"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("inter"))
      .join(sizes.withColumnRenamed("sid", "a").withColumnRenamed("sz", "sza"), Seq("a"))
      .join(sizes.withColumnRenamed("sid", "b").withColumnRenamed("sz", "szb"), Seq("b"))
      .select(col("a"), col("b"),
        round(col("inter").cast("double") / (col("sza") + col("szb") - col("inter")), 4).as("jaccard"))
      .where(col("jaccard") >= threshold)
  }

  /** EXACT set-similarity self-join via prefix filtering (the
    * AllPairs/PPJoin family — Bayardo et al. WWW'07, Xiao et al.
    * WWW'08): every pair with shingle-set Jaccard >= tNum/tDen, with no
    * approximation and no all-pairs product. This is the exact
    * complement to the [[minhashLsh]] probabilistic path: LSH can miss
    * pairs; this cannot, by the prefix pigeonhole argument below.
    *
    * Candidate generation: order each document's shingles rarest-first
    * (global document frequency, ties by the shingle string — any
    * consistent total order is correct; rare-first makes prefixes
    * selective) and emit only the first `sz - ceil(t*sz) + 1` shingles
    * as join keys. If J(x,y) >= t then the intersection has at least
    * ceil(t*max(sx,sy)) elements, so x and y must share a shingle
    * inside both prefixes — joining prefixes on the shingle finds every
    * qualifying pair. A size filter (t*sx <= sy <= sx/t, kept in exact
    * integer cross-multiplied form) prunes the rest of the bucket.
    *
    * 100 TB shape: no global rank — the rare-first position is a
    * per-document row_number (one doc_id-partitioned window after one
    * equi-join with the document-frequency table); the self-join runs
    * on the PREFIX rows only (~ (1-t)·|corpus shingles|) carrying ids +
    * two ints; pairs are deduped before the verify joins (the q17
    * discipline). Threshold is a rational tNum/tDen compared by integer
    * cross-multiplication — no FP in candidate math.
    */
  def jaccardPrefixJoin(documents: DataFrame, tNum: Int = 1, tDen: Int = 2,
                        shingleWidth: Int = 3): DataFrame = {
    require(tNum > 0 && tDen >= tNum, "threshold must be in (0,1]")
    import org.apache.spark.sql.expressions.Window
    // expl feeds the df-count, the ranked window AND both verify sides:
    // materialize once (the LSH-family eager-checkpoint rule)
    val expl = shingleRows(documents, shingleWidth)
      .distinct() // shingle SET semantics
      .localCheckpoint(true)
    val byDoc = Window.partitionBy(col("doc_id"))
    // document frequency as a count window over the shingle partition
    // (r6): same value as the former groupBy(s)+join, one expl scan
    // and one exchange fewer — the frequency window needs no ordering
    val ranked = expl
      .withColumn("c", count(lit(1)).over(Window.partitionBy(col("s"))))
      .select(col("doc_id"), col("s"),
        row_number().over(byDoc.orderBy(col("c"), col("s"))).as("pos"),
        count(lit(1)).over(byDoc).as("sz"))
    // minimum overlap ceil(t*sz) = (tNum*sz + tDen - 1) div tDen, all integer
    val minOv = (lit(tNum) * col("sz") + lit(tDen - 1)).divide(lit(tDen)).cast("long")
    // NOT materialized: the self-join legs are canonically identical,
    // so ReuseExchange already computes the ranked window once — an
    // eager checkpoint here only serializes the pipeline (the
    // md5JaccardVerify r6 note: measured q59 +2.4s from the
    // extra-actions variant in a clean-window capture)
    val prefix = ranked
      .where(col("pos") <= col("sz") - minOv + lit(1))
      .select(col("doc_id"), col("s"), col("sz"))
    val candIds = prefix.select(col("s"), col("doc_id").as("a"), col("sz").as("sza"))
      .join(prefix.select(col("s"), col("doc_id").as("b"), col("sz").as("szb")), Seq("s"))
      .where(col("a") < col("b") &&
        lit(tDen) * col("szb") >= lit(tNum) * col("sza") &&
        lit(tDen) * col("sza") >= lit(tNum) * col("szb"))
      .select(col("a"), col("b"))
      .distinct()
    val sizes = expl.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    // verify joins in the md5JaccardVerify r6 shape: only the b-side
    // shingle leg broadcasts (cheap gate on the materialized expl), so
    // the fat (cand × shingles-of-a) intermediate streams through the
    // second join and the partial count without the big exchange
    val inter = candIds
      .join(expl.select(col("doc_id").as("a"), col("s")), Seq("a"))
      .join(broadcastIfSmall(expl, 2000000L).select(col("doc_id").as("b"), col("s")), Seq("b", "s"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("ic"))
    // exact rational threshold: ic/(sza+szb-ic) >= tNum/tDen
    //   <=> tDen*ic >= tNum*(sza+szb-ic), all BIGINT
    inter
      .join(sizes.select(col("doc_id").as("a"), col("sz").as("sza")), Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("sz").as("szb")), Seq("b"))
      .where(lit(tDen) * col("ic") >= lit(tNum) * (col("sza") + col("szb") - col("ic")))
      .select(col("a"), col("b"),
        round(col("ic").cast("double") / (col("sza") + col("szb") - col("ic")), 4).as("jaccard"))
  }

  /** EXACT containment self-join — Broder (1997)'s asymmetric
    * containment c(A,B) = |A∩B| / |A|: catches SUBSET duplication (a
    * short page quoted whole inside a long wrapper, a prefix crawl of
    * a full article) that symmetric Jaccard structurally misses —
    * |A∩B|/|A∪B| is dragged under threshold by the big side even when
    * every token of A sits in B. Emits every unordered pair whose
    * LARGER containment (= ic / min(|A|,|B|) — the smaller set is the
    * contained one) reaches tNum/tDen, verified exactly in integer
    * basis points.
    *
    * Candidates via the [[jaccardPrefixJoin]] prefix filter adapted to
    * the asymmetric threshold — and still LOSSLESS: if
    * ic >= ceil(t·|A|) then A∩B cannot fit inside A's last
    * ceil(t·|A|)−1 rare-first tokens, so some shared token lies in A's
    * first |A|−ceil(t·|A|)+1 tokens (the prefix), and trivially in
    * B's FULL token set. Hence prefix(contained side) ⋈ full(index
    * side) finds every qualifying pair; no size filter applies (that
    * is the asymmetry). One direction of the join suffices because
    * whichever side is contained contributes its prefix.
    *
    * 100 TB shape: the full side is the persisted inverted index the
    * corpus already maintains (q79's layout); only prefixes probe it,
    * and the rare-first ordering keeps every join key's document list
    * short (a token common enough to be in many documents is almost
    * never inside anyone's prefix). Ids + one int through the
    * shuffle; pairs deduped before the verify (the q17 discipline);
    * threshold math is integer cross-multiplication end to end.
    * Selectivity rests on the shingle SPACE dwarfing the corpus's doc
    * count — on the synthetic 31-word vocabulary that means width 3
    * (≈30k shingle types; the q59 choice). Width 2 (961 types) puts
    * EVERY shingle in hundreds of documents' full-index lists and the
    * candidate join degenerates toward all-pairs (measured 44 s vs
    * ~4 s at sf0.1) — the q13 degenerate-vocabulary regime, not a
    * property of real web text.
    */
  def containmentPrefixJoin(documents: DataFrame, tNum: Int = 4, tDen: Int = 5,
                            shingleWidth: Int = 2): DataFrame = {
    require(tNum > 0 && tDen >= tNum, "threshold must be in (0,1]")
    import org.apache.spark.sql.expressions.Window
    val expl = shingleRows(documents, shingleWidth)
      .distinct() // shingle SET semantics
      .localCheckpoint(true) // df census + ranked window + both verify legs
    val byDoc = Window.partitionBy(col("doc_id"))
    // document frequency as a count window over the shingle partition
    // (r6, the jaccardPrefixJoin note): one expl scan/exchange fewer
    val ranked = expl
      .withColumn("c", count(lit(1)).over(Window.partitionBy(col("s"))))
      .select(col("doc_id"), col("s"),
        row_number().over(byDoc.orderBy(col("c"), col("s"))).as("pos"),
        count(lit(1)).over(byDoc).as("sz"))
      .localCheckpoint(true) // feeds the prefix AND the full index side
    val minOv = (lit(tNum) * col("sz") + lit(tDen - 1)).divide(lit(tDen)).cast("long")
    // the contained-side prefix is the SMALL leg of the asymmetric
    // probe join — materialize it and broadcast when it fits (§3.1),
    // so the full-index side is never shuffled for candidates
    val prefix = ranked
      .where(col("pos") <= col("sz") - minOv + lit(1))
      .select(col("doc_id").as("x"), col("s"))
      .localCheckpoint(true)
    val full = ranked.select(col("doc_id").as("y"), col("s"))
    val candIds = broadcastIfSmall(prefix, 2000000L).join(full, Seq("s"))
      .where(col("x") =!= col("y"))
      .select(least(col("x"), col("y")).as("a"), greatest(col("x"), col("y")).as("b"))
      .distinct()
    val sizes = expl.groupBy(col("doc_id")).agg(count(lit(1)).as("sz"))
    // verify joins in the md5JaccardVerify r6 shape (b-leg broadcast only)
    val inter = candIds
      .join(expl.select(col("doc_id").as("a"), col("s")), Seq("a"))
      .join(broadcastIfSmall(expl, 2000000L).select(col("doc_id").as("b"), col("s")), Seq("b", "s"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("ic"))
    inter
      .join(sizes.select(col("doc_id").as("a"), col("sz").as("sza")), Seq("a"))
      .join(sizes.select(col("doc_id").as("b"), col("sz").as("szb")), Seq("b"))
      .where(lit(tDen) * col("ic") >= lit(tNum) * least(col("sza"), col("szb")))
      .select(col("a"), col("b"),
        col("ic").cast("bigint").as("ic"),
        col("sza").cast("bigint").as("sza"),
        col("szb").cast("bigint").as("szb"),
        expr("CAST(ic * 10000 div least(sza, szb) AS BIGINT)").as("contain_bp"))
  }

  /** Edit-distance-1 word pairs via deletion-neighborhood blocking
    * (the FastSS technique) — the typo-tolerant matching primitive
    * entity resolution wants where exact/hash blocking (q8) can't see
    * a one-character variant. Two distinct words are within
    * Levenshtein distance 1 IFF their deletion neighborhoods
    * intersect, where the neighborhood is the word itself plus every
    * single-character deletion: a substitution at i shares both
    * words' delete-at-i variant; an insertion/deletion shares the
    * shorter word itself — so blocking on the exploded neighborhood
    * is LOSSLESS for distance ≤ 1, never a recall gamble like LSH.
    * The levenshtein verify on candidates is belt-and-braces (it
    * also drops distance-2 pairs that collide on a variant, e.g.
    * "ab"/"ba" sharing "a" — deletion-BLOCKING overshoots, the
    * verify is the contract).
    *
    * Scale shape: neighborhoods are built once per DISTINCT word
    * type (a once-per-row transform over ≤ len+1 short strings — the
    * sanctioned small-array lambda), one variant-keyed equi-join,
    * distinct (a, b) candidates, then the codegen levenshtein
    * verify. Variant keys are skew-light (a variant has at most
    * alphabet+1 preimages of each length). Both engines implement
    * classic unweighted Levenshtein — integer-equal (the oracle is
    * the independent all-pairs formulation).
    *
    * Input: a (word) frame. Output: (a, b, dist) with a < b,
    * dist ∈ {0 is impossible on distinct types, so 1}.
    */
  def editDistance1Pairs(wordsDf: DataFrame, maxWordLen: Int = Int.MaxValue): DataFrame = {
    // maxWordLen defaults to UNBOUNDED (r6, ADVICE-r5 #1): the former
    // default cap of 24 silently dropped longer word types while the
    // q215 oracle's all-pairs formulation kept them — latent
    // value-divergence the short synthetic vocabulary masked. A caller
    // that wants the cap (adversarial megabyte "words" cost O(len²)
    // neighborhood bytes) must apply it on BOTH comparison sides.
    val words = wordsDf.select(col("word").cast("string").as("word")).distinct()
      .where(length(col("word")).between(1, maxWordLen))
    val nbr = words.select(col("word"), explode(expr(
      """array_union(
        |  array(word),
        |  transform(sequence(1, length(word)),
        |    i -> concat(substring(word, 1, i - 1), substring(word, i + 1, length(word)))))"""
        .stripMargin)).as("v"))
      .localCheckpoint(true) // consumed by BOTH self-join legs — one
                             // distinct-words shuffle, not two
    val cand = nbr.select(col("word").as("a"), col("v"))
      .join(nbr.select(col("word").as("b"), col("v")), Seq("v"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b")).distinct()
    cand.select(col("a"), col("b"),
        levenshtein(col("a"), col("b")).cast("bigint").as("dist"))
      .where(col("dist") <= 1)
  }

  /** Content-defined chunking dedup census — the storage-layer dedup
    * primitive (the FastCDC/LBFS family): chunk boundaries are set by
    * the CONTENT (positions whose trailing `width`-char window hash
    * clears a bit mask), not by fixed offsets, so a one-char insert
    * shifts only the chunk it lands in — fixed-width chunking (q57)
    * re-aligns everything downstream and loses every duplicate after
    * the edit point. maskBits = 5 ⇒ boundary probability 1/32 ⇒
    * mean chunk ≈ 32 chars on top of the window. No min/max clamp:
    * the clamped variants are greedy-sequential (boundary suppression
    * depends on the previous accepted boundary) and don't fit a
    * relational plan; the unclamped rule is the classic LBFS form.
    *
    * Shape: boundary positions come from the codegen'd Buzhash
    * rolling kernel [[graft.functions.CdcBoundaryEnds]] — O(1) per
    * position inside the whole-stage span (the md5-per-position
    * lambda formulation of the identical rule measured 10.4s at
    * sf0.1; the kernel replaces 8-char digests with a table lookup +
    * rotate + two XORs). Ends = boundaries ∪ {len} (array_union
    * dedups the boundary-at-len case — mirrored by the oracle's
    * UNION), chunks by zip_with over the shifted ends, then ONE
    * corpus-wide map-side-combinable census groupBy on the chunk
    * hash. Docs shorter than the window emit their whole text as one
    * chunk. Output: duplicated chunks only —
    * (chunk_key, chunk_len, n_copies, n_docs, saved_chars).
    */
  def cdcChunkCensus(documents: DataFrame, width: Int = 8,
      maskBits: Int = 5): DataFrame =
    cdcChunks(documents, width, maskBits)
      .groupBy(col("chunk_key"), col("chunk_len"))
      .agg(count(lit(1)).cast("bigint").as("n_copies"),
        countDistinct(col("doc_id")).cast("bigint").as("n_docs"))
      .where(col("n_copies") >= 2)
      .select(col("chunk_key"), col("chunk_len"), col("n_copies"), col("n_docs"),
        ((col("n_copies") - 1) * col("chunk_len")).cast("bigint").as("saved_chars"))

  /** One-row corpus storage-savings summary over the SAME chunking —
    * the go/no-go number a storage-dedup rollout reads first: total
    * chunk count, distinct chunks, total chars, chars saved by
    * keeping one copy per distinct chunk (singletons save 0), and
    * the dedup ratio in truncating ppm (non-negative operands — the
    * q62 div regime). Two map-side-combinable aggregations, nothing
    * else.
    */
  def cdcSummary(documents: DataFrame, width: Int = 8,
      maskBits: Int = 5): DataFrame =
    cdcChunks(documents, width, maskBits)
      .groupBy(col("chunk_key"), col("chunk_len"))
      .agg(count(lit(1)).as("nc"))
      .agg(sum(col("nc")).cast("bigint").as("n_chunks"),
        count(lit(1)).cast("bigint").as("n_distinct_chunks"),
        sum(col("nc") * col("chunk_len")).cast("bigint").as("total_chars"),
        sum((col("nc") - 1) * col("chunk_len")).cast("bigint").as("saved_chars"))
      .select(col("n_chunks"), col("n_distinct_chunks"), col("total_chars"),
        col("saved_chars"),
        expr("saved_chars * 1000000 div total_chars").as("dedup_ppm"))

  /** (doc_id, chunk_key, chunk_len) rows of the Buzhash CDC chunking
    * documented on [[cdcChunkCensus]] — shared by the census and the
    * summary.
    */
  private def cdcChunks(documents: DataFrame, width: Int,
      maskBits: Int): DataFrame = {
    require(width >= 2 && width <= 31, "width in [2,31]")
    require(maskBits >= 1 && maskBits <= 24, "maskBits in [1,24]")
    graft.functions.GraftFunctions.register(documents.sparkSession)
    val docs = documents.select(col("doc_id").cast("bigint").as("doc_id"),
        coalesce(col("text").cast("string"), lit("")).as("text"))
      .where(length(col("text")) >= 1)
    val ends = docs.select(col("doc_id"), col("text"), expr(
      s"""array_union(cdc_boundary_ends(text, $width, $maskBits),
         |  array(length(text)))""".stripMargin).as("ends"))
    val chunks = ends.select(col("doc_id"), expr(
      """zip_with(concat(array(0), slice(ends, 1, size(ends) - 1)), ends,
        |  (s, e) -> substring(text, s + 1, e - s))""".stripMargin).as("chunks"))
    chunks.select(col("doc_id"), explode(col("chunks")).as("chunk"))
      .select(col("doc_id"),
        substring(md5(col("chunk")), 1, 12).as("chunk_key"),
        length(col("chunk")).cast("bigint").as("chunk_len"))
  }
}
