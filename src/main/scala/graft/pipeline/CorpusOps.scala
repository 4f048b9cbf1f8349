package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-level statistics and tokenizer-prep operators: sequence
  * packing (the step that turns curated documents into fixed-length
  * training rows), bigram-LM fluency scoring (the CCNet-style
  * frequency-prior quality signal), and TF-IDF-style keyword
  * extraction. All three are integer/exact by construction, so the
  * driver's DuckDB oracle replays them value-for-value (q39-q41).
  */
object CorpusOps {

  /** Vocabulary frequency-of-frequencies spectrum — the corpus-health
    * census behind Zipf-law diagnostics and Good-Turing smoothing
    * inputs: for each token frequency f, how many distinct types occur
    * exactly f times (and how many tokens they carry). Two map-side-
    * combinable shuffles (token counts, then the spectrum over the
    * vocabulary-sized count table); all integers.
    */
  def freqSpectrum(documents: DataFrame): DataFrame = {
    val freq = documents.select(explode(TextOps.words(col("text"))).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
    freq.groupBy(col("f")).agg(count(lit(1)).as("n_types"))
      .select(col("f").cast("bigint").as("f"),
        col("n_types").cast("bigint").as("n_types"),
        (col("f") * col("n_types")).cast("bigint").as("n_tokens"))
  }

  /** Vocabulary-capped PMI co-occurrence — the collocation/association
    * statistic behind phrase mining and topic audits: for word pairs
    * (a, b) of the top-`vocabTop` vocabulary, the document-level
    * pointwise mutual information RATIO `p(a,b)/(p(a)·p(b)) =
    * n_ab·N / (n_a·n_b)` in integer ppm — the monotone core of PMI
    * with the log dropped (the q47 discipline: never put an FP
    * transcendental in an oracle-checked value; rank order is
    * preserved).
    *
    * Scale shape: the quadratic step runs ONLY on the vocabulary-capped
    * token stream — the broadcast top-V semi-join gates the per-doc
    * self-join to ≤ C(V,2) pairs per document, the standard co-occurrence
    * recipe (an unguarded doc-term self-join is quadratic in document
    * length). One corpus shuffle for the distinct (doc, word) stream
    * (materialized once — it feeds the vocab census, the scalar row and
    * both pair legs), one for the pair rollup; N rides a 1-row broadcast
    * cross join. n_ab·N·1e6 stays in BIGINT up to ~3·10^9-doc corpora;
    * beyond that widen to decimal.
    */
  /** Deterministic epoch shuffle — the training-dataloader order/shard
    * assignment step: every document gets an md5 shuffle key derived
    * from (seed, doc_id), its shard is the key's first `hexLen` hex
    * chars (kept as a STRING — the q45/q48 rule: engines disagree on
    * hex→int, never convert), and its position within the shard is the
    * rank by (key, doc_id). Changing the seed permutes everything;
    * replaying the seed reproduces the epoch byte-for-byte on any
    * cluster size — order is a pure function of the data, the property
    * that makes checkpoint-resumable training possible.
    *
    * Scale shape: ONE shuffle (hash-partition by shard) + a sort
    * within each shard — exactly the physical layout a dataloader
    * wants (each worker reads its shard in position order). Shard
    * count is 16^hexLen: pass 2-3 at corpus scale so no shard exceeds
    * a worker's slice; the within-shard sort is the per-partition
    * kind, never a global order.
    */
  def epochShuffle(documents: DataFrame, seed: String = "ep0", hexLen: Int = 1): DataFrame = {
    require(hexLen >= 1 && hexLen <= 8, "shard prefix must be 1-8 hex chars")
    val keyed = documents.select(col("doc_id"),
      md5(concat(lit(seed), lit(":"), col("doc_id").cast("string"))).as("k"))
      .withColumn("shard", substring(col("k"), 1, hexLen))
    keyed.withColumn("pos",
        row_number().over(Window.partitionBy(col("shard")).orderBy(col("k"), col("doc_id")))
          .cast("bigint"))
      .select(col("doc_id"), col("shard"), col("pos"))
  }

  def pmiCooccur(documents: DataFrame, vocabTop: Int = 64, minPair: Long = 5): DataFrame = {
    require(vocabTop >= 2, "vocabulary cap must be >= 2")
    val toks = documents
      .select(col("doc_id"), explode(Dedup.wordSet(col("text"))).as("w"))
      .localCheckpoint(true) // vocab census + scalars + both pair legs
    val cw = toks.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val vocab = cw.orderBy(col("cnt").desc, col("w").asc).limit(vocabTop)
    val scalars = toks.agg(countDistinct(col("doc_id")).as("n_docs"))
    val tv = toks.join(broadcast(vocab.select(col("w"))), Seq("w"))
    val pairs = tv.select(col("doc_id"), col("w").as("wa"))
      .join(tv.select(col("doc_id"), col("w").as("wb")), Seq("doc_id"))
      .where(col("wa") < col("wb"))
      .groupBy(col("wa"), col("wb")).agg(count(lit(1)).as("n_ab"))
      .where(col("n_ab") >= minPair)
    pairs // marginals come from the bounded vocab table, never all of cw
      .join(broadcast(vocab.select(col("w").as("wa"), col("cnt").as("n_a"))), Seq("wa"))
      .join(broadcast(vocab.select(col("w").as("wb"), col("cnt").as("n_b"))), Seq("wb"))
      .crossJoin(broadcast(scalars))
      .select(col("wa"), col("wb"), col("n_ab"), col("n_a"), col("n_b"), col("n_docs"),
        expr("n_ab * n_docs * 1000000 div (n_a * n_b)").as("pmi_ratio_ppm"))
  }

  /** Leakage-safe train/val split — the post-dedup split recipe: the
    * split key is the document's near-dup CLUSTER (connected component
    * of the near-dup graph), not the document, so near-duplicates can
    * never straddle train and val (the classic eval-contamination
    * bug: a val doc whose near-twin sits in train). Docs on no pair
    * cluster as themselves. Assignment is md5("split|" + cluster)
    * first hex digit < 'c' → train (12/16 = 75%), else val —
    * deterministic, engine-exact (hex prefixes stay STRINGS, the
    * q45/q48 rule), and stable under corpus growth: a cluster's split
    * never changes when unrelated docs arrive.
    *
    * Scale shape: one key-partitioned left join of the corpus id
    * stream against the (cluster-member-sized) component table; the
    * hash assignment is a projection. By construction the audit query
    * "near-dup pairs crossing the split" returns zero rows — asserted
    * in the spec, not recomputed here.
    */
  def leakageSplit(documents: DataFrame, components: DataFrame): DataFrame = {
    val labeled = documents.select(col("doc_id"))
      .join(components.withColumnRenamed("node", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("component"), col("doc_id")).cast("bigint").as("cluster"))
    labeled.select(col("doc_id"), col("cluster"),
      when(substring(md5(concat(lit("split|"), col("cluster").cast("string"))), 1, 1) < "c",
        "train").otherwise("val").as("split"))
  }

  /** Sequence packing — concat-and-chunk: documents are laid out
    * end-to-end in deterministic (source, doc_id) order, one EOS token
    * appended per document, and the stream is cut into fixed
    * `seqLen`-token training sequences. Emits, per document, where its
    * tokens land: the starting token offset within its source's
    * stream, the first and last chunk it touches, its offset inside
    * the first chunk, and how many chunks it spans.
    *
    * Scale shape: packing is PER SOURCE SHARD (`partitionBy(source)`),
    * which is both what real pipelines do (each input shard packs
    * independently; chunk ids are scoped to the shard) and what keeps
    * the plan scale-safe — a corpus-global running sum would funnel
    * 100 TB through one window partition, while per-shard prefix sums
    * parallelize across sources with ONE shuffle on the source key.
    * Token counts are whitespace tokens (the q9 `tokens` column) + 1
    * EOS, all arithmetic integer.
    */
  def packChunks(documents: DataFrame, seqLen: Int = 512): DataFrame = {
    require(seqLen >= 2, "sequence length must be >= 2")
    val ntok = TextOps.tokenCount(col("text")) + lit(1L) // + EOS
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    documents
      .select(col("doc_id"), col("source"), ntok.cast("bigint").as("n_tokens"))
      .withColumn("start_tok",
        coalesce(sum(col("n_tokens")).over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(
        col("doc_id"), col("source"), col("n_tokens"), col("start_tok"),
        expr(s"start_tok div $seqLen").as("chunk_first"),
        expr(s"(start_tok + n_tokens - 1) div $seqLen").as("chunk_last"),
        expr(s"start_tok % $seqLen").as("chunk_offset"),
        expr(s"(start_tok + n_tokens - 1) div $seqLen - start_tok div $seqLen + 1")
          .as("n_chunks"))
  }

  /** Bigram-LM fluency scoring — the frequency-prior half of a
    * CCNet-style quality filter: score each document by how common its
    * word bigrams are corpus-wide. Fluent text reuses the corpus's
    * high-frequency transitions; gibberish, boilerplate keyboards and
    * mojibake sit in the hapax tail. Emits per document the bigram
    * count, the summed corpus frequency of its bigram occurrences, the
    * mean frequency ×100 (integer div) and the hapax share in basis
    * points (bigrams seen exactly once corpus-wide — the "no LM has
    * ever seen this transition" signal).
    *
    * Scale shape: corpus-wide bigram frequencies come from a COUNT
    * window over the bigram-hash partition — the q34 lesson: the
    * occurrence stream is the corpus-sized thing, and the window form
    * shuffles it ONCE where groupBy-then-join shuffles it twice. The
    * per-doc rollup is a map-side-combinable groupBy. Bigrams are
    * md5-hashed inside the once-per-row transform so the Generate
    * boundary materializes 32-hex digests, not raw word pairs.
    */
  def bigramLm(documents: DataFrame): DataFrame = {
    val base = documents.select(col("doc_id"), TextOps.words(col("text")).as("words"))
    val w = col("words")
    val bgExpr = when(size(w) >= 2,
      transform(sequence(lit(1), size(w) - 1),
        i => md5(concat(element_at(w, i), lit(" "), element_at(w, i + 1)))))
      .otherwise(array().cast("array<string>"))
    val occ = base.select(col("doc_id"), explode(bgExpr).as("h"))
    val counted = occ
      .withColumn("cnt", count(lit(1)).over(Window.partitionBy(col("h"))))
    val perDoc = counted.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nbg"),
        sum(col("cnt")).as("cnt_sum"),
        sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("hapax"))
    documents.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("nbg"), lit(0L)).cast("bigint").as("n_bigrams"),
        coalesce(col("cnt_sum"), lit(0L)).cast("bigint").as("cnt_sum"),
        expr("CAST(CASE WHEN coalesce(nbg, 0) > 0 THEN cnt_sum * 100 div nbg ELSE 0 END AS BIGINT)")
          .as("mean_cnt_x100"),
        expr("CAST(CASE WHEN coalesce(nbg, 0) > 0 THEN hapax * 10000 div nbg ELSE 0 END AS BIGINT)")
          .as("hapax_bp"))
  }

  /** Unigram-LM surprisal quality scoring — the information-theoretic
    * half of a CCNet-style perplexity filter: score each document by
    * the summed Shannon surprisal of its tokens under the corpus's own
    * unigram model, `−log2 p(w) = log2(N / cnt_w)`. Fluent prose leans
    * on common words (low mean surprisal); mojibake, id dumps and
    * hapax-heavy noise score high. Complements q40 (mean bigram
    * FREQUENCY — a linear-scale signal) with the log-scale per-token
    * information content real perplexity filters threshold on.
    *
    * Cross-engine exactness: surprisal is quantized to WHOLE BITS,
    * which needs no FP at all — `floor(log2(N / c))` equals
    * `floor(log2(N div c))` (flooring a real x ≥ 1 cannot cross a
    * power of two, since 2^k is an integer and x ≥ 2^k implies
    * floor(x) ≥ 2^k), and `floor(log2(m)) = length(bin(m)) − 1` where
    * both engines' `bin()` renders a positive BIGINT without leading
    * zeros (Long.toBinaryString == DuckDB bin). Per-doc mean is the
    * usual truncating `div` on non-negative integers ×100.
    *
    * Scale shape: the exploded token stream feeds two map-side-
    * combinable groupBys — the vocab census (vocab-sized output) and
    * the per-(doc, word) tf table (the q41 shape: tf collapses the
    * corpus BEFORE any join, so the bits join touches distinct
    * (doc, word) pairs, never raw occurrences). N rides a 1-row
    * broadcast cross join onto the vocab-sized frame only; per-word
    * bits are computed there (vocab-sized arithmetic) and joined back
    * unhinted — AQE broadcasts a small vocab, shuffles a web-scale
    * one. Explode is evaluated twice (census + tf) — the q45 call:
    * two passes over a cheap projection beat materializing the
    * exploded corpus.
    */
  def surprisalBits(documents: DataFrame): DataFrame = {
    val occ = documents.select(col("doc_id"), explode(TextOps.words(col("text"))).as("w"))
    val freq = occ.groupBy(col("w")).agg(count(lit(1)).as("cnt"))
    val scalars = freq.agg(sum(col("cnt")).as("n_total"))
    val kw = freq.crossJoin(broadcast(scalars))
      .select(col("w"),
        (length(bin(expr("n_total div cnt"))) - 1).cast("bigint").as("k"))
    val tf = occ.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c_dw"))
    val perDoc = tf.join(kw, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c_dw")).as("ntok"), sum(col("c_dw") * col("k")).as("bits"))
    documents.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(
        col("doc_id"),
        coalesce(col("ntok"), lit(0L)).cast("bigint").as("n_tokens"),
        coalesce(col("bits"), lit(0L)).cast("bigint").as("surprisal_bits"),
        expr("CAST(CASE WHEN coalesce(ntok, 0) > 0 THEN bits * 100 div ntok ELSE 0 END AS BIGINT)")
          .as("mean_centibits"))
  }

  /** CCNet-style bigram language-model quality scoring (Wenzek et al.
    * 2020, arXiv:1911.00359 — there a 5-gram KenLM; the bigram order
    * keeps the model corpus-trainable here while preserving the
    * operator shape): train add-one-smoothed bigram surprisals on the
    * deterministic `doc_id % 2 = 0` half, score EVERY document by its
    * mean bits-per-bigram under that model — low mean bits ≈ fluent,
    * in-distribution text; high ≈ noise (the CCNet head/middle/tail
    * cut is a quantile over exactly this score).
    *
    * Cross-engine exactness: per-bigram bits are the q70 whole-bit
    * primitive applied to the smoothed conditional —
    * `floor(log2((c1+V) div (c2+1)))` via `length(bin(·)) − 1`, exact
    * in both engines; `c2 ≤ c1` and `V ≥ 1` keep the quotient ≥ 1.
    * Bigrams are built INSIDE a once-per-row transform over the token
    * array (the q34 Generate-narrowing exception; Spark `sequence`
    * DESCENDS when start > stop, hence the size guard — DuckDB's
    * list `range` is empty there).
    *
    * Scale shape: the corpus is tokenized into (doc_id, bigram) rows
    * ONCE and eagerly checkpointed — the frame feeds the train
    * aggregation AND the scoring join, and without the checkpoint
    * Catalyst re-expands the interpreted bigram-lambda subtree once
    * per consumer (the LSH builders' measured failure; here 30s →
    * ~2s at sf0.1). Training is ONE map-side-combinable groupBy over
    * the checkpointed frame's even half; the context table c1 derives
    * from the MODEL (sum of c2 over the left word), not a second
    * corpus pass; V is a distinct-count scalar from a words-only
    * projection. Scoring is two model joins (AQE broadcasts them when
    * vocab-bounded) + one doc-keyed count/sum.
    */
  def bigramLmBits(documents: DataFrame): DataFrame = {
    val w = col("words")
    val bigramsExpr = when(size(w) >= 2,
      transform(sequence(lit(1), size(w) - 1),
        i => concat(element_at(w, i), lit(" "), element_at(w, i + 1))))
      .otherwise(array().cast("array<string>"))
    val exploded = documents.select(col("doc_id"), TextOps.words(col("text")).as("words"))
      .select(col("doc_id"), explode(bigramsExpr).as("b"))
      .localCheckpoint(true)
    val c2 = exploded.where(pmod(col("doc_id"), lit(2)) === 0)
      .groupBy(col("b")).agg(count(lit(1)).as("c2"))
    val c1 = c2.groupBy(substring_index(col("b"), " ", 1).as("w1"))
      .agg(sum(col("c2")).as("c1"))
    val vocab = documents.where(pmod(col("doc_id"), lit(2)) === 0)
      .select(explode(TextOps.words(col("text"))).as("t"))
      .agg(countDistinct(col("t")).as("v"))
    val scored = exploded
      .join(c2, Seq("b"), "left")
      .withColumn("w1", substring_index(col("b"), " ", 1))
      .join(c1, Seq("w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("doc_id"),
        (length(bin(expr("(coalesce(c1, 0) + v) div (coalesce(c2, 0) + 1)"))) - 1)
          .cast("bigint").as("k"))
    val perDoc = scored.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("nbg"), sum(col("k")).as("bits"))
    documents.select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("nbg"), lit(0L)).cast("bigint").as("n_bigrams"),
        coalesce(col("bits"), lit(0L)).cast("bigint").as("lm_bits"),
        expr("CAST(CASE WHEN coalesce(nbg, 0) > 0 THEN bits * 100 div nbg ELSE 0 END AS BIGINT)")
          .as("mean_centibits"))
  }

  /** DSIR-style data selection scoring (Xie et al. 2023,
    * arXiv:2302.03169 "Data Selection for Language Models via
    * Importance Resampling"): score each raw document by how much its
    * hashed n-gram features resemble a TARGET corpus relative to the
    * raw corpus — the published recipe for picking pre-training data
    * that matches a high-quality target distribution. Features are
    * unigrams + word bigrams hashed into `16^bucketHexLen` buckets
    * (feature hashing, exactly as in the paper); the target set is the
    * deterministic `doc_id % targetModulus == 0` slice (the q31
    * stand-in for a real curated target corpus).
    *
    * Cross-engine exactness: the per-bucket importance weight is an
    * integer likelihood-ratio surrogate — Laplace-smoothed
    * `(ct+1)·1e6 div (cr+1)` instead of the paper's
    * `log p_T(f) − log p_R(f)` — the q41 technique (same per-feature
    * ordering, no FP logarithm, so DuckDB replays bit-for-bit). A doc's
    * score is the sum of its occurrences' bucket weights; `mean_ratio`
    * normalizes by feature count so long docs don't win by length.
    *
    * Scale shape: bucket hashing happens INSIDE the once-per-row
    * transform (the q34/q40 lesson — the Generate boundary
    * materializes 3-hex bucket keys, never raw grams). The bucket
    * table reduces map-side to ≤ 16^len rows (one tiny shuffle) and is
    * BROADCAST back over the occurrence stream; the only corpus-sized
    * shuffle carries map-side-combined per-doc partials. The explode
    * is evaluated twice (bucket stats + scoring) — two passes over a
    * cheap projection beat materializing the exploded corpus.
    */
  def dsirScore(documents: DataFrame, targetModulus: Int = 37,
                bucketHexLen: Int = 3): DataFrame = {
    require(bucketHexLen >= 1 && bucketHexLen <= 8, "bucket hex length in [1,8]")
    val base = documents.select(col("doc_id"), TextOps.words(col("text")).as("words"),
      (col("doc_id") % targetModulus === 0).as("is_t"))
    val w = col("words")
    val uni = transform(w, x => substring(md5(x), 1, bucketHexLen))
    val bi = when(size(w) >= 2,
      transform(sequence(lit(1), size(w) - 1),
        i => substring(md5(concat(element_at(w, i), lit(" "), element_at(w, i + 1))), 1, bucketHexLen)))
      .otherwise(array().cast("array<string>"))
    val occ = base.select(col("doc_id"), col("is_t"), explode(concat(uni, bi)).as("b"))
    val buckets = occ.groupBy(col("b")).agg(
      sum(when(col("is_t"), 1L).otherwise(0L)).as("ct"),
      sum(when(!col("is_t"), 1L).otherwise(0L)).as("cr"))
    val ratio = buckets.select(col("b"), expr("(ct + 1) * 1000000 div (cr + 1)").as("r"))
    val perDoc = occ.where(!col("is_t"))
      .join(broadcast(ratio), Seq("b"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"), sum(col("r")).as("score_sum"))
    documents.where(col("doc_id") % targetModulus =!= 0).select(col("doc_id"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_feats"), lit(0L)).cast("bigint").as("n_feats"),
        coalesce(col("score_sum"), lit(0L)).cast("bigint").as("score_sum"),
        expr("CAST(CASE WHEN coalesce(n_feats, 0) > 0 THEN score_sum div n_feats ELSE 0 END AS BIGINT)")
          .as("mean_ratio_x1e6"))
  }

  /** BM25 sparse retrieval: score every corpus document against each
    * query document's term set and keep the top `k` per query
    * (Robertson & Walker's Okapi BM25, k1=1.2 b=0.75). Queries are the
    * deterministic `doc_id % qModulus == 0` slice; the corpus is the
    * rest — the q31/q45 stand-in for a real query log.
    *
    * Cross-engine exactness: BM25's two FP pieces are replaced by
    * rational integer forms with the SAME ordering — the idf becomes
    * the scaled odds `(2(N-df)+1)·1e4 div (2df+1)` (the inner ratio of
    * the Robertson-Sparck-Jones idf, monotone-equivalent for fixed N),
    * and the length-normalized tf saturation is multiplied through by
    * `10·TL` so `tf + 1.2·(0.25 + 0.75·dl·N/TL)` becomes the exact
    * integer `10·TL·tf + 3·TL + 9·dl·N`. No logarithm, no division
    * until the final `div`, so DuckDB replays bit-for-bit.
    *
    * Scale shape: ONE corpus-sized shuffle (the (doc,term) tf rollup,
    * map-side combinable); df and dl are COUNT/SUM windows over the
    * already-reduced tf table (the q41 form); the corpus scalars N/TL
    * ride a broadcast single-row cross join; query terms broadcast;
    * the (query,doc) rollup and top-k window touch only candidate
    * pairs. The raw occurrence stream never crosses a shuffle.
    */
  def bm25TopK(documents: DataFrame, qModulus: Int = 41, k: Int = 5): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val corpus = documents.where(col("doc_id") % qModulus =!= 0)
    val queries = documents.where(col("doc_id") % qModulus === 0)
    // NOTE (measured, sf0.1): ~7s warm, dominated by the candidate
    // join+rollup — the synthetic 31-word vocabulary makes EVERY query
    // term match nearly every doc (~18M joined rows for ~600k
    // candidate pairs), the retrieval analogue of the embedding
    // fat-bucket regime; a real vocabulary's posting lists are sparse.
    // A/B'd: eager-checkpointing tf (it is consumed twice) does NOT
    // help (7.4s vs 7.1s) — the double scan is not the bottleneck.
    val tf = corpus.select(col("doc_id"), explode(TextOps.words(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val withStats = tf
      .withColumn("dl", sum(col("tf")).over(Window.partitionBy(col("doc_id"))))
      .withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
    val scalars = tf.agg(
      countDistinct(col("doc_id")).as("n_docs"),
      sum(col("tf")).as("total_tokens"))
    val qterms = queries.select(col("doc_id").as("qid"), explode(TextOps.words(col("text"))).as("term")).distinct()
    val contrib = expr(
      """(2 * (n_docs - df) + 1) * 10000 div (2 * df + 1)
        | * tf * 22 * total_tokens
        | div (10 * total_tokens * tf + 3 * total_tokens + 9 * dl * n_docs)""".stripMargin)
    // contrib is a pure function of the (doc, term) row + the corpus
    // scalars — compute it ONCE per tf row BEFORE the query fan-out
    // join (r6): the joined stream is ~|queries matching term| times
    // larger than tf on a dense vocabulary, and re-deriving the same
    // integer expression per matched query was the stream's hot cost
    val perDocTerm = withStats
      .crossJoin(broadcast(scalars))
      .select(col("term"), col("doc_id"), contrib.as("contrib"))
    val scored = perDocTerm
      .join(broadcast(qterms), Seq("term"))
      .groupBy(col("qid"), col("doc_id"))
      .agg(count(lit(1)).as("n_terms"), sum(col("contrib")).as("score"))
    val byQ = Window.partitionBy(col("qid")).orderBy(col("score").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(byQ))
      .where(col("rank") <= k)
      .select(col("qid"), col("doc_id"),
        col("n_terms").cast("bigint").as("n_terms"),
        col("score").cast("bigint").as("score"),
        col("rank").cast("bigint").as("rank"))
  }

  /** Positional phrase search: exact "w1 w2 ... wn" adjacency matches
    * per document — the retrieval capability tf/BM25 bag-of-words
    * scoring (q41/q47) cannot express, and the standard second stage
    * after candidate retrieval (phrase filters, quoted-query support,
    * n-gram provenance lookup).
    *
    * Relational shape: the token stream becomes a positional posting
    * list (doc_id, i, tok) via ONE posexplode; each phrase term is a
    * FILTER on that stream (pushed next to the scan) and each
    * adjacency is an equi-join on (doc_id, anchor_pos) after shifting
    * the term's position back by its offset — n−1 narrow equi-joins
    * over per-term posting streams, never a per-document loop or a
    * regex over raw text (a regex can't be pushed through tokenizer
    * normalization and re-scans every byte per phrase). At 100 TB the
    * posting table is the thing you'd materialize once (bucketed by
    * term) and reuse across queries; here each term filter re-reads
    * the pruned (doc_id, text) scan, which is the right trade at one
    * query per job.
    *
    * Positions are 1-based (aligning with the DuckDB twin's
    * generate_subscripts). Output: (doc_id, n_matches, first_pos) for
    * documents with ≥1 match.
    */
  def phraseSearch(documents: DataFrame, phrase: Seq[String] = Seq("table", "hash")): DataFrame = {
    require(phrase.size >= 2 && phrase.size <= 8, "phrase length in [2,8]")
    require(phrase.forall(_.matches("[a-z0-9]+")), "terms must be lowercase word tokens")
    val toks = documents
      .select(col("doc_id"), posexplode(TextOps.words(col("text"))).as(Seq("p0", "tok")))
      .select(col("doc_id"), (col("p0") + 1).cast("bigint").as("i"), col("tok"))
    var m = toks.where(col("tok") === phrase.head).select(col("doc_id"), col("i"))
    for (off <- 1 until phrase.size) {
      val shifted = toks.where(col("tok") === phrase(off))
        .select(col("doc_id"), (col("i") - off).as("i"))
      m = m.join(shifted, Seq("doc_id", "i"))
    }
    m.groupBy(col("doc_id")).agg(
      count(lit(1)).cast("bigint").as("n_matches"),
      min(col("i")).cast("bigint").as("first_pos"))
  }

  /** Deterministic HyperLogLog cardinality sketch over the corpus's
    * word-trigram shingles (Flajolet et al. 2007): m=256 registers
    * keyed by the first md5 byte, register value = leading-zero-bit
    * run of the remaining 120 hash bits + 1. Emits ONE row: observed
    * register count, the harmonic denominator in exact 2^40 fixed
    * point (unseen registers contribute 2^0 = full 2^40 weight), the
    * raw harmonic estimate, the alpha_256-corrected estimate, and the
    * exact distinct count for side-by-side verification.
    *
    * Cross-engine exactness: rho comes from string ops on the md5 hex
    * (strip leading '0's, classify the first nonzero nibble by ASCII
    * range — digits sort below 'a'-'f' in both engines), and the
    * harmonic mean is dyadic: `2^(40-rho)` summed as exact integers
    * (rho clamped to 40 — a >2^-40 probability event per item), so
    * the estimate needs no FP anywhere. alpha_256 enters as the
    * integer constant 71827e-5, applied AFTER the division in both
    * engines (identical truncation).
    *
    * Scale shape: THE sketch pattern — the trigram stream collapses
    * map-side to at most 256 (bucket, max rho) partials per task, so
    * the only shuffle carries ≤256 rows per task regardless of input
    * size; the exact-distinct companion column is the expensive thing
    * the sketch replaces (kept here because the oracle wants the
    * ground truth in the same row; drop it at 100 TB).
    */
  def hllTrigramCardinality(documents: DataFrame): DataFrame =
    hllFinalize(hllRegisters(documents, Seq.empty).groupBy())
      .select(col("n_buckets"), col("denom_x2p40"), col("est_raw"),
        col("est_alpha"), col("exact_distinct"))

  /** Per-source HLL — the same sketch GROUPED by `source`, one
    * register set per group: the mergeable-state property that makes
    * HLL the 100-TB primitive (per-partition partial registers combine
    * by max, per-group or globally, in one map-side-combinable pass).
    */
  def hllTrigramsBySource(documents: DataFrame): DataFrame =
    hllFinalize(hllRegisters(documents, Seq("source")).groupBy(col("source")))
      .select(col("source"), col("n_buckets"), col("denom_x2p40"),
        col("est_raw"), col("est_alpha"), col("exact_distinct"))

  /** md5 trigram stream → (group?, bucket, max rho, per-bucket exact
    * distinct) registers.
    */
  private def hllRegisters(documents: DataFrame, groupCols: Seq[String]): DataFrame =
    hllRhoStream(documents, groupCols)
      .groupBy(groupCols.map(col) :+ col("bucket"): _*)
      .agg(max(col("rho")).as("max_rho"), countDistinct(col("h")).as("nd"))

  /** The pre-aggregation register stream (group?, bucket, rho, h) —
    * package-visible so the STREAMING twin can apply the same bucket/
    * rho derivation with a streaming-legal `max` aggregation
    * (countDistinct — the exact-distinct companion — is not streamable
    * and is exactly what the sketch exists to replace).
    */
  private[pipeline] def hllRhoStream(documents: DataFrame, groupCols: Seq[String]): DataFrame = {
    val w = col("words")
    val triExpr = when(size(w) >= 3,
      transform(sequence(lit(1), size(w) - 2),
        i => md5(concat_ws(" ", element_at(w, i), element_at(w, i + 1), element_at(w, i + 2)))))
      .otherwise(array().cast("array<string>"))
    val gc = groupCols.map(col)
    val h = documents.select(gc :+ TextOps.words(col("text")).as("words"): _*)
      .select(gc :+ explode(triExpr).as("h"): _*)
    val stripped = regexp_replace(substring(col("h"), 3, 30), "^0+", "")
    val nib = substring(stripped, 1, 1)
    val rho = when(length(stripped) === 0, lit(121))
      .otherwise((lit(30) - length(stripped)) * 4 + lit(1) +
        when(nib >= "8", 0).when(nib >= "4", 1).when(nib >= "2", 2).otherwise(3))
    h.select(gc ++ Seq(substring(col("h"), 1, 2).as("bucket"), rho.as("rho"), col("h")): _*)
  }

  /** Registers → (n_buckets, dyadic harmonic denominator, raw and
    * alpha-corrected estimates, exact distinct) per group.
    */
  private def hllFinalize(grouped: org.apache.spark.sql.RelationalGroupedDataset): DataFrame =
    grouped.agg(
      count(lit(1)).as("n_buckets_raw"),
      sum(expr("CAST(shiftleft(CAST(1 AS BIGINT), CAST(40 - least(max_rho, 40) AS INT)) AS BIGINT)"))
        .as("denom_obs"),
      sum(col("nd")).as("exact_distinct_raw"))
      .withColumn("n_buckets", col("n_buckets_raw").cast("bigint"))
      .withColumn("denom_x2p40",
        expr("CAST(denom_obs + (256 - n_buckets) * CAST(shiftleft(CAST(1 AS BIGINT), 40) AS BIGINT) AS BIGINT)"))
      .withColumn("exact_distinct", col("exact_distinct_raw").cast("bigint"))
      .withColumn("est_raw",
        expr("CAST(shiftleft(CAST(1 AS BIGINT), 56) div denom_x2p40 AS BIGINT)"))
      .withColumn("est_alpha",
        expr("CAST(shiftleft(CAST(1 AS BIGINT), 56) div denom_x2p40 * 71827 div 100000 AS BIGINT)"))

  /** Sliding-window chunking with overlap — the retrieval-indexing
    * (RAG) complement of q39's training-side packing: each document
    * yields ceil((n-window)/stride)+1 chunks of `window` tokens
    * advancing by `stride` (overlap = window-stride tokens), the last
    * chunk clamped to the document end. Emits per chunk its token
    * span and the chunk text (the token slice re-joined with single
    * spaces — the engine-exact definition; offsets are the contract,
    * the text is a convenience).
    *
    * Scale shape: one explode of per-doc chunk indices (output is
    * chunk-proportional, the point of the operator); the token array
    * is computed once per row and sliced per chunk inside the same
    * projection — no shuffle at all, embarrassingly parallel.
    */
  def chunkSliding(documents: DataFrame, window: Int = 128, stride: Int = 96): DataFrame = {
    require(window >= 1 && stride >= 1 && stride <= window,
      "need 1 <= stride <= window")
    val base = documents.select(col("doc_id"), TextOps.words(col("text")).as("words"))
      .withColumn("n", size(col("words")))
      .where(col("n") > 0)
    // integer ceil: ceil((n-window)/stride) = (n-window+stride-1) div stride
    val nChunks = when(col("n") <= window, lit(1))
      .otherwise(expr(s"CAST((n - $window + $stride - 1) div $stride AS INT) + 1"))
    base
      .withColumn("chunk_idx", explode(sequence(lit(0), nChunks - 1)))
      .select(col("doc_id"), col("chunk_idx").cast("bigint").as("chunk_idx"),
        expr(s"CAST(chunk_idx * $stride AS BIGINT)").as("start_tok"),
        expr(s"CAST(least(chunk_idx * $stride + $window, n) AS BIGINT)").as("end_tok"),
        expr(s"CAST(least(chunk_idx * $stride + $window, n) - chunk_idx * $stride AS BIGINT)")
          .as("n_tokens"),
        expr(s"array_join(slice(words, chunk_idx * $stride + 1, " +
          s"least(chunk_idx * $stride + $window, n) - chunk_idx * $stride), ' ')")
          .as("chunk_text"))
  }

  /** Temperature-resampling mixture weights: per-source sampling
    * shares proportional to `tokens^(1/2)` — the standard multilingual
    * / multi-source re-balancing (temperature τ=2: big sources get
    * down-weighted, small ones up-weighted, exponents between 1 and 0
    * interpolate between natural and uniform mixing). Emits per
    * source its doc/token counts, the integer sqrt weight and the
    * share in ppm.
    *
    * Cross-engine exactness: the only non-integer step is
    * `floor(sqrt(n))` — IEEE-754 sqrt is correctly rounded and n is
    * exactly representable below 2^52, so both engines floor the SAME
    * double; everything after is integer (shares in ppm via div).
    *
    * Scale shape: one map-side-combinable groupBy to per-source
    * counts; the share denominator is a window over the tiny source
    * table. Nothing corpus-sized past the rollup.
    */
  def temperatureMix(documents: DataFrame): DataFrame = {
    val perSource = documents
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(TextOps.tokenCount(col("text"))).as("n_tokens"))
      .withColumn("w", floor(sqrt(col("n_tokens").cast("double"))).cast("bigint"))
    val wTot = Window.partitionBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    perSource
      .withColumn("w_total", sum(col("w")).over(wTot))
      .select(col("source"),
        col("n_docs").cast("bigint").as("n_docs"),
        col("n_tokens").cast("bigint").as("n_tokens"),
        col("w"),
        expr("CAST(w * 1000000 div w_total AS BIGINT)").as("share_ppm"))
  }

  /** Token-budget subsampling — the "sample down to N tokens" step
    * that turns [[temperatureMix]]'s shares into an actual corpus cut:
    * each source gets a quota of `share_ppm·budget div 1e6` tokens and
    * admits its documents in deterministic md5-shuffled order (crawl
    * order would bias the sample toward early ids) while the running
    * token sum stays within quota — a greedy prefix, no FP beyond
    * q55's one sanctioned floor(sqrt), no randomness.
    *
    * Scale shape: the quota table is sources-sized (broadcast); the
    * running sum is ONE source-partitioned ordered window — the corpus
    * never funnels through a single partition. The (ord, doc_id)
    * ordering key is unique, so RANGE-frame (both engines' default)
    * equals ROWS-frame and the cumulative sums replay exactly.
    */
  def budgetSample(documents: DataFrame, budgetTokens: Long): DataFrame = {
    require(budgetTokens >= 1, "budget must be >= 1 token")
    val quotas = temperatureMix(documents)
      .select(col("source"), expr(s"share_ppm * $budgetTokens div 1000000").as("quota"))
    val toks = documents.select(col("source"), col("doc_id"),
      TextOps.tokenCount(col("text")).cast("bigint").as("n_tok"),
      md5(concat(lit("bs|"), col("doc_id").cast("string"))).as("ord"))
    val w = Window.partitionBy(col("source")).orderBy(col("ord"), col("doc_id"))
    toks.withColumn("cum", sum(col("n_tok")).over(w))
      .join(broadcast(quotas), Seq("source"))
      .where(col("cum") <= col("quota"))
      .select(col("source"), col("doc_id"), col("n_tok"),
        col("cum").cast("bigint").as("cum_tokens"))
  }

  /** Count-min sketch heavy hitters (Cormode & Muthukrishnan 2005):
    * estimate every term's corpus frequency through a d=4 × w=4096
    * counter sketch and emit the top-`k` terms by estimate, with the
    * exact count and the sketch's (always non-negative) overestimate
    * side by side. Buckets are md5 hex prefixes keyed per row
    * (`md5("<row>:" || term)`, 3 hex chars → 4096 string buckets — the
    * q45 technique, no hex-to-int conversion either engine would do
    * differently).
    *
    * Scale shape: counts are summed map-side into the (term, tf) table
    * FIRST (one corpus shuffle — sum is associative, so sketching the
    * reduced table is result-identical to sketching raw occurrences),
    * then the ×d row expansion runs over distinct terms only; the
    * sketch itself collapses to ≤ d·w rows and BROADCASTS back for the
    * min-over-rows estimate. Nothing after the tf rollup touches
    * corpus-sized data.
    */
  def countMinTopK(documents: DataFrame, depth: Int = 4, hexLen: Int = 3,
                   k: Int = 10): DataFrame = {
    require(depth >= 1 && depth <= 8, "depth in [1,8]")
    require(hexLen >= 1 && hexLen <= 8, "bucket hex length in [1,8]")
    val tf = documents.select(explode(TextOps.words(col("text"))).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val expanded = tf.select(col("term"), col("cnt"),
        explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .withColumn("bucket",
        substring(md5(concat(col("r").cast("string"), lit(":"), col("term"))), 1, hexLen))
    val sketch = expanded.groupBy(col("r"), col("bucket")).agg(sum(col("cnt")).as("bcnt"))
    val est = expanded.select(col("term"), col("cnt"), col("r"), col("bucket"))
      .join(broadcast(sketch), Seq("r", "bucket"))
      .groupBy(col("term"))
      .agg(max(col("cnt")).as("exact"), min(col("bcnt")).as("cm_est"))
    // global top-k via sort-limit (TakeOrderedAndProject: per-partition
    // TopK then a k-row merge), NOT a row_number window — a global
    // window would funnel the whole term table through one partition;
    // the rank window below touches only the k surviving rows
    val topK = est.orderBy(col("cm_est").desc, col("term").asc).limit(k)
    topK.withColumn("rank",
        row_number().over(Window.orderBy(col("cm_est").desc, col("term").asc)))
      .select(col("term"),
        col("exact").cast("bigint").as("exact"),
        col("cm_est").cast("bigint").as("cm_est"),
        (col("cm_est") - col("exact")).cast("bigint").as("overestimate"),
        col("rank").cast("bigint").as("rank"))
  }

  /** TF-IDF-style keyword extraction: the top-`k` most
    * characteristic terms per document, scored by an integer tf-over-df
    * ratio (term frequency ×1e6 div document frequency — the same
    * ordering as tf·idf for a fixed corpus size, with no FP logarithm
    * so every engine agrees bit-for-bit). Ties break by term text, so
    * the top-k set is fully deterministic.
    *
    * Scale shape: the corpus collapses to distinct (doc, term, tf)
    * rows FIRST (map-side-combinable groupBy — the explode stream
    * never crosses a shuffle raw); document frequency is then a COUNT
    * window over the term partition of those already-distinct rows
    * (one shuffle, same q34 form); top-k is a row_number window per
    * document. Three shuffles total, each over the reduced tf table,
    * none over raw occurrences.
    */
  def tfIdfTopK(documents: DataFrame, k: Int = 3): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val we = documents
      .select(col("doc_id"), explode(TextOps.words(col("text"))).as("term"))
    val tf = we.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val withDf = tf.withColumn("df", count(lit(1)).over(Window.partitionBy(col("term"))))
      .withColumn("score", expr("tf * 1000000 div df"))
    val byDoc = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    withDf
      .withColumn("rank", row_number().over(byDoc))
      .where(col("rank") <= k)
      .select(col("doc_id"), col("term"),
        col("tf").cast("bigint").as("tf"),
        col("df").cast("bigint").as("df"),
        col("score").cast("bigint").as("score"),
        col("rank").cast("bigint").as("rank"))
  }

  /** Block-segmented inverted-index materialization — the physical
    * layout step AFTER the logical postings q47/q72 compute on the
    * fly: per (term, fixed-width doc-id block), the delta-encoded
    * doc-gap list plus per-doc tf payloads, the on-disk shape of
    * Lucene-style block postings (bounded rows: no term ever
    * materializes its whole corpus-wide posting list in one row, the
    * thing that breaks single-row layouts at 100 TB — a stopword's
    * postings split across doc-id blocks that parallelize and
    * compress independently, and block-max traversal reads only the
    * blocks it needs).
    *
    * Scale shape: one map-side-combinable groupBy to (term, doc) tf,
    * one to the (term, block) segment; the gap/tf encode is a
    * once-per-row lambda over a ≤`blockSize`-element array (the
    * sanctioned small-array HOF case). Gap lists serialize as comma
    * strings — the value-exact cross-engine encoding (array renderers
    * differ between engines; strings don't).
    */
  def postingBlocks(documents: DataFrame, blockSize: Int = 128): DataFrame = {
    require(blockSize >= 2, "block size must be >= 2")
    val tf = documents
      .select(col("doc_id"), explode(TextOps.words(col("text"))).as("term"))
      .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
    val seg = tf
      .withColumn("block", expr(s"doc_id div $blockSize"))
      .groupBy(col("term"), col("block"))
      .agg(array_sort(collect_list(struct(col("doc_id"), col("tf")))).as("ps"))
    val ds = col("ps")
    val gaps = when(size(ds) >= 2,
      transform(sequence(lit(2), size(ds)),
        j => element_at(ds, j).getField("doc_id") - element_at(ds, j - 1).getField("doc_id")))
      .otherwise(array().cast("array<bigint>"))
    seg.select(
      col("term"),
      col("block").cast("bigint").as("block"),
      size(ds).cast("bigint").as("df_block"),
      element_at(ds, 1).getField("doc_id").cast("bigint").as("first_doc"),
      array_join(gaps, ",").as("gaps"),
      array_join(transform(ds, x => x.getField("tf").cast("string")), ",").as("tfs"))
  }

  /** Priority sampling (Duffield, Lund & Thorup 2007, "Priority
    * sampling for estimation of arbitrary subset sums") — the
    * weighted counterpart of q30's uniform stratified sample: each
    * document draws a deterministic md5-uniform `u ∈ [0, 16⁶)` and is
    * ranked by the integer priority `u·scale div weight`, smaller =
    * more likely kept, so selection probability grows with the weight
    * (here 1 + distinct-word count, an integer quality stand-in); the
    * global top-k by (priority, doc_id) is the sample. Everything is
    * integer and md5-derived, so the sample is REPRODUCIBLE across
    * retries, partitionings and engines — the property `.sample()`
    * and RNG-keyed A-ES implementations cannot give — and the DuckDB
    * oracle (q78) replays it value-exactly.
    *
    * Scale shape: one shuffle-free projection (the q30 nibble decode
    * is pure string arithmetic) feeding a sort-limit, which Spark
    * executes as TakeOrderedAndProject — per-partition partial top-k,
    * k rows to the driver, never a full sort. At 100 TB this is a
    * scan + k-row reduction.
    */
  def prioritySample(documents: DataFrame, k: Int = 100, scale: Long = 1L << 20): DataFrame = {
    require(k >= 1, "k must be >= 1")
    val h = md5(concat(lit("ps|"), col("doc_id").cast("string")))
    def nibble(i: Int) = {
      val c = substring(h, i, 1)
      (ascii(c) - when(c <= "9", lit(48)).otherwise(lit(87))).cast("bigint")
    }
    val u = (1 to 6).map(i => nibble(i) * lit(1L << (4 * (6 - i)))).reduce(_ + _)
    documents
      .select(col("doc_id"),
        (size(Dedup.wordSet(col("text"))) + 1).cast("bigint").as("weight"),
        u.as("u"))
      .select(col("doc_id"), col("weight"), col("u"),
        expr(s"u * CAST($scale AS BIGINT) div weight").as("priority"))
      .orderBy(col("priority").asc, col("doc_id").asc)
      .limit(k)
  }

  /** Integer multinomial Naive Bayes — the learned quality/spam
    * classifier every curation stack runs (the fasttext-classifier
    * slot in CCNet/RefinedWeb/DCLM), trained and scored relationally
    * with NO floating point: per-(token, class) log-likelihoods are
    * quantized to WHOLE-BIT surprisals (the q70 primitive —
    * `floor(log2(m)) = length(bin(m)) − 1`, exact in both engines)
    * with add-one smoothing over the TRAINING vocabulary,
    * `k(t|c) = floor(log2((total_c + V) div (cnt_tc + 1)))`, plus a
    * whole-bit class prior. A document's class score is the summed
    * bits of its token occurrences; the predicted class minimizes
    * bits (tie → class 0). Tokens outside the training vocabulary are
    * ignored (the standard practical NB choice, and the one that
    * needs no per-class unseen-token constant).
    *
    * Input: (doc_id, text, label ∈ {0, 1}, is_train ∈ {0, 1}). The
    * model trains ONLY on is_train = 1 rows; every row is scored —
    * held-out docs exercise smoothing and generalization.
    *
    * Scale shape: training counts are two map-side-combinable groupBys
    * over the exploded train split; the (vocab × 2) smoothed-bits grid
    * is schema-sized — V and total_c ride the sanctioned 1-row /
    * 2-row broadcast frames (the q47/q62/q70 scalar shape) and the
    * class axis is a literal 2-element explode, not a join. Scoring
    * collapses the corpus to distinct (doc, token) BEFORE touching the
    * grid (the q41 tf discipline), then one grid join (AQE broadcasts
    * a small vocab) and one per-doc rollup. No FP, no windows, no
    * driver loop.
    */
  def nbClassifyBits(labeled: DataFrame): DataFrame = {
    val occ = labeled.select(col("doc_id"), col("label").cast("bigint").as("label"),
      col("is_train"), explode(TextOps.words(col("text"))).as("w"))
    val trainOcc = occ.where(col("is_train") === 1)
    val vocab = trainOcc.select(col("w")).distinct()
    val vSize = vocab.agg(count(lit(1)).as("v"))
    val cnt = trainOcc.groupBy(col("w"), col("label").as("cls")).agg(count(lit(1)).as("c_tc"))
    val totals = trainOcc.groupBy(col("label").as("cls")).agg(count(lit(1)).as("tot_c"))
    val grid = vocab
      .select(col("w"), explode(array(lit(0L), lit(1L))).as("cls"))
      .join(cnt, Seq("w", "cls"), "left")
      .join(broadcast(totals), Seq("cls"))
      .crossJoin(broadcast(vSize))
      .select(col("w"), col("cls"),
        (length(bin(expr("(tot_c + v) div (coalesce(c_tc, 0) + 1)"))) - 1)
          .cast("bigint").as("k"))
    val tf = occ.groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c_dw"))
    val docBits = tf.join(grid, Seq("w"))
      .groupBy(col("doc_id"))
      .agg(sum(when(col("cls") === 0L, col("c_dw") * col("k"))).as("b0"),
        sum(when(col("cls") === 1L, col("c_dw") * col("k"))).as("b1"))
    val priors = labeled.where(col("is_train") === 1)
      .agg(count(lit(1)).as("n"),
        sum(when(col("label") === 1, 1L).otherwise(0L)).as("n1"))
      .select(
        (length(bin(expr("n div (n - n1)"))) - 1).cast("bigint").as("p0"),
        (length(bin(expr("n div n1"))) - 1).cast("bigint").as("p1"))
    labeled.select(col("doc_id"), col("label").cast("bigint").as("label"))
      .join(docBits, Seq("doc_id"), "left")
      .crossJoin(broadcast(priors))
      .select(col("doc_id"), col("label"),
        (col("p0") + coalesce(col("b0"), lit(0L))).cast("bigint").as("bits_ham"),
        (col("p1") + coalesce(col("b1"), lit(0L))).cast("bigint").as("bits_spam"))
      .withColumn("pred", (col("bits_spam") < col("bits_ham")).cast("bigint"))
  }
}
