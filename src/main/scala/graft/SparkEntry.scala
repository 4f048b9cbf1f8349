package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline._
import graft.pipeline.TextOps.{fingerprintSql, subwordCountSql, tokenCountSql, wordsSql}
import scala.util.chaining._

/** Driver contract — the operator registry of the engine.
  *
  * Oracle-checked queries (SQL-expressible, DuckDB-replayable) carry an
  * `oracleSql` twin with identical column names; extraction/LSH/ANN
  * operators register without one (driver falls back to a rows>0 check)
  * and are instead gated by the fixture suites in `sbt test`.
  */
object SparkEntry {

  private def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The temporary directories of queries that write files. A query's
    * frame reads them lazily, so its caller deletes them with
    * [[deleteTempRoots]] once the query's output is written. */
  private val tempRoots = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  private def tempRoot(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(prefix).tap(tempRoots.add)
  def deleteTempRoots(): Unit =
    Iterator.continually(tempRoots.poll()).takeWhile(_ != null).foreach(NioLocalFileSystem.deleteTree)

  /** The d<id> IRI of a document: the subject of its triples in the
    * synthetic knowledge graph. */
  private val dId = concat(lit("d"), col("doc_id"))

  /** One recurring lane of the synthetic knowledge graph that the
    * SPARQL/RDF family queries: its Spark frame over `documents` and its
    * DuckDB SELECT, side by side so the two engines read one definition.
    * `sql` is the lane as the first SELECT of a CTE, with the s/p/o
    * column aliases; `bare` drops them for the later UNION ALL lanes.
    */
  private final case class Lane(frame: DataFrame => DataFrame, sql: String) {
    def apply(docs: DataFrame): DataFrame = frame(docs)
    def bare: String = sql.replaceAll(" AS [spo](?=[,\\s]|$)", "")
  }

  private object Lane {
    /** d<id> name n<id%100>, over all docs. */
    val name = Lane(
      _.select(dId.as("s"), lit("name").as("p"),
        concat(lit("n"), pmod(col("doc_id"), lit(100))).as("o")),
      """  SELECT 'd' || CAST(doc_id AS VARCHAR) AS s, 'name' AS p,
        |         'n' || CAST(doc_id % 100 AS VARCHAR) AS o FROM documents""".stripMargin)
    /** d<id> worksFor o<id%16>, over all docs. */
    val worksForAll = Lane(
      _.select(dId.as("s"), lit("worksFor").as("p"),
        concat(lit("o"), pmod(col("doc_id"), lit(16))).as("o")),
      """  SELECT 'd' || CAST(doc_id AS VARCHAR) AS s, 'worksFor' AS p,
        |         'o' || CAST(doc_id % 16 AS VARCHAR) AS o FROM documents""".stripMargin)
    /** The same edges over even docs only: the employed half, whose
      * employers are the even orgs. */
    val worksFor = Lane(docs => worksForAll(docs.where(pmod(col("doc_id"), lit(2)) === 0)),
      worksForAll.sql + " WHERE doc_id % 2 = 0")
    /** d<id> age "<id%90>"^^xsd:integer, over all docs. */
    val age = Lane(
      _.select(dId.as("s"), lit("age").as("p"),
        concat(lit("\""), pmod(col("doc_id"), lit(90)), lit("\"^^xsd:integer")).as("o")),
      """  SELECT 'd' || CAST(doc_id AS VARCHAR) AS s, 'age' AS p,
        |         '"' || CAST(doc_id % 90 AS VARCHAR) || '"^^xsd:integer' AS o FROM documents""".stripMargin)
    /** d<id> lang <lang>, over all docs. */
    val lang = Lane(
      _.select(dId.as("s"), lit("lang").as("p"), col("lang").as("o")),
      "  SELECT 'd' || CAST(doc_id AS VARCHAR) AS s, 'lang' AS p, lang AS o FROM documents")
    /** d<id> memberOf o<id%12>, over docs with id % 3 = 0. */
    val memberOf = Lane(
      _.where(pmod(col("doc_id"), lit(3)) === 0).select(dId.as("s"), lit("memberOf").as("p"),
        concat(lit("o"), pmod(col("doc_id"), lit(12))).as("o")),
      """  SELECT 'd' || CAST(doc_id AS VARCHAR) AS s, 'memberOf' AS p,
        |         'o' || CAST(doc_id % 12 AS VARCHAR) AS o FROM documents WHERE doc_id % 3 = 0""".stripMargin)
    /** d<id> topic <source>, over all docs: noise for predicate pushdown. */
    val topic = Lane(
      _.select(dId.as("s"), lit("topic").as("p"), col("source").as("o")),
      "  SELECT 'd' || CAST(doc_id AS VARCHAR) AS s, 'topic' AS p, source AS o FROM documents")
    /** d<id> reportsTo d<id div 3>, over docs with id > 0. */
    val reportsTo = Lane(
      _.where(col("doc_id") > 0).select(dId.as("s"), lit("reportsTo").as("p"),
        concat(lit("d"), expr("doc_id div 3")).as("o")),
      """  SELECT 'd' || CAST(doc_id AS VARCHAR) AS s, 'reportsTo' AS p,
        |         'd' || CAST(doc_id // 3 AS VARCHAR) AS o FROM documents WHERE doc_id > 0""".stripMargin)
    private val eId = concat(lit("e"), pmod(col("doc_id"), lit(50)))
    /** e<id%50> color v<(31 id)%3>: conflicting values for KG fusion. */
    val colors = Lane(
      _.select(eId.as("s"), lit("color").as("p"),
        concat(lit("v"), pmod(col("doc_id") * 31, lit(3))).as("o")),
      """  SELECT 'e' || CAST(doc_id % 50 AS VARCHAR) AS s, 'color' AS p,
        |         'v' || CAST((doc_id * 31) % 3 AS VARCHAR) AS o FROM documents""".stripMargin)
    /** e<id%50> shape w<(17 id)%4>. */
    val shapes = Lane(
      _.select(eId.as("s"), lit("shape").as("p"),
        concat(lit("w"), pmod(col("doc_id") * 17, lit(4))).as("o")),
      """  SELECT 'e' || CAST(doc_id % 50 AS VARCHAR) AS s, 'shape' AS p,
        |         'w' || CAST((doc_id * 17) % 4 AS VARCHAR) AS o FROM documents""".stripMargin)
    /** o<i> label L<i>, for from <= i < until: orgs past `until` are
      * unlabeled. */
    def labels(until: Int, from: Int = 0): Lane = Lane(
      _.sparkSession.range(from, until).select(concat(lit("o"), col("id")).as("s"),
        lit("label").as("p"), concat(lit("L"), col("id")).as("o")),
      s"""  SELECT 'o' || CAST(i AS VARCHAR) AS s, 'label' AS p, 'L' || CAST(i AS VARCHAR) AS o
         |  FROM range($from, $until) t(i)""".stripMargin)
    /** o<i> sector s<i%4>, for i < 16. */
    val sectors = Lane(
      _.sparkSession.range(0, 16).select(concat(lit("o"), col("id")).as("s"),
        lit("sector").as("p"), concat(lit("s"), pmod(col("id"), lit(4))).as("o")),
      """  SELECT 'o' || CAST(i AS VARCHAR) AS s, 'sector' AS p, 's' || CAST(i % 4 AS VARCHAR) AS o
        |  FROM range(0, 16) t(i)""".stripMargin)
  }

  /** q128's and q135's per-source named graphs with bnode authors:
    * each doc's author bnode _:b<id%24> carries a per-doc name, %3-docs
    * add a knows edge to their own _:k<id> bnode with its own note. */
  private def bnodeAuthorQuads(docs: DataFrame): DataFrame = {
    val bId = concat(lit("_:b"), pmod(col("doc_id"), lit(24)))
    docs.select(col("source").as("g"), dId.as("s"), lit("author").as("p"), bId.as("o"))
      .unionByName(docs.select(col("source").as("g"), bId.as("s"),
        lit("name").as("p"), concat(lit("n"), col("doc_id")).as("o")))
      .unionByName(docs.where(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("source").as("g"), bId.as("s"), lit("knows").as("p"),
          concat(lit("_:k"), col("doc_id")).as("o")))
      .unionByName(docs.where(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("source").as("g"), concat(lit("_:k"), col("doc_id")).as("s"),
          lit("note").as("p"), concat(lit("m"), col("doc_id")).as("o")))
      .unionByName(docs.select(col("source").as("g"), dId.as("s"),
        lit("lang").as("p"), col("lang").as("o")))
  }

  /** The union of `lanes` over `docs`, in order. */
  private def spoOf(docs: DataFrame, lanes: Lane*): DataFrame =
    lanes.map(_(docs)).reduce(_ unionByName _)

  /** The UNION ALL body of `lanes` for an spo CTE: the first lane names
    * the s/p/o columns, the later ones are bare. */
  private def spoSql(lanes: Lane*): String =
    (lanes.head.sql +: lanes.tail.map(_.bare)).mkString("\n  UNION ALL\n")

  /** Flagship: full extraction over the synthetic page corpus. */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val pages = SyntheticPages.pages(spark, copies = 2, numPartitions = 8)
    Extract.run(pages).flatMap(_.triple).toDF()
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ---------------- relational core (oracle-checked) ----------------
    "q1_pricing_summary" -> ((s, d) => {
      // exact integer arithmetic: quantize the float64 money/quantity
      // columns to integer cents per row, THEN sum — double summation is
      // order-dependent across partitions, so an FP aggregate can flip
      // the value-exact DuckDB compare at a rounding boundary
      val qtyC = round(col("l_quantity") * 100).cast("bigint")
      val priceC = round(col("l_extendedprice") * 100).cast("bigint")
      val discC = round(col("l_discount") * 100).cast("bigint")
      t(s, d, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(qtyC).as("sum_qty_c"),
          sum(priceC).as("sum_base_price_c"),
          sum(priceC * (lit(100) - discC)).as("sum_disc_price_cc"),
          count(lit(1)).as("count_order"))
    }),
    "q2_revenue_by_nation" -> ((s, d) => {
      val orders = t(s, d, "orders")
      val customer = t(s, d, "customer")
      val nation = t(s, d, "nation")
      orders.join(customer, orders("o_custkey") === customer("c_custkey"))
        .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("revenue_c"),
          count(lit(1)).as("n_orders"))
    }),
    "q3_priority_counts" -> ((s, d) => {
      t(s, d, "orders")
        .where(col("o_totalprice") > 100.0)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
    }),
    "q4_anti_join" -> ((s, d) => {
      val customer = t(s, d, "customer")
      val bigOrders = t(s, d, "orders").where(col("o_totalprice") > 300000.0)
      customer.join(bigOrders, customer("c_custkey") === bigOrders("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    }),
    "q5_brand_volume" -> ((s, d) => {
      val li = t(s, d, "lineitem")
      val part = t(s, d, "part")
      li.join(part, li("l_partkey") === part("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(sum(round(col("l_quantity") * 100).cast("bigint")).as("total_qty_c"),
          count(lit(1)).as("n_items"))
    }),
    "q6_events_latest" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts").desc, col("event_id").desc)
      t(s, d, "events")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id").as("latest_event"))
    }),
    "q7_events_by_type" -> ((s, d) => {
      t(s, d, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(min(col("value")), 4).as("min_value"),
          round(max(col("value")), 4).as("max_value"))
    }),
    // ---------------- training-data text ops (oracle-checked) ---------
    "q8_dedup_exact" -> ((s, d) => {
      Dedup.exact(t(s, d, "documents"))
    }),
    "q9_token_stats" -> ((s, d) => {
      val docs = t(s, d, "documents")
      docs.select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("tokens"),
        TextOps.subwordCount(col("text"), TextOps.subwordPattern).as("subwords"))
    }),
    "q10_quality" -> ((s, d) => {
      t(s, d, "documents").select(col("doc_id"), TextOps.qualityScore(col("text")).as("quality"))
    }),
    "q11_langid" -> ((s, d) => {
      t(s, d, "documents")
        .select(col("doc_id"), TextOps.langId(col("text")).as("lang_id"))
    }),
    "q12_fingerprint" -> ((s, d) => {
      t(s, d, "documents").select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
    }),
    "q13_ngram_jaccard" -> ((s, d) => {
      Dedup.ngramJaccard(t(s, d, "documents"), threshold = 0.5)
    }),
    "q15_events_window" -> ((s, d) => {
      t(s, d, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(max(col("value")), 4).as("max_value"))
    }),
    "q14_embedding_label_stats" -> ((s, d) => {
      t(s, d, "embeddings")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          round(max(element_at(col("embedding"), 1)).cast("double"), 4).as("max_first"))
    }),
    // ------- cross-engine-exact twins of the LSH/ANN/link/sink paths --
    // (md5/integer arithmetic → DuckDB-oracle-checked value-for-value)
    "q16_simhash_md5" -> ((s, d) => Dedup.simhashMd5(t(s, d, "documents"))),
    "q17_minhash_pairs_md5" -> ((s, d) => Dedup.minhashLshMd5(t(s, d, "documents"), threshold = 0.5)),
    "q18_ann_brute_int" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.bruteDotInt(emb, emb.where(col("vec_id") < 8), k = 5)
    }),
    "q19_entity_link_docs" -> ((s, d) => KgPipeline.linkDocumentTokens(t(s, d, "documents"))),
    "q21_simhash_pairs_md5" -> ((s, d) => Dedup.simhashMd5Pairs(t(s, d, "documents"))),
    // oracle-checked scale twin of x_ngram_jaccard_lsh: word-SET (w=1)
    // Jaccard via md5 minhash banding, replayable in ANSI SQL
    "q22_wordset_lsh_md5" -> ((s, d) =>
      Dedup.minhashLshMd5(t(s, d, "documents"), threshold = 0.5, shingleWidth = 1)),
    "q23_ntriples_sink_docs" -> ((s, d) => graft.sources.RdfSources.ntDocLines(t(s, d, "documents"))),
    // the N-Quads sink twin of q23: same object forms, graph-label
    // lanes (IRI graph / bnode graph through the label mangle /
    // default graph in triple form)
    "q130_nquads_sink_docs" -> ((s, d) => graft.sources.RdfSources.nqDocLines(t(s, d, "documents"))),
    "q24_bpe_pretoken" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"), TextOps.bpePretokenCount(col("text")).as("bpe_tokens"))),
    // trained-vocab subword count: the shipped corpus-trained BPE merges
    // resource drives a greedy longest-match segmenter (the oracle-
    // expressible twin of true merge-order BPE encoding, x_bpe_encode)
    "q25_bpe_vocab_subwords" -> ((s, d) =>
      t(s, d, "documents").select(col("doc_id"), TextOps.subwordCount(col("text"), Bpe.trainedVocabPattern).as("bpe_subwords"))),
    // connected components over the near-dup pair graph, oracle-checked
    // via a DuckDB WITH RECURSIVE transitive-closure min — the iterative
    // Spark min-label propagation must converge to the same labels
    "q26_connected_components" -> ((s, d) => {
      val pairs = Dedup.minhashLshMd5(t(s, d, "documents"), threshold = 0.5)
        .select(col("a"), col("b"))
      KgPipeline.connectedComponents(pairs)
    }),
    // full int_vec_dot_norms kernel surface (dot AND both norms) over
    // all pairs of a bounded slice — q18 oracles only the dot
    "q27_embedding_dot_norms" -> ((s, d) => {
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
    }),
    // symmetric int8 quantization census per embedding vector: max-abs
    // scale, total/worst reconstruction error and underflow count in
    // the micro-unit integer regime — the 4x-compression pre-flight
    // report; row-local (no shuffle), sanctioned once-per-row lambdas
    "q212_int8_quant" -> ((s, d) =>
      Similarity.int8QuantCensus(t(s, d, "embeddings"))
        .select("vec_id", "dim", "scale_us", "sum_err_us", "max_err_us", "n_underflow")),
    // edit-distance-1 pairs via deletion-neighborhood (FastSS)
    // blocking — typo-tolerant ER matching; the corpus vocabulary has
    // no natural distance-1 pairs, so the input is augmented with the
    // deterministic last-char truncation of every >= 5-char word type
    // (each truncation pairs with its original at distance exactly 1,
    // both engines build the identical augmented set)
    "q215_edit1_pairs" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val w = docs.select(explode(TextOps.words(col("text"))).as("word")).distinct()
      val aug = w.unionByName(w.where(length(col("word")) >= 5)
        .select(expr("substring(word, 1, length(word) - 1)").as("word")))
      Dedup.editDistance1Pairs(aug).select("a", "b", "dist")
    }),
    // content-defined chunking dedup census (the FastCDC/LBFS storage
    // primitive): boundaries where the trailing 8-char window's
    // Buzhash clears the 5-bit mask — the codegen'd rolling kernel
    // (the fourth Catalyst expression), chunks by gaps between
    // boundaries (+ the tail), corpus-wide duplicated-chunk census
    // with saved-char accounting
    "q214_cdc_chunks" -> ((s, d) =>
      Dedup.cdcChunkCensus(t(s, d, "documents"))
        .select("chunk_key", "chunk_len", "n_copies", "n_docs", "saved_chars")),
    // one-row CDC storage-savings summary over the same chunking: the
    // dedup go/no-go number (chunks, distinct, chars, saved, ppm)
    "q217_cdc_summary" -> ((s, d) =>
      Dedup.cdcSummary(t(s, d, "documents"))
        .select("n_chunks", "n_distinct_chunks", "total_chars",
          "saved_chars", "dedup_ppm")),
    // corpus-curation primitives (Gopher-style repetition filter stats;
    // deterministic md5-bucket stratified source downsampling) — both
    // integer/md5-exact, DuckDB-oracle-checked
    "q29_repetition" -> ((s, d) => Curation.repetitionStats(t(s, d, "documents"))),
    "q30_stratified_sample" -> ((s, d) =>
      Curation.stratifiedSample(t(s, d, "documents"), q30Quotas)),
    // benchmark decontamination: distinct-trigram overlap of each
    // training document against the held-out eval slice (doc_id % 97),
    // integer basis points, eval grams broadcast — oracle-checked
    "q31_decontam" -> ((s, d) => Curation.decontaminate(t(s, d, "documents"))),
    // canonical representative per near-dup cluster: q26's components +
    // q10's integer quality, highest-quality member wins (min doc_id
    // tiebreak) — the keep-one-per-duplicate-group step, oracle-checked
    "q32_cluster_rep" -> ((s, d) => Curation.clusterRepresentatives(t(s, d, "documents"))),
    // PII masking over text augmented with constructed contact strings
    // (pure function of doc_id, mirrored in the oracle) so the redaction
    // logic itself — not just identity text — is value-exact-checked
    "q33_pii_mask" -> ((s, d) => {
      val aug = t(s, d, "documents").select(col("doc_id"),
        concat(col("text"),
          lit(" contact user"), col("doc_id"), lit("@mail.example.com or +1-555-01"),
          pmod(col("doc_id"), lit(90)) + 10, lit(" from 10.0."),
          pmod(col("doc_id"), lit(256)), lit(".7")).as("text"))
      Curation.maskPii(aug)
    }),
    // text normalization (NFC + control strip + whitespace collapse)
    // over text augmented with a decomposed accent, a BEL control and
    // messy whitespace — so the normalization logic itself, not just
    // identity text, is value-exact-checked (same pattern as q33)
    "q35_normalize" -> ((s, d) => {
      val aug = t(s, d, "documents").select(col("doc_id"),
        concat(col("text"), lit(" Cafe\u0301 \u0007beep\tx  y ")).as("text"))
      Curation.normalizeText(aug)
    }),
    // URL canonicalization over deterministically constructed messy
    // URLs (mixed-case scheme/host, default + non-default ports, empty
    // paths, fragments, queries — three variants by doc_id % 3) so all
    // canonicalization branches are value-exact-checked
    "q36_url_canon" -> ((s, d) => Curation.canonicalizeUrls(
      t(s, d, "documents").select(col("doc_id"), syntheticUrl.as("url")))),
    // per-domain rollup over the same constructed URLs: the stats that
    // drive domain quotas / blocklists — one map-side-combinable groupBy
    "q37_domain_stats" -> ((s, d) => Curation.domainStats(
      t(s, d, "documents").select(col("doc_id"), syntheticUrl.as("url"), col("n_chars")))),
    // exact duplicate-SPAN detection (substring-level dedup, Lee et al.
    // 2022): rolling word-window md5s, corpus-wide duplicated-window
    // count, per-doc gaps-and-islands merge into maximal spans —
    // integer coverage stats, oracle-checked end to end
    "q34_dup_spans" -> ((s, d) => Curation.dupSpans(t(s, d, "documents"))),
    // the CUT step of substring dedup: rewrite each doc's normalized
    // token stream with every duplicated span removed (q34 detects,
    // q38 cuts) — deterministic token-level rebuild, oracle-checked
    "q38_dedup_rewrite" -> ((s, d) => Curation.dedupRewrite(t(s, d, "documents"))),
    // sequence packing (concat-and-chunk): per-source-shard prefix sums
    // lay documents end-to-end (+1 EOS each) and cut fixed 512-token
    // training sequences — integer window arithmetic, oracle-checked
    "q39_pack_chunks" -> ((s, d) => CorpusOps.packChunks(t(s, d, "documents"))),
    // bigram-LM fluency: corpus-wide bigram frequencies (ONE window
    // shuffle over the md5'd occurrence stream) → per-doc mean frequency
    // + hapax share — the CCNet-style frequency-prior quality signal
    "q40_bigram_lm" -> ((s, d) => CorpusOps.bigramLm(t(s, d, "documents"))),
    // unigram-LM surprisal in WHOLE BITS: floor(log2(N/cnt)) is exact
    // integer both engines (length(bin(N div cnt)) - 1) — the log-scale
    // perplexity-filter signal with zero FP in the oracle output
    "q70_surprisal_bits" -> ((s, d) => CorpusOps.surprisalBits(t(s, d, "documents"))),
    "q101_bigram_lm" -> ((s, d) => CorpusOps.bigramLmBits(t(s, d, "documents"))),
    // k-core of the q22 near-dup graph: iterative peeling to a
    // fixpoint (capped; non-convergence throws, the q26 rule) — the
    // density floor separating real clusters from incidental chains.
    // Oracle unrolls the peel cap as CTEs (rounds past the fixpoint
    // are identities, so the unroll is exact)
    // rendezvous-hash shard assignment: stable output bucketing under
    // reshard — k -> k+1 moves only the new shard's ~1/(k+1) share
    // (hash-mod would move k/(k+1)); pure projection, no shuffle
    "q90_rendezvous_shards" -> ((s, d) =>
      Curation.rendezvousShards(t(s, d, "documents"))),
    // SPARQL DESCRIBE ?org WHERE { ?x worksFor ?org }: the
    // subject-outbound description slice — one distinct solution
    // column semi-joined against the graph. Only EVEN org ids are
    // employers (even doc_ids mod 16 land on even residues), so half
    // the label/sector rows survive and the person-subject name lane
    // drops entirely — the semi-join is doing real work
    "q107_describe" -> ((s, d) => {
      val spo = spoOf(t(s, d, "documents"), Lane.name, Lane.worksFor, Lane.labels(12),
        Lane.sectors)
      TripleOps.describe(spo, Seq(("?x", "worksFor", "?org")), "?org")
        .select("s", "p", "o")
    }),
    // SPARQL BIND + expression FILTER: Extend adds computed bindings
    // (a concat tag, the name length) with no cardinality change,
    // then FILTER selects on the bound expression — both stay inside
    // whole-stage codegen, zero shuffles beyond the BGP join itself
    "q108_bind_filter" -> ((s, d) => {
      val spo = spoOf(t(s, d, "documents"), Lane.name, Lane.worksFor)
      val sols = TripleOps.bgp(spo,
        Seq(("?x", "name", "?name"), ("?x", "worksFor", "?org")))
      val bound = TripleOps.bind(
        TripleOps.bind(sols, "tag", concat(col("org"), lit("/"), col("name"))),
        "nlen", length(col("name")).cast("bigint"))
      bound.where(col("nlen") >= 3)
        .select(col("x"), col("name"), col("org"), col("tag"), col("nlen"))
    }),
    // SPARQL subquery: the inner { SELECT ?org (COUNT(*) AS ?n) …
    // GROUP BY ?org } aggregates BEFORE the outer label join — the
    // spec's bottom-up subquery evaluation, and at scale the reason
    // subqueries exist: aggregate the TB-sized affiliation slice down
    // to org cardinality FIRST, then join the small result
    "q109_subquery" -> ((s, d) => {
      val spo = spoOf(t(s, d, "documents"), Lane.worksFor, Lane.labels(12))
      val inner = TripleOps.bgp(spo, Seq(("?x", "worksFor", "?org")))
        .groupBy(col("org")).agg(count(lit(1)).as("n"))
      TripleOps.bgp(spo, Seq(("?org", "label", "?lbl")))
        .join(inner, Seq("org"))
        .select(col("org"), col("lbl"), col("n"))
    }),
    // SPARQL sequence path with inverse: reportsTo/^reportsTo =
    // "shares a direct manager" — each step is a predicate slice
    // (inverse = o→s traversal), steps chain on the meeting node and
    // dedup to the pair set; the self-pairs the round trip always
    // produces are FILTERed off, the spec's `?x != ?y` idiom
    "q110_path_seq" -> ((s, d) => {
      val spo = spoOf(t(s, d, "documents"), Lane.reportsTo, Lane.name)
      TripleOps.pathSteps(spo, Seq(("reportsTo", false), ("reportsTo", true)))
        .where(col("src") =!= col("dst"))
        .select(col("src"), col("dst"))
    }),
    // SPARQL GRAPH ?g { … } over quads: both patterns must hold in the
    // SAME named graph — docs %3==0 carry their bucket quad in a
    // different graph ('other') than their lang quad, so the shared ?g
    // variable drops them; graph name = source shard, the provenance
    // query a per-shard extraction corpus answers
    "q111_graph_quads" -> ((s, d) => {
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
    }),
    // OWL-lite schema-driven entailment: partOf is declared
    // owl:TransitiveProperty and owl:inverseOf hasPart — mirror the
    // asserted hasPart edges in (inverseOf), close partOf over the
    // div-2 forest (transitive), mirror the closure back out
    // (inverseOf again = the fixpoint for this schema, since hasPart
    // itself is not declared transitive); the name lane passes
    // through untouched, proving the predicate slicing
    "q112_owl_entail" -> ((s, d) => {
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
    }),
    // SPARQL UPDATE (DELETE/INSERT WHERE): migrate labeled-org
    // employment edges to the inverted `employs` predicate in one
    // atomic transformation — bindings against the PRE-update graph,
    // delete via (s,p,o) anti-join, insert via construct, set-dedup;
    // edges to unlabeled orgs (o12/o14) and the name lane survive
    "q113_sparql_update" -> ((s, d) => {
      val spo = spoOf(t(s, d, "documents"), Lane.name, Lane.worksFor, Lane.labels(12))
      TripleOps.deleteInsert(spo,
        wherePatterns = Seq(("?x", "worksFor", "?org"), ("?org", "label", "?lbl")),
        deleteTemplate = Seq(("?x", "worksFor", "?org")),
        insertTemplate = Seq(("?org", "employs", "?x")))
        .select("s", "p", "o")
    }),
    // deterministic epoch shuffle: md5(seed:doc_id) ordering, first
    // hex char as the shard (STRING — the q45 rule), rank within
    // shard — the dataloader order/shard assignment, reproducible on
    // any cluster size because order is a pure function of the data
    "q114_epoch_shuffle" -> ((s, d) =>
      CorpusOps.epochShuffle(t(s, d, "documents"), seed = "ep0", hexLen = 1)),
    // OWL property-axiom violations: worksFor declared functional
    // (planted second employer on even multiples of 21), reportsTo
    // declared irreflexive (planted self-edge on multiples of 13);
    // each axiom is a predicate slice — count-distinct per (s,p) or
    // a pure filter, no joins
    "q115_owl_constraints" -> ((s, d) => {
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
    }),
    // incremental BGP view maintenance: the crawl increment (odd %3
    // docs' employment edges — %6==0 re-asserts base triples, which
    // must yield nothing — plus two new org labels) answered by
    // delta-join telescoping against the base view, never a full
    // recompute; the oracle is the DEFINITION (sols(base ∪ Δ) EXCEPT
    // sols(base)), an independent formulation of the telescoped sum
    "q116_bgp_incremental" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val work = Lane.worksForAll(docs)
      val base = work.where(pmod(col("doc_id"), lit(2)) === 0)
        .unionByName(Lane.labels(12)(docs))
      val added = work.where(pmod(col("doc_id"), lit(3)) === 0)
        .unionByName(Lane.labels(14, from = 12)(docs))
      TripleOps.bgpDelta(base, added,
        Seq(("?x", "worksFor", "?org"), ("?org", "label", "?lbl")))
        .select(col("x"), col("org"), col("lbl"))
    }),
    // SPARQL 1.1 negated-property-set + zero-or-one path:
    // !(name)/worksFor? — follow any NON-schema link (employment or
    // mentorship), then optionally hop to the employer; the
    // zero-length leg of `?` keeps the direct link endpoints, the
    // one-length leg adds the mentee's org — the "any related entity"
    // traversal of a heterogeneous web KG
    "q119_path_negated" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val spo = spoOf(docs, Lane.name, Lane.worksFor)
        .unionByName(docs.where(pmod(col("doc_id"), lit(7)) === 0 && col("doc_id") > 0)
          .select(dId.as("s"), lit("mentorOf").as("p"),
            concat(lit("d"), expr("doc_id div 7")).as("o")))
      TripleOps.path(spo, Seq(TripleOps.NegatedSet(Seq("name")),
        TripleOps.ZeroOrOne("worksFor")))
        .select(col("src"), col("dst"))
    }),
    // the retraction mirror of q116: a takedown batch (every fifth
    // doc's employment edge — the odd ones were never asserted and
    // must retract nothing — plus org 12's label) answered by the
    // first-delta-position telescoped sum; the oracle is again the
    // DEFINITION (sols(base) EXCEPT sols(base ∖ removed))
    "q118_bgp_retract" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val work = Lane.worksForAll(docs)
      val base = work.where(pmod(col("doc_id"), lit(2)) === 0)
        .unionByName(Lane.labels(14)(docs))
      val removed = work.where(pmod(col("doc_id"), lit(5)) === 0)
        .unionByName(Lane.labels(13, from = 12)(docs))
      TripleOps.bgpDeltaRetract(base, removed,
        Seq(("?x", "worksFor", "?org"), ("?org", "label", "?lbl")))
        .select(col("x"), col("org"), col("lbl"))
    }),
    // typed-literal access layer: object terms in N-Triples form
    // ("lex"^^dt, "lex"@lang, "lex", bare IRIs) parsed into
    // (lex, dt, lang, kind) by shared RE2 patterns (the q36 rule),
    // then the SPARQL FILTER shape — integer-typed age > 50 OR an
    // English label; the cast is guarded by the datatype and exact
    // (integer lexical forms both engines)
    "q125_typed_literals" -> ((s, d) => {
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
    }),
    // RDF 1.1 skolemization (§3.5): bnode authors become well-known
    // genid IRIs (mergeable across datasets); the deskolemize inverse
    // is spec-pinned — the oracle replicates the mangle directly
    "q126_skolemize" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val spo = docs.where(pmod(col("doc_id"), lit(3)) === 0)
          .select(dId.as("s"), lit("author").as("p"),
            concat(lit("_:b"), pmod(col("doc_id"), lit(50))).as("o"))
        .unionByName(docs.where(pmod(col("doc_id"), lit(3)) === 0)
          .select(concat(lit("_:b"), pmod(col("doc_id"), lit(50))).as("s"),
            lit("name").as("p"), concat(lit("n"), pmod(col("doc_id"), lit(50))).as("o")))
        .unionByName(Lane.lang(docs))
      TripleOps.skolemize(spo.distinct()).select("s", "p", "o")
    }),
    // canonical per-graph digests over the per-source named graphs:
    // md5 of the binary-sorted distinct triple lines — the
    // publish-time integrity stamp (ground graphs; bnodes would
    // skolemize first, the spec's portability prescription)
    "q127_graph_digest" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val quads = docs.select(col("source").as("g"), dId.as("s"),
          lit("lang").as("p"), col("lang").as("o"))
        .unionByName(docs.select(col("source").as("g"), dId.as("s"),
          lit("bucket").as("p"), concat(lit("b"), pmod(col("doc_id"), lit(7))).as("o")))
      TripleOps.graphDigest(quads).select(col("g"), col("digest"), col("n_triples"))
    }),
    // RDFC-1.0 first-degree canonical labeling over per-source named
    // graphs with bnode authors: bnodes relabeled _:c{rank} by
    // first-degree hash (self = _:a, other bnodes = _:z), unique-hash
    // regime enforced (collision throws); bnode-bnode knows edges
    // exercise the _:z placeholder, and EVERY bnode carries its own
    // per-doc literal (name/note) — a dangling edge-target bnode's
    // only line would be '_:z knows _:a', indistinguishable from any
    // other dangling target in the graph (measured: 20 collisions)
    "q128_canonical_bnodes" -> ((s, d) => {
      val quads = bnodeAuthorQuads(t(s, d, "documents"))
      TripleOps.canonicalBNodeQuads(quads).select("g", "s", "p", "o")
    }),
    // SPARQL numeric aggregates over TYPED literals — the SUM / MAX /
    // AVG / SAMPLE half of the aggregate surface (q105 carries the
    // counting half): ?x worksFor ?org . ?x age ?age (xsd:integer)
    // GROUP BY ?org. The lexical forms parse through the q125 term
    // layer with the dt-guarded exact integer cast; AVG publishes the
    // floor whole-unit quotient (sum div n on non-negative operands —
    // the q68 regime, no FP); SAMPLE's spec-arbitrary pick is pinned
    // to MIN (the q105 GROUP_CONCAT determinism rule)
    "q129_bgp_num_aggregates" -> ((s, d) => {
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
    }),
    // SPARQL string/term function layer over lang-tagged literals:
    // LANG()-guarded FILTER (en only) + STRSTARTS (substring equality,
    // not LIKE — the q75 escaping rule), then the BIND battery —
    // STRLEN / UCASE / SUBSTR / CONCAT / REPLACE. ASCII fixture keeps
    // length/upper engine-identical; the regex is RE2-subset (q31
    // rule) and single-match-per-string, with the 'g' flag pinned in
    // the oracle anyway
    "q131_sparql_strfuncs" -> ((s, d) => {
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
    }),
    // dataset diff + patch (the RDF-Patch shape): two ground graph
    // versions — v2 rewrites %5-docs' lang, drops the odd half of the
    // bucket lane and adds a %3 lane — diffed into tagged A/D rows;
    // the spec pins applyPatch(prev, diff) == next
    "q132_graph_diff" -> ((s, d) => {
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
    }),
    // KG-embedding training prep: k=3 filtered tail corruptions per
    // positive — dense entity indices via the q73 two-phase rank
    // (oracle replays it as ONE naive ORDER BY (md5-prefix, ent)),
    // integer multiplicative stepping picks the corrupt index, and
    // corruptions colliding with true positives anti-join away
    "q133_kg_negatives" -> ((s, d) => {
      val edges = spoOf(t(s, d, "documents"), Lane.worksFor, Lane.memberOf).toDF("h", "r", "t")
      TripleOps.negativeSamples(edges, k = 3)
        .select("h", "r", "t", "neg_k", "t_neg")
    }),
    // schema summary (quotient graph): class-level edge bundles of
    // the typed instance graph — docs typed c{id%12}, orgs typed
    // Org{k%3}, worksFor edges between them; multi-typed sources
    // (%4-docs carry a second type) fan into one bundle row per
    // class pair, the q91-closure-compatible semantics
    "q134_schema_summary" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val types = docs.select(dId.as("inst"),
          concat(lit("c"), pmod(col("doc_id"), lit(12))).as("cls"))
        .unionByName(docs.where(pmod(col("doc_id"), lit(4)) === 0)
          .select(dId.as("inst"), lit("cSpecial").as("cls")))
        .unionByName(docs.select(concat(lit("o"), pmod(col("doc_id"), lit(16))).as("inst"),
          concat(lit("Org"), pmod(pmod(col("doc_id"), lit(16)), lit(3))).as("cls")))
      TripleOps.schemaSummary(types, Lane.worksFor(docs))
        .select("src_cls", "p", "dst_cls", "n_edges", "n_src", "n_dst")
    }),
    // the composition the q128 machinery exists FOR: canonical
    // labeling then the q127 digest = isomorphism-invariant integrity
    // stamps for bnode-BEARING named graphs (the q128 fixture's quads,
    // so the oracle is q128's pipeline with q127's digest tail)
    "q135_canonical_digest" -> ((s, d) => {
      val quads = bnodeAuthorQuads(t(s, d, "documents"))
      TripleOps.graphDigest(TripleOps.canonicalBNodeQuads(quads))
        .select(col("g"), col("digest"), col("n_triples"))
    }),
    // time-travel snapshots of a versioned assertion log: lang
    // asserted at 1000+id%7, retracted for %5-docs at 2000,
    // re-asserted 'yy' for %10-docs at 3000; bucket lane at 1500.
    // Snapshot semantics: latest event ≤ T wins, asserts survive —
    // evaluated at T=2500 (retractions visible, re-asserts not) and
    // T=3500 (re-asserts back), union-tagged by t_at
    "q136_triple_snapshot" -> ((s, d) => {
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
    }),
    // CONSTRUCT with template BLANK NODES (SPARQL spec: fresh bnodes
    // per solution, one node per template label within a solution):
    // each worksFor solution grows a qualified role node _:r carrying
    // the employee, the org and a type — the deterministic label is
    // name + 'x' + md5 over the sorted-column binding tuple, which
    // the oracle replays verbatim
    "q137_construct_bnodes" -> ((s, d) => {
      val spo = Lane.worksFor(t(s, d, "documents"))
      val sols = TripleOps.bgp(spo, Seq(("?x", "worksFor", "?org")))
      TripleOps.construct(sols, Seq(
        ("?x", "hasRole", "_:r"), ("_:r", "roleIn", "?org"), ("_:r", "type", "Role")))
        .select("s", "p", "o")
    }),
    // SPARQL results-CSV serialization: RFC-4180 quoting over a
    // solution table whose values exercise every lane — embedded
    // comma, embedded quote (doubled), and plain — plus the
    // header-first discipline (is_header column; an empty solution
    // set still yields the header line)
    "q138_results_csv" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val sols = docs.select(dId.as("x"),
        concat(lit("v,"), pmod(col("doc_id"), lit(10))).as("a"),
        concat(lit("q\""), pmod(col("doc_id"), lit(7))).as("b"),
        col("lang").as("c"))
      TripleOps.resultsCsv(sols, Seq("x", "a", "b", "c"))
        .select("is_header", "line")
    }),
    // incremental AGGREGATE-view maintenance: the q134 schema summary
    // refreshed under edge additions — additive n_added telescopes
    // from the delta, distinct cardinalities re-derive over TOUCHED
    // class pairs only; %6-docs' added edges land on a new predicate
    // (fundedBy), %4-docs duplicate existing worksFor edges (must not
    // touch). Oracle = the definitional full summary semi-joined to
    // the genuinely-new delta's groups
    "q139_schema_summary_delta" -> ((s, d) => {
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
    }),
    // PROJECTED-view retraction (full DRed): the view projects ?x out
    // of (?x worksFor ?org)(?org label ?lbl) — removing the labels of
    // orgs o0..o7 over-deletes every x working for them, but %4-docs
    // re-derive through their second (oX) affiliation and survive;
    // oracle is the definitional proj(sols(base)) EXCEPT
    // proj(sols(base∖removed))
    "q140_bgp_retract_projected" -> ((s, d) => {
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
    }),
    // RDF collection (rdf:List) reconstruction: per-doc cons-cell
    // chains of length 1 + doc_id%4 unrolled into ordered
    // (s, p, idx, elem) rows; %10-docs also enter mid-chain (suffix
    // re-based at idx 0), %5-docs carry an empty-list (nil) entry
    // that emits nothing. Oracle walks the same chains with a
    // recursive CTE
    "q141_rdf_list_unroll" -> ((s, d) => {
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
    }),
    // SPARQL GROUP_CONCAT: per-org member lists, order pinned to the
    // zero-padded subject id (the q117/q98 rule: lexicographic ==
    // numeric) — SPARQL leaves concat order implementation-defined,
    // so both engines sort explicitly on the same unique key
    "q142_group_concat" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val spo = docs.select(format_string("d%06d", col("doc_id")).as("s"),
        lit("worksFor").as("p"), concat(lit("o"), pmod(col("doc_id"), lit(16))).as("o"))
      val sols = TripleOps.bgp(spo, Seq(("?x", "worksFor", "?org")))
      TripleOps.groupConcat(sols, Seq("org"), "x", "x", ",", out = "members")
        .select("org", "members")
    }),
    // IFP entity resolution end-to-end: subjects sharing an email
    // (doc_id%17 classes) are inferred sameAs (star-to-min links),
    // then the graph is canonicalized — emails collapse to one row
    // per identity class, labels re-subject onto the class minimum.
    // Zero-padded ids make the CC's lexicographic min numeric (q98)
    "q143_ifp_entity_resolution" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val dId = format_string("d%06d", col("doc_id"))
      val spo = docs.select(dId.as("s"), lit("email").as("p"),
          concat(lit("e"), pmod(col("doc_id"), lit(17))).as("o"))
        .unionByName(docs.select(dId.as("s"), lit("label").as("p"),
          concat(lit("L"), col("doc_id")).as("o")))
      val sa = TripleOps.ifpSameAs(spo, Seq("email"))
      TripleOps.sameAsCanonicalize(spo.unionByName(sa))
        .select("s", "p", "o")
    }),
    // SPARQL p+ (unbounded one-or-more path) over the div-2 link
    // tree: every node reaches all its ancestors down to the root —
    // transitive closure via pair doubling, oracled by an
    // independent recursive walk
    "q144_path_closure" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val edges = docs.where(col("doc_id") >= 1)
        .select(format_string("n%06d", col("doc_id")).as("s"),
          lit("linksTo").as("p"),
          format_string("n%06d", expr("doc_id div 2")).as("o"))
      TripleOps.path(edges, Seq(TripleOps.OneOrMore("linksTo")))
        .select("src", "dst")
    }),
    // Pairwise ER evaluation without pair materialization: the
    // contingency-table identity turns cluster-level P/R into three
    // map-side-combinable counts — the predicted labels corrupt the
    // gold id%17 classes on the id%51==1 rows, so TP/FP/FN are all
    // nonzero at every SF; ppm ratios truncate (q62)
    "q173_er_metrics" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val gold = pmod(col("doc_id"), lit(17))
      val pred = when(pmod(col("doc_id"), lit(51)) === 1,
        pmod(col("doc_id") * 31, lit(17))).otherwise(gold)
      Curation.pairwiseErMetrics(docs.select(
        dId.as("id"),
        concat(lit("p"), pred).as("pred"),
        concat(lit("g"), gold).as("gold")))
    }),
    // k-truss edge peeling over a per-16-id-block fixture: a triangle
    // ladder on idx 0..7 (chain + chords — middle chain edges carry
    // support 2, so k=4 peels chords round 1, the orphaned chain
    // round 2), a K4 on idx 8..11 (every edge support 2, survives),
    // and a pendant at idx 12 (no triangle, drops round 1) — the
    // multi-round peel and the surviving core both exercised at
    // every SF; the oracle unrolls the full cap (monotone peel:
    // post-fixpoint rounds are identities, the q71 rule)
    "q177_ktruss" -> ((s, d) => {
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
    }),
    // common-neighbor link prediction over the div-2 ancestor tree
    // plus a planted hub (ids ≡5 mod 16 all link to one node): the
    // hub's degree (~31) exceeds the wedge-center cap of 16, so it
    // contributes NO candidate pairs — the cap is part of the
    // operator contract and the oracle replays it; AA weights are
    // q70 whole-bit integers (1e6 div length(bin(deg)))
    "q178_link_prediction" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val tree = docs.where(col("doc_id") >= 2)
        .select(col("doc_id").as("a"), expr("doc_id div 2").as("b"))
      val hub = docs.where(pmod(col("doc_id"), lit(16)) === 5)
        .select(col("doc_id").as("a"), lit(1000000L).as("b"))
      GraphOps.linkPrediction(tree.unionByName(hub), maxHubDegree = 16)
    }),
    // Z-order layout vs ingest-order layout, judged by the zone-map
    // pruning audit: 10-bit (x, y) coordinates from doc_id residues,
    // Morton z-value tiles of 128x128 (z div 16384) against
    // 8-consecutive-doc "files" — the aligned query box lands in ONE
    // z tile while every rowid bucket spans the full coordinate range;
    // rows_matched is layout-invariant by construction and the oracle
    // restates the whole bit-interleave ladder in BIGINT shifts
    "q179_zorder_layout" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pts = docs.select(col("doc_id"),
        pmod(col("doc_id") * 37, lit(1024)).as("x"),
        pmod(col("doc_id") * 101, lit(1024)).as("y"))
        .withColumn("zv", Layout.zValue(col("x"), col("y")))
      Layout.zoneMapAudit(pts, "x", "y",
          expr("CAST(zv div 16384 AS BIGINT)"), "zorder", 128, 255, 512, 639)
        .unionByName(Layout.zoneMapAudit(pts, "x", "y",
          expr("CAST(doc_id div 8 AS BIGINT)"), "rowid", 128, 255, 512, 639))
    }),
    // SHACL property-pair constraints: sh:equals (one-sided extra
    // alias), sh:disjoint (planted shared tag), sh:lessThan (inverted
    // low/high lane — the min collapse of the every-pair rule), and
    // sh:uniqueLang (duplicated @en label); each lane fires on its
    // own residue class, conforming docs stay silent
    "q180_shacl_pairs" -> ((s, d) => {
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
    }),
    // OWL 2 RL class restrictions, one rule application each:
    // cls-hv1 (typed VIPs derive their status), cls-hv2 (gold status
    // derives the type), cls-svf1 (orgs employing a typed Person
    // become Employers), cls-avf (members of a typed Team become
    // Players) — restriction schema broadcast, instance triples never
    // shuffle on a schema key
    "q181_owl_restrictions" -> ((s, d) => {
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
    }),
    // SHACL logical + closed shapes: sh:and/sh:or over (email, phone)
    // presence, sh:not on the spam lane (doubled on %22 for an
    // observable count), sh:xone over (nick, email), sh:closed with
    // meta ignored — every lane fires on its own residue class and
    // the oracle restates presence as pure residue CASE arithmetic
    "q182_shacl_logical" -> ((s, d) => {
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
    }),
    // owl:hasKey (prp-key): Person keyed on (ssn_a, ssn_b) — tuple
    // groups are the doc_id mod lcm(40,25)=200 residues, star links
    // to the zero-padded minimum subject (q98/q143 rules); the %10==9
    // untyped lane and the %17==0 missing-prop lane are excluded even
    // where they share tuples, and the %30==0 lane is multi-valued on
    // ssn_a so the combination fan-out is exercised at every SF
    "q183_owl_haskey" -> ((s, d) => {
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
    }),
    // incremental connected components: base labels are the 8-block
    // partition (an INPUT — the materialized prior state, not
    // recomputed), delta edges merge block pairs (%32), attach
    // brand-new x-nodes (%50) and add same-component no-ops (%24,
    // contracting to nothing); the label-graph CC runs on the
    // delta-sized contraction only, and the oracle is the
    // DEFINITIONAL full recompute over (base-label graph ∪ delta)
    // via the q26-style recursive min-label reach
    "q184_cc_delta" -> ((s, d) => {
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
    }),
    // OWL 2 RL property-axiom checks: prp-asyp over the div-2 tree
    // with a %43 reversed lane (canonical parent<=child witness),
    // prp-pdw on a planted shared (s, o) at %21 with a %9 noise lane
    // that never collides, prp-npa1 firing at lcm(14,35)=70, and
    // eq-diff1 with the differentFrom lane stored REVERSED so the
    // symmetric match is load-bearing
    "q185_owl_prop_axioms" -> ((s, d) => {
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
    }),
    // k-bisimulation quotient over the div-2 tree + a %8<2 'link'
    // lane (incl. the %8==0 self-loop), types on even ids only — the
    // depth-2 classes separate what depth-1 cannot, and the oracle
    // replays the hash-refinement rounds with ordered string_agg over
    // DISTINCT items (== sort_array(collect_set)) and the chr(1/2/3)
    // separator discipline
    "q186_bisim_summary" -> ((s, d) => {
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
    }),
    // coherence-reranked entity linking: two mentions per doc, each
    // with a strong-prior candidate and a weak-prior candidate that
    // only the odd clique relates — the vote flips the winner exactly
    // when BOTH mentions' residues sit outside the %3==2 class, so
    // the oracle is the CLOSED FORM of the argmax, independent of the
    // join/window plan
    "q187_link_coherence" -> ((s, d) => {
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
    }),
    // validity-interval coalescing over 37 keys: gaps-and-islands with
    // gap=1 adjacency merge, duplicate (key, lo, hi) rows collapse
    // first (the q73 rule), and the oracle is the independent
    // endpoint formulation (starts no earlier interval reaches,
    // ends no later interval extends)
    "q188_interval_coalesce" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val iv = docs.select(
        concat(lit("k"), pmod(col("doc_id"), lit(37))).as("key"),
        pmod(col("doc_id") * 7, lit(500)).as("lo"),
        (pmod(col("doc_id") * 7, lit(500)) + pmod(col("doc_id"), lit(25))).as("hi"))
      EventOps.coalesceIntervals(iv, gap = 1L)
        .select("key", "lo", "hi", "n_merged")
    }),
    // WordPiece greedy longest-match segmentation of the corpus's
    // distinct word types against the shared unit inventory; token
    // sequences serialize comma-joined (q79) and the oracle walks the
    // same step table with a recursive functional chain — no
    // aggregates in the recursion, so both engines replay exactly
    "q189_wordpiece" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val words = docs.select(explode(TextOps.words(col("text"))).as("word"))
      Bpe.wordpieceSegment(words).select("word", "tokens", "ntok")
    }),
    // unigram-LM Viterbi segmentation census: the OPTIMAL min-cost
    // segmentation per word type over the q189 unit inventory with
    // length-derived integer costs (singles 100, bigrams 150,
    // trigrams 220) plus the optimal-path tie count — the subword
    // triad's third tokenizer (BPE merge replay / WordPiece greedy /
    // unigram Viterbi); occurrence weights join back per type
    "q211_viterbi_segment" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val tok = docs.select(explode(TextOps.words(col("text"))).as("word"))
      val occ = tok.groupBy(col("word"))
        .agg(count(lit(1)).cast("bigint").as("n_occ"))
      Bpe.viterbiSegmentCensus(occ.select(col("word")))
        .join(occ, Seq("word"))
        .select("word", "n_occ", "len", "min_cost", "n_best")
    }),
    // greedy-vs-optimal tokenizer gap: q189's WordPiece segmentation
    // costed under the q211 unit-cost model (a once-per-row lambda
    // over the token list — greedy emits ONE segmentation, so its
    // cost is just that path's sum) joined against the Viterbi
    // optimum; excess >= 0 by construction (the optimum ranges over
    // all segmentations incl. greedy's) — the report that tells a
    // tokenizer owner where longest-match loses and by how much
    "q213_greedy_gap" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val words = docs.select(explode(TextOps.words(col("text"))).as("word"))
      val greedy = Bpe.wordpieceSegment(words)
        .select(col("word"),
          // cost literals spliced from the shared Bpe model (ADVICE-r5
          // #4) — generates the identical expression text; a cost-model
          // change now flows to both tokenizer legs from one place
          // (q213Sql repeats the literals — change them only together)
          expr(s"aggregate(split(tokens, ','), 0L, (s, t) -> s + IF(length(t) = 1, " +
            s"${Bpe.ViterbiCharCost}L, ${Bpe.ViterbiUnitSlope}L * length(t) + " +
            s"${Bpe.ViterbiUnitIntercept}L))").as("greedy_cost"))
      Bpe.viterbiSegmentCensus(words)
        .join(greedy, Seq("word"))
        .select(col("word"), col("greedy_cost"), col("min_cost"),
          (col("greedy_cost") - col("min_cost")).as("excess"))
    }),
    // SPARQL total term ordering: a five-kind residue ladder (unbound,
    // bnode, IRI, signed xsd:integer literal, plain literal) ranked
    // under the pinned total order with doc_id closing the tie — the
    // top-k plans as TakeOrderedAndProject (no global sort) and the
    // oracle restates the same key ladder
    "q190_term_order" -> ((s, d) => {
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
    }),
    // AMIE-style chain-rule mining over a five-predicate KG: the
    // grandparent <- parent.parent and basedIn <- worksFor.locatedIn
    // rules plus every accidental combination, scored in ONE z-join;
    // minSupport=5 prunes the tail, the hub cap never fires at test
    // fanouts (o-hubs peak ~in*1) and the oracle replays the full
    // census incl. the cap
    "q191_rule_mining" -> ((s, d) => {
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
    }),
    // landmark eccentricity over the undirected div-2 tree from %250
    // seeds: exact per-seed BFS depth (truncation throws), n_reached
    // pins component coverage; the oracle's recursive walk min-folds
    // all ≤30-hop paths — safe because the tree keeps per-pair
    // distance parity classes tiny
    "q192_eccentricity" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val edges = docs.where(col("doc_id") >= 1)
        .select(col("doc_id").as("a"), expr("doc_id div 2").as("b"))
      val seeds = docs.where(pmod(col("doc_id"), lit(250)) === 0)
        .select(col("doc_id").as("node"))
      GraphOps.eccentricity(edges, seeds, maxHops = 30)
        .select("src", "ecc", "n_reached")
    }),
    // whole-bit degree census of the tree + a planted %16 hub lane —
    // the power-law report that motivates every hub cap in this
    // engine; buckets are length(bin(deg))-1 (q70 rule, no FP log)
    "q193_degree_census" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val edges = docs.where(col("doc_id") >= 1)
          .select(col("doc_id").as("a"), expr("doc_id div 2").as("b"))
        .unionByName(docs.where(pmod(col("doc_id"), lit(16)) === 5)
          .select(col("doc_id").as("a"), lit(1000000L).as("b")))
      GraphOps.degreeCensus(edges)
        .select("bucket", "n_nodes", "min_deg", "max_deg", "sum_deg")
    }),
    // SHACL path-cardinality shapes: a 2-step sequence (worksFor →
    // managedBy, orgs in the %4==3 residue unmanaged → minCount), an
    // alternation (nick|name, the %9 lane reaches 3 values →
    // maxCount), and an inverse path (^mentor mentee count over the
    // div-2 tree, internal nodes with both children → maxCount); the
    // oracle restates each count in closed residue form
    "q194_shacl_path" -> ((s, d) => {
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
    }),
    // SHACL sh:qualifiedValueShape (qualifiedMinCount=1 /
    // qualifiedMaxCount=1 over the sh:class Expert inner shape): each
    // doc knows m((d+7i)%20) on lanes i=0 (always), i=1 (d%2==0),
    // i=2 (d%5==0); Expert membership is the residue%3==0 set, so the
    // conforming count is pure residue arithmetic — qualifiedMin
    // fires on 10 of 20 residues, qualifiedMax exactly on d%20==15
    // (the only residue with two conforming lanes). The three lane
    // values are distinct mod 20 (7i pairwise distinct), so the
    // operator's distinct-value count equals the lane count
    "q209_shacl_qualified" -> ((s, d) => {
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
    }),
    // k-anonymity audit on (source, lang, 100-char size bucket): the
    // post-PII re-identification check — equivalence classes smaller
    // than k=10 would be suppressed before release; the size-bucket
    // tail guarantees violating groups at every SF
    "q195_k_anonymity" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Curation.kAnonymityViolations(
        docs.select(col("source"), col("lang"),
          expr("n_chars div 100").cast("bigint").as("size_bucket")),
        Seq("source", "lang", "size_bucket"), k = 10L)
        .select("source", "lang", "size_bucket", "n")
    }),
    // Aho-Corasick multi-pattern scan (the third codegen Catalyst
    // expression): one automaton pass per document counts EVERY
    // occurrence of the shared curation pattern set — nested patterns
    // (scan>can>an, order>er) each count; the oracle restates the
    // count as a per-position substring census over the same VALUES
    // list (ASCII corpus, so byte == char positions)
    "q197_multi_find" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val docs = t(s, d, "documents")
      val call = "multi_find_count(text, " +
        graft.functions.MultiFindCount.CurationPatterns
          .map(p => s"'$p'").mkString(", ") + ")"
      docs.select(col("doc_id"), expr(call).as("n_matches"))
        .where(col("n_matches") > 0)
    }),
    // ER blocking-quality metrics: gold groups = %150 residues,
    // blocking = %40 buckets — a gold pair is covered iff its id
    // difference is divisible by lcm-structure 600, so recall is a
    // nontrivial deterministic fraction; all pair counts are
    // per-group C(s,2) sums (the q173 contingency identity, nothing
    // quadratic materialized)
    "q198_blocking_quality" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Curation.blockingQuality(docs.select(
        col("doc_id").as("id"),
        pmod(col("doc_id"), lit(150)).as("gold_key"),
        pmod(col("doc_id"), lit(40)).as("block_key")))
        .select("n_items", "n_gold_pairs", "n_cand_pairs", "n_covered",
          "recall_ppm", "reduction_ppm")
    }),
    // corpus mix drift vs a declared target-weight table (weights
    // derived from the source index, plus a planted absent source
    // whose whole target shows as negative drift); full-outer so both
    // directions surface
    "q199_mix_drift" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val targets = docs.select(col("source").cast("string").as("source")).distinct()
        .select(col("source"),
          expr("(CAST(substring(source, 4) AS BIGINT) + 1) * 1000000 div 210")
            .as("target_ppm"))
        .unionByName(Seq(("srcX", 50000L)).toDF("source", "target_ppm"))
      Curation.mixDrift(docs, targets)
        .select("source", "n_docs", "obs_ppm", "target_ppm", "drift_ppm")
    }),
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
    "q200_canon_ndegree" -> ((s, d) => {
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
    }),
    // near-dup cluster SIZE census — the dedup report every curation
    // run publishes (how much of the corpus is duplicated, at what
    // multiplicity): cluster sizes from the q26 LSH+CC labels
    // (StageCache-shared), frequency-of-sizes census, singletons
    // restored as the csize=1 row from the total-vs-clustered scalar
    // (CC clusters are always >= 2, so the row is exactly the
    // unclustered docs)
    "q201_cluster_census" -> ((s, d) => {
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
    }),
    // vocabulary frequency-of-frequencies spectrum (Zipf / Good-Turing
    // census): for each token frequency f, the distinct-type count and
    // token mass at that frequency
    "q202_freq_spectrum" -> ((s, d) => CorpusOps.freqSpectrum(t(s, d, "documents"))),
    // dedup threshold-calibration sweep: per-threshold precision /
    // recall of the LSH candidate pairs against the exact-duplicate
    // gold standard (md5(text) equality). Scored pairs are the
    // StageCache-shared LSH stages WITHOUT the jaccard gate (integer
    // ic/uc, q62 ppm); gold totals are per-group C(s,2) sums (q173 —
    // gold pairs outside the candidate buckets still count against
    // recall, so the sweep measures the LSH's own recall too); the
    // 5-row threshold table is a bounded broadcast explode
    "q204_threshold_sweep" -> ((s, d) => {
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
    }),
    // triplet mining for contrastive embedding training: per anchor,
    // the hardest POSITIVE (min integer dot among same-label) and
    // hardest NEGATIVE (max dot among other labels) with the signed
    // margin — the semi-hard mining report a metric-learning run
    // feeds on. Bounded broadcast anchor slice (the q18 sanctioned
    // shape), codegen int_vec_dot_norms kernel, (dot, cand_id)
    // tiebreak (q103 rule); margin is one signed subtraction of two
    // exact integers (q160 regime)
    "q205_triplet_mining" -> ((s, d) => {
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
    }),
    // characteristic sets (Neumann & Moerkotte) — THE classic RDF
    // cardinality-estimation statistic: subjects grouped by their
    // DISTINCT-predicate set, with subject and triple counts per set.
    // One subject-keyed shuffle (collect_set partial-aggregates
    // map-side), then a set-keyed census; the cset key rides the q186
    // discipline (sort_array(collect_set) == DuckDB ordered
    // string_agg over a distinct subselect). The %10 second-topic
    // lane makes n_triples exceed the predicate count for some sets
    "q206_char_sets" -> ((s, d) => {
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
    }),
    // Cohen's kappa between the metadata lang and a deterministically
    // corrupted copy (doc_id%7 rotates the label through a fixed lang
    // cycle) — the agreement metric with all four components exercised
    // at every SF; the corruption CASE is shared text with the oracle
    "q203_rater_kappa" -> ((s, d) => {
      val docs = t(s, d, "documents")
      Curation.agreementKappa(docs.select(col("lang").as("a"),
        when(pmod(col("doc_id"), lit(7)) === 0,
          expr("CASE lang WHEN 'en' THEN 'fr' WHEN 'fr' THEN 'es' WHEN 'es' THEN 'de' WHEN 'de' THEN 'zh' ELSE 'en' END"))
          .otherwise(col("lang")).as("b")))
    }),
    // multi-granularity corpus census via ROLLUP (source, lang):
    // Spark's rollup == SQL GROUP BY ROLLUP — subtotal rows carry
    // NULL group keys in both engines, and the data's keys are never
    // null so the marker is unambiguous; integer sums only
    "q196_rollup_census" -> ((s, d) => {
      val docs = t(s, d, "documents")
      docs.rollup(col("source"), col("lang"))
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          sum(col("n_chars")).cast("bigint").as("chars_sum"))
        .select("source", "lang", "n_docs", "chars_sum")
    }),
    // Interval-overlap join via timeline binning — the scale-safe
    // range join: intervals expand to width-64 bins, sides EQUI-join
    // on the bin, the exact overlap predicate prunes, pair-distinct
    // removes multi-bin duplicates; the oracle is the NAIVE overlap
    // join (safe at test SFs), deliberately independent of the
    // binning
    "q172_interval_join" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val aa = docs.select(concat(lit("a"), col("doc_id")).as("id"),
        pmod(col("doc_id") * 13, lit(1000)).as("lo"),
        (pmod(col("doc_id") * 13, lit(1000)) + pmod(col("doc_id"), lit(50))).as("hi"))
      val bb = docs.where(pmod(col("doc_id"), lit(5)) === 0)
        .select(concat(lit("b"), col("doc_id")).as("id"),
          pmod(col("doc_id") * 7, lit(1000)).as("lo"),
          (pmod(col("doc_id") * 7, lit(1000)) + pmod(col("doc_id"), lit(30))).as("hi"))
      EventOps.intervalOverlapJoin(aa, bb, binWidth = 64L).select("ida", "idb")
    }),
    // RDF-star edge annotations: confidence statements about quoted
    // << x worksFor org >> triples (the RDF 1.2 idiom that replaces
    // 4-triple reification), queried back by the SPARQL-star basic
    // pattern — a non-quoted confidence row plants the negative lane
    // the rlike filter must exclude
    "q170_rdf_star" -> ((s, d) => {
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
    }),
    // OWL 2 RL prp-eqp: equivalentProperty entailment — the {p0,p1,p2}
    // and {p3,p4} classes (chained through p1: symmetric-transitive
    // closure of the schema pairs) fan every asserted triple out to
    // all class members; p5 stays alone
    "q171_owl_equiv_prop" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val spo = docs.select(dId.as("s"),
        concat(lit("p"), pmod(col("doc_id"), lit(6))).as("p"),
        concat(lit("v"), pmod(col("doc_id"), lit(10))).as("o"))
      val equiv = Seq(("p0", "p1"), ("p1", "p2"), ("p3", "p4")).toDF("a", "b")
      TripleOps.equivPropEntail(spo, equiv).select("s", "p", "o")
    }),
    // NOT EXISTS over OPTIONAL-fed solutions — the unbound-variable
    // substitution corner: an UNBOUND ?m stays a FREE variable in the
    // filter pattern, so the existence check is unconstrained and
    // (because flagged mentors exist) NOT EXISTS drops every
    // unbound-?m solution too — only bound-and-unflagged mentors
    // survive; a naive null-key anti-join would wrongly keep the
    // unbound rows
    "q169_exists_unbound" -> ((s, d) => {
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
    }),
    // SPARQL COUNT(?var) vs COUNT(*) over OPTIONAL-fed solutions: the
    // spec's aggregate skips UNBOUND bindings — identical to SQL
    // count(col) null-skipping — while COUNT(*) counts every
    // solution; SUM/MAX over the optional variable likewise ignore
    // unbound rows (nulls), never poison the aggregate
    "q168_agg_unbound" -> ((s, d) => {
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
    }),
    // SPARQL per-group top-k subquery (the §12 canonical example
    // shape: for each group, the k best members): rank by (age DESC,
    // member ASC) — the tiebreak is load-bearing (q103 rule) because
    // ages collide across members — then keep rank <= 2; expressed as
    // one (org)-partitioned window over the joined solutions
    "q167_subquery_topk_group" -> ((s, d) => {
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
    }),
    // rdf:List construction (the write side of q141's unroll): one
    // cons chain per group, elements in (ord, v) order with unique
    // ord, deterministic md5-prefix cell labels — round-tripped by
    // rdfListUnroll in the unit spec, and replayed label-for-label by
    // the oracle's window formulation
    "q166_rdf_list_build" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val items = docs.select(
        concat(lit("g"), pmod(col("doc_id"), lit(100))).as("s"),
        col("doc_id").as("ord"),
        concat(lit("t"), pmod(col("doc_id"), lit(7))).as("v"))
      TripleOps.buildLists(items).select("s", "p", "o")
    }),
    // DESCRIBE with Concise Bounded Description: matched nodes plus
    // the recursive closure of their BLANK-NODE objects (address →
    // geo chain), stopping at IRIs (the linked http://x/* nodes'
    // triples must NOT appear even though they are objects of the
    // described subject)
    "q165_describe_cbd" -> ((s, d) => {
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
    }),
    // SPARQL term constructors (the write half of §17.4): STRDT/
    // STRLANG literal-string builders (round-tripping through the
    // q149 accessors by construction), IRI() against the query base
    // (absolute pass-through), and deterministic per-solution BNODE()
    // labels (md5-prefix of solution key + argument)
    "q163_term_constructors" -> ((s, d) => {
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
    }),
    // SPARQL/XPath numeric functions on integer rationals a/7 (a
    // signed): ABS, FLOOR, CEILING, and xpath:round (half toward
    // +infinity) — all in pure integer arithmetic, negative operands
    // routed through non-negative div identities so Spark div and
    // DuckDB // agree (the q62 regime)
    "q164_numeric_funcs" -> ((s, d) => {
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
    }),
    // Incremental fusion-view maintenance: new assertions (color
    // re-votes for the id%10<3 docs) re-derive winners ONLY for their
    // touched (entity, property) groups — untouched groups keep their
    // base winners via the anti-join lane; the oracle is the
    // DEFINITIONAL full fusion over base ∪ delta (q139 rule: keep it
    // independent of the semi-restrict plan)
    "q162_fusion_delta" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val base = spoOf(docs, Lane.colors, Lane.shapes)
      val added = docs.where(pmod(col("doc_id"), lit(10)) < 3)
        .select(concat(lit("e"), pmod(col("doc_id"), lit(50))).as("s"), lit("color").as("p"),
          concat(lit("v"), pmod(col("doc_id") * 11, lit(3))).as("o"))
      TripleOps.resolveConflictsDelta(base, added).select("s", "p", "o", "support")
    }),
    // Deterministic random walks (the DeepWalk/node2vec corpus
    // generator): step choice = md5('rw|start|pos|cur') first-6-nibble
    // integer mod out-degree into the positional adjacency — zero-pad
    // node ids keep row_number's dst order numeric (q98), and the
    // whole 4-step corpus replays in DuckDB via the q30 nibble decode
    "q161_random_walks" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val edges = docs.select(
        format_string("n%02d", pmod(col("doc_id"), lit(40))).as("src"),
        format_string("n%02d", pmod(col("doc_id") * 7 + 3, lit(40))).as("dst"))
      GraphOps.deterministicWalks(edges, 4).select("start", "pos", "node")
    }),
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
    "q160_transe_rank" -> ((s, d) => {
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
    }),
    // SHACL value constraints (core §4.2-4.4): sh:pattern over the
    // value string (RE2-subset regex), sh:in term-set membership,
    // sh:minLength, sh:datatype via the term-structure decode — four
    // planted violation lanes, each firing on its own residue class
    "q158_shacl_values" -> ((s, d) => {
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
    }),
    // OWL 2 RL cax-dw: owl:disjointWith consistency check — every
    // instance typed with both classes of a disjoint pair is a
    // violation witness; each doc carries types c(id%6) and
    // c((id+3)%6), so exactly the {0,3} and {1,4} residue pairs fire
    "q159_owl_disjoint" -> ((s, d) => {
      import s.implicits._
      val docs = t(s, d, "documents")
      val types = docs.select(dId.as("inst"),
          concat(lit("c"), pmod(col("doc_id"), lit(6))).as("cls"))
        .unionByName(docs.select(dId.as("inst"),
          concat(lit("c"), pmod(col("doc_id") + 3, lit(6))).as("cls")))
      val dis = Seq(("c0", "c3"), ("c1", "c4")).toDF("a", "b")
      TripleOps.disjointViolations(types, dis).select("inst", "a", "b")
    }),
    // SPARQL string/hash function layer round 2: STRBEFORE/STRAFTER
    // (empty-on-absent via the instr guard), CONTAINS, ENCODE_FOR_URI
    // (documented fixture-alphabet subset: space and '/' percent-
    // encode via chained replaces, engine-identical), and MD5 (Spark
    // md5 == DuckDB md5 hex)
    "q154_strfuncs2" -> ((s, d) => {
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
    }),
    // SPARQL XPath-style dateTime accessors (YEAR/MONTH/DAY/HOURS/
    // MINUTES/SECONDS/TZ) over xsd:dateTime LEXICAL forms — pure
    // fixed-offset substring slices (the q131 substring-parity rule),
    // no calendar library and no session timezone anywhere near the
    // path (the q49 NTZ discipline)
    "q155_datetime_accessors" -> ((s, d) => {
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
    }),
    // KG fusion: conflicting extracted values per (entity, property)
    // resolve by support voting — most assertions win, lexicographic
    // min value on ties (deterministic under any arrival order);
    // duplicate assertion rows are votes by design
    "q156_kg_fusion" -> ((s, d) => {
      val a = spoOf(t(s, d, "documents"), Lane.colors, Lane.shapes)
      TripleOps.resolveConflicts(a).select("s", "p", "o", "support")
    }),
    // SPARQL COUNT(DISTINCT ?x) vs COUNT(*): the duplicated solution
    // lane makes the distinction observable — n_rows doubles, the
    // distinct counts don't
    "q157_agg_distinct" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val sols0 = docs.select(dId.as("x"),
        concat(lit("o"), pmod(col("doc_id"), lit(16))).as("org"),
        concat(lit("l"), pmod(col("doc_id"), lit(5))).as("lg"))
      val sols = sols0.unionByName(sols0)
      sols.groupBy(col("org")).agg(
        count(lit(1)).as("n_rows"),
        countDistinct(col("x")).as("n_members"),
        countDistinct(col("lg")).as("n_langs"))
    }),
    // OPTIONAL with an inner FILTER — LeftJoin(Ω1, Ω2, expr): the
    // price≤budget condition decides the MATCH, so failing offers
    // leave the solution in place with price unbound (−1 sentinel),
    // never dropped; the id%3==0 docs have no offer at all and land
    // in the same unbound lane
    "q151_optional_filter" -> ((s, d) => {
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
    }),
    // SPARQL BIND expression functions over OPTIONAL solutions:
    // COALESCE picks the nick when bound else the name; BOUND drives
    // an IF into a 0/1 flag — null-propagation semantics map exactly
    // onto Spark coalesce/when
    "q152_bind_coalesce" -> ((s, d) => {
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
    }),
    // SPARQL VALUES with UNDEF wildcards: binding rows constrain only
    // their non-null columns, and a solution compatible with several
    // rows appears once per row — the spec's multiset join, pinned by
    // the deliberately overlapping (o1, UNDEF) / (UNDEF, de) rows
    "q153_values_undef" -> ((s, d) => {
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
    }),
    // SPARQL §17.4 term functions end-to-end: isIRI/isBlank/isLiteral
    // via termKind, STR (bnode → type error → null → ''), DATATYPE
    // (explicit / rdf:langString / xsd:string), LANGMATCHES with RFC
    // 4647 basic filtering ('en' matches 'EN-US' at the '-' boundary,
    // not 'de') — non-matching lang literals are the only dropped rows
    "q149_term_functions" -> ((s, d) => {
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
    }),
    // SPARQL HAVING over group aggregates: org sizes are skewed BY
    // CONSTRUCTION (trailing-zeros grouping: o0 ≈ 1/2, o1 ≈ 1/4,
    // o2/o3 ≈ 1/8 each), and HAVING keeps groups holding ≥ 1/5 of all
    // members — a data-derived threshold (broadcast scalar subquery,
    // the q102 single-row pattern), so the gate splits identically at
    // every scale factor with wide margins
    "q150_bgp_having" -> ((s, d) => {
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
    }),
    // SPARQL path alternation under closure — (a|^b)+ over a div-2
    // link forest where predicate lanes split by doc_id%3: 'a' edges
    // stored child→parent, 'b' edges stored REVERSED (so only the
    // inverse step recovers them), 'c' edges excluded — the closure
    // truncates at every c-lane link, which is what distinguishes
    // this from q144's single-predicate full-tree walk
    "q147_path_alt" -> ((s, d) => {
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
    }),
    // OWL FunctionalProperty entity resolution (prp-fp, the mirror of
    // q143's prp-ifp): every item doc_id%23 accumulates one asserted
    // owner per doc — all owners of an item are inferred sameAs, as
    // star links to the per-item minimum owner (zero-padded ids: q98
    // lexicographic == numeric); the non-functional 'note' lane must
    // be ignored
    "q148_fp_entity_resolution" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val item = concat(lit("i"), pmod(col("doc_id"), lit(23)))
      val spo = docs.select(item.as("s"), lit("ownedBy").as("p"),
          format_string("o%06d", col("doc_id")).as("o"))
        .unionByName(docs.select(item.as("s"), lit("note").as("p"),
          concat(lit("x"), col("doc_id")).as("o")))
      TripleOps.fpSameAs(spo, Seq("ownedBy")).select("s", "p", "o")
    }),
    // HTML Microdata extraction, VALUE-EXACT: each page is a pure
    // function of doc_id (lane 0 well-formed item with itemid, lane 1
    // malformed unquoted/unclosed markup, lane 2 nested bnode item,
    // lane 3 meta content + time datetime inference), so the oracle
    // states the expected triples directly. The bnode label contract —
    // md<counter> under the md5(url) document scope — is pinned
    // cross-engine (both compute md5 hex of the same url string).
    "q145_microdata_extract" -> ((s, d) => {
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
    }),
    // JSON-LD script-island extraction, VALUE-EXACT: lane 0 typed node
    // with integer literal, lane 1 nested author bnode (jl<block>_<n>
    // label contract under the md5(url) scope), lane 2 malformed first
    // block skipped + valid second block (per-block bnode namespacing
    // exercised via the block index), lane 3 term-def context with
    // @type:@id coercion (base-resolved IRI) and context @language.
    "q146_jsonld_extract" -> ((s, d) => {
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
    }),
    // reification reconstruction: qualified worksFor edges (stmt node
    // + subject/predicate/object roles + a confidence annotation)
    // rebuilt into (stmt, x, org, conf); planted malformed statements
    // — %9-docs' stmt missing its object role, %8-docs' stmt carrying
    // a CONFLICTING second object — must yield nothing (exactly-one)
    "q123_reified" -> ((s, d) => {
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
    }),
    // VoID property-partition descriptor over the q92-style spo table:
    // per predicate, triple count + exact distinct subject/object
    // cardinalities — the publish-time dataset statistics of a KG
    "q124_void_stats" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val spo = Lane.name(docs)
        .unionByName(Lane.worksFor(docs))
        .unionByName(docs.select(dId.as("s"), lit("type").as("p"),
          when(pmod(col("doc_id"), lit(3)) === 0, lit("Person"))
            .otherwise(lit("Org")).as("o")))
        .unionByName(Lane.labels(16)(docs))
      TripleOps.voidPropertyPartition(spo)
        .select(col("p"), col("n_triples"), col("n_subj"), col("n_obj"))
    }),
    // OWL property-chain + symmetric entailment: marriedTo is
    // owl:SymmetricProperty (asserted one-way, mirrored), hasParent∘
    // hasParent ⊑ hasGrandparent and hasGrandparent∘hasParent ⊑
    // hasGreatGrandparent chain to a joint fixpoint — the second
    // chain consumes the first's DERIVED edges, proving the
    // semi-naive rounds (prp-spo2, the OWL RL rule)
    "q121_owl_chain" -> ((s, d) => {
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
    }),
    // co-citation relatedness (Small 1973) over the q83 external
    // domain edges: target pairs sharing >= 2 citing domains — the
    // link-analysis signal where direct edges are sparse
    "q122_cocitation" -> ((s, d) => {
      val g = SparkEntry.queries("q83_link_graph")(s, d)
      GraphOps.coCitation(
        g.where(col("is_internal") === 0L)
          .select(col("src_domain").as("src"), col("dst_domain").as("dst")),
        minCommon = 2L)
    }),
    // SPARQL 1.1 UPDATE graph management over per-source named graphs:
    // MOVE src0 TO live, ADD src1 TO live (the shared corpus-version
    // quad lands in live from BOTH sources — set-dedup must collapse
    // it), CLEAR src2, COPY src3 TO mirror — the promote/merge/retire
    // lifecycle of a per-shard extraction corpus
    "q120_graph_mgmt" -> ((s, d) => {
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
    }),
    // strongly connected components (coloring/forward-backward) over
    // a planted directed graph: 8-rings (each ring one SCC) plus a
    // DAG of cross-ring edges (ring g → ring g div 2) that must NOT
    // merge components; zero-padded ids via printf/format_string (the
    // q98 rule) so the max-id coloring is the numeric max both sides;
    // the oracle is generic mutual reachability (forward ∩ backward
    // closure), independent of the coloring decomposition
    "q117_scc" -> ((s, d) => {
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
    }),
    // SHACL-lite shape validation over the q92-style spo table with
    // planted violations: docs %19==0 lose their name (minCount),
    // %13==0 gain a second one (maxCount), even docs %17==0 work for
    // a dangling org with no label triple (node check) — the
    // publish-gate of a KG construction pipeline
    "q94_shacl_shapes" -> ((s, d) => {
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
    }),
    // SPARQL OPTIONAL over the q92 spo table: every doc has a name,
    // only even docs work somewhere — the optional group (worksFor +
    // label chain) binds as a whole or not at all; nulls surface as
    // '' (the q79 rule: no nullable strings in oracle outputs)
    "q95_bgp_optional" -> ((s, d) => {
      val spo = spoOf(t(s, d, "documents"), Lane.name, Lane.worksFor, Lane.labels(16), Lane.topic)
      TripleOps.bgpOptional(spo,
        Seq(("?person", "name", "?name")),
        Seq(Seq(("?person", "worksFor", "?org"), ("?org", "label", "?lbl"))))
        .select(col("person"), col("name"),
          coalesce(col("org"), lit("")).as("org"),
          coalesce(col("lbl"), lit("")).as("lbl"))
    }),
    // SPARQL property path (linksTo|redirectsTo){1,3} over a synthetic
    // ancestor forest (d_i -> d_{i div 2}, plus a sparser div-3
    // redirect lane): alternation is one isin slice, the hop cap IS
    // the semantics (unbounded p+ over a TB ABox is a different
    // operator), pairs dedup at their minimum hop via the semi-naive
    // frontier — noise predicates prove the slice pushes down
    "q96_property_path" -> ((s, d) => {
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
    }),
    // SPARQL MINUS + FILTER over the q92/q95 spo table: docs with a
    // name (except the filtered one) minus those working for a
    // LABELED org — labels stop at o11, so even docs pointing at
    // o12-o15 survive the minus (the group must match as a whole)
    "q97_bgp_minus" -> ((s, d) => {
      val spo = spoOf(t(s, d, "documents"), Lane.name, Lane.worksFor, Lane.labels(12))
      TripleOps.bgpMinus(spo,
        Seq(("?person", "name", "?name")),
        Seq(Seq(("?person", "worksFor", "?org"), ("?org", "label", "?lbl"))))
        .where(col("name") =!= "n7") // SPARQL FILTER: plain relational predicate
        .select(col("person"), col("name"))
    }),
    // owl:sameAs canonicalization: star identity clusters {5k..5k+4}
    // (zero-padded ids so lexicographic min == numeric min in BOTH
    // engines), name literals collapse within a cluster, knows edges
    // rewrite on both ends; sameAs triples are consumed
    "q98_sameas_rewrite" -> ((s, d) => {
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
    }),
    // SPARQL UNION + VALUES: employment via worksFor OR memberOf+label
    // (the label var is null on the first lane — spec alignment), then
    // VALUES pins three orgs (broadcast inline-binding join)
    "q99_bgp_union_values" -> ((s, d) => {
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
    }),
    // SPARQL CONSTRUCT over an OPTIONAL-fed solution set: template rows
    // materialize as a graph SET, entries referencing an unbound
    // optional var emit nothing for that solution
    "q100_construct" -> ((s, d) => {
      val spo = spoOf(t(s, d, "documents"), Lane.worksFor, Lane.labels(12))
      val sols = TripleOps.bgpOptional(spo,
        Seq(("?x", "worksFor", "?org")),
        Seq(Seq(("?org", "label", "?lbl"))))
      TripleOps.construct(sols, Seq(
        ("?x", "affiliatedWith", "?org"),
        ("?org", "displayName", "?lbl"),
        ("?org", "type", "Organization")))
        .select("s", "p", "o")
    }),
    // SPARQL FILTER EXISTS / NOT EXISTS chained over the q97 employment
    // graph: employed persons (EXISTS worksFor) none of whose employers
    // carry a label (NOT EXISTS worksFor⋈label) — labels stop at o11,
    // so only even docs with doc_id % 16 in 12..15 survive; both
    // polarities are semi/anti joins on the shared ?person variable
    "q102_bgp_exists" -> ((s, d) => {
      val spo = spoOf(t(s, d, "documents"), Lane.name, Lane.worksFor, Lane.labels(12))
      val base = TripleOps.bgp(spo, Seq(("?person", "name", "?name")))
      val employed = TripleOps.filterExists(base, spo,
        Seq(("?person", "worksFor", "?org")))
      TripleOps.filterExists(employed, spo,
        Seq(("?person", "worksFor", "?org"), ("?org", "label", "?lbl")),
        negate = true)
        .select(col("person"), col("name"))
    }),
    // SPARQL solution modifiers: org headcount (GROUP BY + aggregate
    // over a UNION of affiliation lanes) through the SELECT tail —
    // ORDER BY n DESC with the org tiebreak (total order: LIMIT is
    // deterministic), OFFSET 2, LIMIT 5; sort+limit collapses to
    // per-partition top-k heaps, never a global sort
    "q103_bgp_topk" -> ((s, d) => {
      val spo = spoOf(t(s, d, "documents"), Lane.worksFor, Lane.memberOf)
      val sols = TripleOps.bgpUnion(spo, Seq(
        Seq(("?x", "worksFor", "?org")), Seq(("?x", "memberOf", "?org"))))
      val counts = sols.groupBy(col("org")).agg(countDistinct(col("x")).as("n"))
      TripleOps.solutionModifiers(counts,
        orderBy = Seq(("n", false), ("org", true)), offset = 2, limit = 5)
    }),
    // SPARQL aggregates over solutions: per-group COUNT (bag), COUNT
    // DISTINCT, MIN, GROUP_CONCAT + HAVING — GROUP_CONCAT is the
    // aggregate with the spec-undefined element order, pinned here by
    // sorting the distinct member set (the q67/q77 determinism rule);
    // output serializes as a comma STRING (the q79 rule: array columns
    // hash-mismatch across engines even when equal)
    "q105_bgp_aggregates" -> ((s, d) => {
      val spo = spoOf(t(s, d, "documents"), Lane.worksFor, Lane.memberOf)
      val sols = TripleOps.bgpUnion(spo, Seq(
        Seq(("?x", "worksFor", "?org")), Seq(("?x", "memberOf", "?org"))))
      sols.groupBy(col("org"))
        .agg(count(lit(1)).as("n_affil"),
          countDistinct(col("x")).as("n_members"),
          min(col("x")).as("first_member"),
          array_join(array_sort(collect_set(col("x"))), ",").as("members"))
        .where(col("n_members") >= 2)
    }),
    // learned spam/quality classifier: integer multinomial Naive
    // Bayes in whole-bit surprisals (the q70 primitive) — label-1
    // docs carry planted spam tokens, the model trains on the
    // doc_id%3 split and scores EVERYONE (held-out docs exercise
    // smoothing); the fasttext-classifier slot of a curation stack
    "q93_nb_classify" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val labeled = docs.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(4)) === 0,
          concat(col("text"), lit(" free crypto win bonus click offer")))
          .otherwise(col("text")).as("text"),
        (pmod(col("doc_id"), lit(4)) === 0).cast("bigint").as("label"),
        (pmod(col("doc_id"), lit(3)) =!= 0).cast("bigint").as("is_train"))
      CorpusOps.nbClassifyBits(labeled)
    }),
    // RDFS entailment materialization (rdfs2 + rdfs9 + rdfs11): a
    // 31-edge binary-tree TBox (c_i subClassOf c_{i div 2}) closes
    // transitively on the schema side, then ONE broadcast join types
    // every instance with its ancestor set; docs with doc_id%5==0
    // also assert an `author` property whose declared domain (c9)
    // derives a second type chain — the two derivation paths overlap,
    // so the set-dedup is load-bearing. Oracle closes the same TBox
    // with an independent WITH RECURSIVE
    "q91_rdfs_closure" -> ((s, d) => {
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
    }),
    // SPARQL basic-graph-pattern star+chain over a synthesized spo
    // table (predicate-sliced scans, shared-variable equi-joins,
    // AQE-broadcast label vocabulary): ?p name ?n . ?p worksFor ?o .
    // ?o label ?l — the canonical KG query shape; a `topic` predicate
    // per doc is noise the predicate pushdown must discard
    "q92_bgp_star" -> ((s, d) => {
      val spo = spoOf(t(s, d, "documents"), Lane.name, Lane.worksFor, Lane.labels(16), Lane.topic)
      TripleOps.bgp(spo, Seq(
        ("?person", "worksFor", "?org"),
        ("?person", "name", "?name"),
        ("?org", "label", "?lbl")))
    }),
    // main-content extraction by link density (jusText/Readability
    // heuristic): nav block (pure links) classes boilerplate, the
    // body <p> stays content, the mixed see-more block sits under
    // the density threshold — all verdicts integer bp
    "q89_main_content" -> ((s, d) => {
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
    }),
    // per-source template-line removal (per-site boilerplate: a third
    // of each source's docs carry a planted banner line — template by
    // the 25% frequency rule — ALL copies stripped; q77 is keep-first
    // and source-blind, this is remove-all and source-scoped)
    "q88_template_lines" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val aug = docs.select(col("doc_id"),
        when(pmod(col("doc_id"), lit(3)) === 0,
          concat(lit("subscribe to our newsletter "), col("text")))
          .otherwise(col("text")).as("text"),
        col("source"))
      Curation.templateLines(aug)
    }),
    // TrustRank over the q84 symmetrized host graph: teleport mass
    // returns ONLY to an md5-selected trusted seed quarter (the q30
    // deterministic-sampling technique), so trust decays with link
    // distance from the seeds — the web-spam containment classic
    // (Gyöngyi et al., VLDB 2004); q56 integer-recurrence discipline
    "q87_trustrank" -> ((s, d) => {
      val g = SparkEntry.queries("q83_link_graph")(s, d)
      val fwd = g.where(col("is_internal") === 0L)
        .select(col("src_domain").as("src"), col("dst_domain").as("dst"))
      val edges = fwd.unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
      val seeds = edges.select(col("src").as("node")).distinct()
        .where(expr("substring(md5(node), 1, 1) IN ('0','1','2','3')"))
      GraphOps.trustRank(edges, seeds, iters = 3, k = 20)
        .select(col("node").as("domain"), col("t"), col("rank"))
    }),
    // HITS hubs/authorities over the DIRECTED q83 domain graph (no
    // symmetrization — the q84 contrast): sites score as hubs,
    // word-domains as authorities; integer max-rescale per half-step
    "q104_hits" -> ((s, d) => {
      val g = SparkEntry.queries("q83_link_graph")(s, d)
      GraphOps.hits(
        g.where(col("is_internal") === 0L)
          .select(col("src_domain").as("src"), col("dst_domain").as("dst")),
        iters = 3, k = 20)
        .select(col("node").as("domain"), col("auth"), col("hub"), col("rank"))
    }),
    // label-propagation communities over the symmetrized q83 host
    // graph: fixed sync rounds (oscillation-proof determinism), the
    // (count DESC, label ASC) argmax total per node
    "q106_lpa_communities" -> ((s, d) => {
      val g = SparkEntry.queries("q83_link_graph")(s, d)
      GraphOps.labelPropagation(
        g.where(col("is_internal") === 0L)
          .select(col("src_domain").as("src"), col("dst_domain").as("dst")),
        iters = 4)
        .select(col("node").as("domain"), col("community"))
    }),
    // per-source percentile calibration: exact within-source percentile
    // rank via the q73 two-phase bucketed decomposition — the oracle is
    // the NAIVE per-source window (the q63/q73 rule)
    "q86_source_percentile" -> ((s, d) => Curation.sourcePercentile(t(s, d, "documents"))),
    // anchor-text aggregation over the q83 synthetic pages: per target
    // domain, the top anchor terms other pages use to link to it —
    // the classic web-search relevance signal
    "q85_anchor_terms" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val words = Dedup.wordSet(col("text"))
      val linksHtml = concat_ws("",
        transform(slice(sort_array(words), lit(1), lit(5)),
          w => concat(lit("<a href=\"https://"), w, lit(".example.net/p\">"), w, lit(" link</a>"))))
      val pages = docs.select(syntheticUrl.as("url"),
        concat(lit("<p>"), col("text"), lit("</p>"), linksHtml).as("html"))
      Curation.anchorTerms(pages)
    }),
    // integer PageRank over the q83 domain graph — extraction → link
    // graph → centrality, the canonical web pipeline; string node
    // keys (no global id window), q56 recurrence replayed exactly
    "q84_domain_pagerank" -> ((s, d) => {
      val g = SparkEntry.queries("q83_link_graph")(s, d)
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
    }),
    // link-graph construction over synthesized page html (outlinks
    // derive from each doc's first 5 sorted distinct words — both
    // engines rebuild the same html): href scan -> domain-canonical
    // (src, dst) edge rollup, the step graph analytics consume
    "q83_link_graph" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val words = Dedup.wordSet(col("text"))
      val linksHtml = concat_ws("",
        transform(slice(sort_array(words), lit(1), lit(5)),
          w => concat(lit("<a href=\"https://"), w, lit(".example.net/p\">"), w, lit("</a>"))))
      val pages = docs.select(syntheticUrl.as("url"),
        concat(lit("<p>"), col("text"), lit("</p>"), linksHtml).as("html"))
      Curation.linkGraph(pages)
    }),
    // Newman modularity census of a node partition over the undirected
    // q83 domain graph: per community the internal-edge count, degree
    // mass and the EXACT integer modularity numerator 4·m·e_c − d_c²
    // (Q = Σ num_c / 4m² — kept as the numerator, never a quotient:
    // the engine-wide no-FP rule and the BIGINT bound both live on
    // the numerator side). Partition = domain-length residue classes
    // (deterministic, cross-engine: ASCII length both sides); the
    // community-quality report q106's LPA labels lack
    "q210_modularity" -> ((s, d) => {
      val g = SparkEntry.queries("q83_link_graph")(s, d)
      val e = g.where(col("src_domain") =!= col("dst_domain"))
        .select(col("src_domain").as("a"), col("dst_domain").as("b"))
      val labels = e.select(explode(array(col("a"), col("b"))).as("node"))
        .distinct()
        .select(col("node"),
          pmod(length(col("node")), lit(4)).cast("bigint").as("community"))
      GraphOps.modularityCensus(e, labels)
        .select("community", "n_nodes", "n_internal", "degree_sum", "mod_num")
    }),
    // degree-assortativity sufficient statistics over the undirected
    // q83 domain graph: the exact integer sums behind Newman's r
    // (hub-mixing diagnostic) — raw sums, never a quotient (the q210
    // discipline); one row
    "q216_assortativity" -> ((s, d) => {
      val g = SparkEntry.queries("q83_link_graph")(s, d)
      GraphOps.assortativityStats(
          g.where(col("src_domain") =!= col("dst_domain"))
            .select(col("src_domain").as("a"), col("dst_domain").as("b")))
        .select("m", "s_prod", "s_sum", "s_sq")
    }),
    // daily growth accounting: new / returning / resurrected actives
    // + churn attributed to the day after — all equi-joins over the
    // distinct (user, day) grid, full calendar spine
    "q82_growth_accounting" -> ((s, d) => EventOps.growthAccounting(t(s, d, "events"))),
    // exact containment self-join (Broder's |A∩B|/|A|): the corpus +
    // planted half-prefix clones (doc_id%7==0 → doc_id+2e6 carrying
    // the first half of the word stream) — the subset-duplication case
    // symmetric Jaccard misses; prefix-filtered candidates, lossless
    "q81_containment_join" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val aug = docs.select(col("doc_id"), col("text"))
        .unionByName(docs
          .select(col("doc_id"), TextOps.words(col("text")).as("words"))
          .where(pmod(col("doc_id"), lit(7)) === 0 && size(col("words")) >= 4)
          .select((col("doc_id") + 2000000L).as("doc_id"),
            concat_ws(" ", slice(col("words"), lit(1), expr("size(words) div 2"))).as("text")))
      Dedup.containmentPrefixJoin(aug, shingleWidth = 3)
    }),
    // rolling 7-day distinct active users: distinct (day, user) grid
    // exploded to its trailing-window target days — sliding count
    // distinct without a window sort or per-day self-join
    "q80_rolling_actives" -> ((s, d) => EventOps.rollingActives(t(s, d, "events"))),
    // first-order Markov transition census over per-user event
    // sequences (behavioral modeling input): counts + row-normalized
    // ppm per (prev, next) type pair; (user, ts) ordering is unique
    // (the q49 rule), ppm is truncating (q62)
    "q207_markov_transitions" -> ((s, d) => EventOps.markovTransitions(t(s, d, "events"))),
    // burst detection: daily per-type volume vs the trailing 3-day
    // total via a value-RANGE window (calendar gaps shrink the
    // baseline, never widen the frame); ratio-to-trailing-mean in
    // truncating ppm with the burst flag at 1.5x
    "q208_burst_detect" -> ((s, d) => EventOps.burstDays(t(s, d, "events"))),
    // block-segmented posting lists: per (term, 128-doc block) the
    // delta-encoded doc gaps + tf payloads — the Lucene-style physical
    // index layout (no term ever holds its full posting list in a row)
    "q79_posting_blocks" -> ((s, d) => CorpusOps.postingBlocks(t(s, d, "documents"))),
    // priority sampling (Duffield-Lund-Thorup): md5-uniform u ranked
    // by u*scale div weight, global top-k via TakeOrderedAndProject —
    // the deterministic weighted subsample (q30 is the uniform one)
    "q78_priority_sample" -> ((s, d) => CorpusOps.prioritySample(t(s, d, "documents"))),
    // C4-style line-level corpus dedup: fixed-width lines, every
    // duplicated line removed corpus-wide except its first occurrence
    // (min composite (doc_id, line_idx)), documents rewritten from the
    // surviving lines — keep-first at line granularity where q34/q38
    // cut both copies at window granularity
    "q77_line_dedup" -> ((s, d) => Curation.lineDedup(t(s, d, "documents"))),
    // crawl snapshot diff (refresh-crawl CDC): old = the corpus, new =
    // deterministic removals (%11==3), text edits (%4==1) and additions
    // (%13 clones) — every status fires at every SF; changed rows get a
    // word-set Jaccard in integer bp
    "q76_snapshot_diff" -> ((s, d) => {
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
    }),
    // robots.txt-aware frontier filtering over the q36/q73 synthetic
    // frontier: relational REP parse (gaps-and-islands agent groups,
    // '*' group semi-join) + longest-match verdict; robots text is a
    // shared per-domain template with a domain-derived digit so
    // Disallow/Allow interplay varies across domains
    "q75_robots_filter" -> ((s, d) => {
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
    }),
    // end-to-end curation funnel: eval-holdout -> lang -> quality ->
    // decontam -> exact dedup (over clone-augmented input) -> pair-
    // dominance near-dup prune — per-doc first-cutting stage, the
    // attrition report; every stage reuses an oracle-proven operator
    "q74_curation_funnel" -> ((s, d) => Curation.curationFunnel(t(s, d, "documents"))),
    // per-domain crawl-politeness schedule over the q36 synthetic
    // frontier: deterministic md5-fair fetch slots, two-phase bucketed
    // rank (the q63 decomposition rule — oracle is the NAIVE window)
    "q73_crawl_schedule" -> ((s, d) => Curation.crawlSchedule(
      t(s, d, "documents").select(col("doc_id"), syntheticUrl.as("url")))),
    // positional phrase search: exact adjacency matches of a 2-gram
    // over the tokenized corpus — per-term posting-stream filters +
    // one (doc_id, pos) equi-join per adjacency, no regex rescans
    "q72_phrase_search" -> ((s, d) =>
      CorpusOps.phraseSearch(t(s, d, "documents"), Seq("table", "hash"))),
    "q71_kcore" -> ((s, d) => GraphOps.kCore(
      Dedup.minhashLshMd5(t(s, d, "documents"), threshold = 0.5, shingleWidth = 1)
        .select(col("a"), col("b")), k = 2, maxRounds = 8)),
    // TF-IDF-style keywords: integer tf-over-df score, deterministic
    // top-3 per document — tf collapses the corpus before the df shuffle
    "q41_tfidf_topk" -> ((s, d) => CorpusOps.tfIdfTopK(t(s, d, "documents"))),
    // DSIR importance scoring (hashed n-gram likelihood-ratio surrogate
    // vs the deterministic target slice; broadcast bucket weights)
    "q45_dsir_score" -> ((s, d) => CorpusOps.dsirScore(t(s, d, "documents"))),
    // composite Gopher-rule quality VERDICT: per-document reason
    // bitmask (one bit per violated rule) + keep flag — thresholds are
    // shared Scala constants embedded into the oracle SQL
    "q42_quality_filter" -> ((s, d) => Curation.qualityFilter(t(s, d, "documents"))),
    // cross-source near-duplication rollup over the q17 LSH pair graph:
    // which source pairs duplicate each other (snapshot-overlap stats)
    "q43_source_overlap" -> ((s, d) => Curation.sourceOverlap(t(s, d, "documents"))),
    // cross-engine-exact twin of the embedding-LSH near-dup CANDIDATE
    // path: md5-Rademacher hyperplane signs + integer projections →
    // bucket assignment, hot-bucket suppression, pair recovery AND the
    // integer kernel verify all replay value-exact in DuckDB (q27
    // oracles the kernel only; this oracles the whole bucket pipeline)
    "q28_embedding_lsh_md5" -> ((s, d) =>
      Similarity.embeddingNearDupMd5(t(s, d, "embeddings"))),
    // SemDeDup: deterministic-medoid clustering + within-cluster
    // rational-cosine prune — every stage (medoid pick, integer argmax
    // assignment, greedy keep-first survivor rule) replays in DuckDB
    "q44_semdedup" -> ((s, d) => Similarity.semDedupMd5(t(s, d, "embeddings"))),
    // product-quantization ANN (ADC): md5-donor codebooks, integer
    // argmin encoding, broadcast per-query LUT scoring
    "q46_pq_adc" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.pqAdcMd5(emb, emb.where(col("vec_id") < 8))
    }),
    // BM25 sparse retrieval: integer-rational Okapi scoring, query
    // slice vs corpus, top-5 per query — one corpus shuffle, q41-form
    // df/dl windows, broadcast query terms and scalars
    "q47_bm25_topk" -> ((s, d) => CorpusOps.bm25TopK(t(s, d, "documents"))),
    // deterministic HyperLogLog over word-trigram shingles: md5-bucket
    // registers, dyadic 2^40 fixed-point harmonic mean, exact-distinct
    // companion column — the sketch the exact distinct replaces at scale
    "q48_hll_trigrams" -> ((s, d) => CorpusOps.hllTrigramCardinality(t(s, d, "documents"))),
    // temporal AS-OF join (click ← latest view at-or-before, per user):
    // union + ordered window carry-forward, ONE user-key shuffle; the
    // oracle is DuckDB's NATIVE ASOF JOIN — an independent
    // implementation of the semantics, not a replay
    "q49_asof_join" -> ((s, d) => EventOps.asofJoin(t(s, d, "events"))),
    // gap-based sessionization: gaps-and-islands window + same-key
    // rollup without a second exchange
    "q50_sessionize" -> ((s, d) => EventOps.sessionize(t(s, d, "events"))),
    // grouped HLL: one register set per source — the mergeable-state
    // property that makes the sketch a 100-TB primitive
    "q58_hll_by_source" -> ((s, d) => CorpusOps.hllTrigramsBySource(t(s, d, "documents"))),
    // EXACT Jaccard self-join via prefix filtering (AllPairs/PPJoin):
    // the deterministic complement to the minhash paths — finds EVERY
    // pair with trigram-set Jaccard >= 1/2, no all-pairs product, no
    // LSH miss probability. Rational threshold, integer candidate math.
    "q59_jaccard_prefix_join" -> ((s, d) => Dedup.jaccardPrefixJoin(t(s, d, "documents"))),
    // per-node triangle counts on the word-set near-dup graph (the q22
    // pair set): degree-oriented wedge enumeration — each triangle
    // found exactly once at its minimum-(deg,node) corner, join work
    // arboricity-bounded. Oracle is the INDEPENDENT classic a<b<c
    // triple self-join, not a replay of the orientation.
    "q60_triangle_count" -> ((s, d) =>
      GraphOps.triangles(
        Dedup.minhashLshMd5(t(s, d, "documents"), threshold = 0.5, shingleWidth = 1)
          .select(col("a"), col("b")))),
    // Bloom-filter semi-join pruning audit: md5-prefix partitioned
    // bloom (k=4 × 256-bucket slices) built from one brand's part keys,
    // probed by lineitem's distinct partkeys; output = the
    // (bloom_pass, is_member) confusion cells — false positives
    // observable, the pass=0/member=1 cell provably absent
    "q61_bloom_prune" -> ((s, d) =>
      BloomOps.semiJoinAudit(
        t(s, d, "part").where(col("p_brand") === "Brand#12"), "p_partkey",
        t(s, d, "lineitem"), "l_partkey")
        .groupBy(col("bloom_pass"), col("is_member"))
        .agg(count(lit(1)).cast("bigint").as("n_keys"))),
    // vocabulary-capped document-level PMI co-occurrence in integer ppm
    "q62_pmi_cooccur" -> ((s, d) => CorpusOps.pmiCooccur(t(s, d, "documents"))),
    // salted two-phase aggregation over the 5-key skewed event_type —
    // oracle is the PLAIN group-by (salting must be value-invisible)
    "q63_salted_agg" -> ((s, d) => EventOps.saltedTypeStats(t(s, d, "events"))),
    // per-node local clustering coefficient (integer ppm) on the same
    // near-dup graph as q60: shared canonical edge set + degree table,
    // lcc = 2·tri div (d·(d−1)); degree-1 and triangle-free nodes kept
    "q64_clustering_coeff" -> ((s, d) =>
      GraphOps.clusteringCoeff(
        Dedup.minhashLshMd5(t(s, d, "documents"), threshold = 0.5, shingleWidth = 1)
          .select(col("a"), col("b")))),
    // incremental near-dup: the crawl-refresh shape — NEW batch
    // (doc_id ≡ 0 mod 4) probed against the EXISTING corpus's band
    // index; old×old and new×new pairs never materialize. Oracle =
    // the full q22 pair set with a one-line batch-parity filter (the
    // equivalence the candidate topology must preserve).
    "q65_incremental_neardup" -> ((s, d) =>
      Dedup.minhashLshMd5Incremental(t(s, d, "documents"),
        id => pmod(id, lit(4L)) === 0L, threshold = 0.5, shingleWidth = 1)),
    // leakage-safe train/val split: split key = near-dup CLUSTER (the
    // q22 graph's connected component), so near-dups never straddle
    // the split; md5-hex cluster assignment, 75/25. Oracle replays the
    // components via the q26-style recursive transitive-closure CTE.
    "q66_leakage_split" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.minhashLshMd5(docs, threshold = 0.5, shingleWidth = 1)
        .select(col("a"), col("b"))
      CorpusOps.leakageSplit(docs, KgPipeline.connectedComponents(pairs))
    }),
    // token-budget subsampling: q55's temperature shares turned into an
    // actual corpus cut — per-source quotas, md5-shuffled greedy prefix
    // budget 12000 tokens ≈ 44% of the sf0.01 corpus (27k tokens) and
    // ~4% of sf0.1 — selective at every test scale
    "q67_budget_sample" -> ((s, d) => CorpusOps.budgetSample(t(s, d, "documents"), 12000L)),
    // deterministic integer k-means over the embedding corpus: Lloyd's
    // with fixed rounds, md5-seeded centroids, milli-unit squared-L2
    // off the codegen kernel; the oracle unrolls the rounds as CTEs
    // (the q56 technique applied to vectors)
    "q68_kmeans_int" -> ((s, d) => Similarity.kmeansInt(t(s, d, "embeddings"), k = 4, iters = 3)),
    // multi-source BFS hop distance over the q22 near-dup graph:
    // distance from the src0 document set, capped at 3 hops — the
    // link-distance / blast-radius primitive; oracle is a hop-capped
    // recursive CTE (q66's shape) with a min fold
    "q69_hop_distance" -> ((s, d) => {
      val docs = t(s, d, "documents")
      val pairs = Dedup.minhashLshMd5(docs, threshold = 0.5, shingleWidth = 1)
        .select(col("a"), col("b"))
      val seeds = docs.where(col("source") === "src0").select(col("doc_id").as("node"))
      GraphOps.hopDistance(pairs, seeds, maxHops = 3)
    }),
    // RAG-style sliding-window chunking: token-offset chunks with
    // overlap (window 32 / stride 24 — small enough that the synthetic
    // docs actually split), shuffle-free explode
    "q57_chunk_sliding" -> ((s, d) => CorpusOps.chunkSliding(t(s, d, "documents"), window = 32, stride = 24)),
    // integer-exact PageRank over the customer–supplier bipartite
    // graph (orders⋈lineitem, both directions): 5 fixed iterations of
    // r' = 150000 + 85·Σ(r div deg) div 100, top-20 by final rank —
    // replayed value-exact in DuckDB via unrolled CTEs
    "q56_pagerank" -> ((s, d) => {
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
    }),
    // temperature-resampling mixture weights: per-source token counts
    // → floor(sqrt) weights → ppm shares (τ=2 source re-balancing)
    "q55_temperature_mix" -> ((s, d) => CorpusOps.temperatureMix(t(s, d, "documents"))),
    // funnel analysis: greedy ordered view→click→purchase conversion,
    // per-stage user-keyed MIN aggregates chained by reduced joins
    "q53_funnel" -> ((s, d) => EventOps.funnel(t(s, d, "events"))),
    // cohort retention triangle: first-activity-day cohorts × whole-day
    // offsets, exact integer epoch-day arithmetic
    "q54_cohort_retention" -> ((s, d) => EventOps.cohortRetention(t(s, d, "events"))),
    // count-min sketch heavy hitters: d=4 × w=4096 md5-prefix buckets,
    // sketch over the reduced tf table, broadcast min-over-rows
    // estimate, sort-limit top-k
    "q51_countmin_topk" -> ((s, d) => CorpusOps.countMinTopK(t(s, d, "documents"))),
    // histogram quantile estimation: the percentile-at-scale pattern —
    // ONE map-side-combinable groupBy into $100 price bins, then
    // cumulative/total windows + conditional aggregation over the
    // BOUNDED histogram (~1k rows; an exact percentile would sort the
    // full corpus). p50/p90/p99 as bin lower bounds in integer cents.
    "q52_price_quantiles" -> ((s, d) => {
      val w = org.apache.spark.sql.expressions.Window
      val binW = 10000L // $100 bins, integer cents
      val hist = t(s, d, "lineitem")
        .select(expr(s"CAST(round(l_extendedprice * 100) AS BIGINT) div $binW").as("bin"))
        .groupBy(col("bin")).agg(count(lit(1)).as("n"))
      val wCum = w.orderBy(col("bin")).rowsBetween(w.unboundedPreceding, w.currentRow)
      val wTot = w.partitionBy().rowsBetween(w.unboundedPreceding, w.unboundedFollowing)
      def pLo(q: Int) =
        (min(when(col("cum") * 100 >= col("total") * q, col("bin"))) * binW)
          .cast("bigint").as(s"p${q}_lo_c")
      hist
        .withColumn("cum", sum(col("n")).over(wCum))
        .withColumn("total", sum(col("n")).over(wTot))
        .agg(max(col("total")).cast("bigint").as("total_n"), pLo(50), pLo(90), pLo(99))
    }),
    "q20_ntriples_escape" -> ((s, d) => {
      t(s, d, "documents").select(
        col("doc_id"),
        concat(lit("http://ex/doc/"), col("doc_id")).as("subj"),
        lit("http://ex/text").as("pred"),
        concat(col("text"), lit("\n\"\\")).as("obj"),
        lit("literal").as("objKind"),
        lit(null).cast("string").as("lang"),
        lit(null).cast("string").as("datatype"))
        .select(col("doc_id"), graft.sources.RdfSources.nTriplesLineCol.as("line"))
    }),
    // ---------------- scale-path operators (rows-only check) ----------
    "x_extract_triples" -> ((s, _) => {
      import s.implicits._
      Extract.run(SyntheticPages.pages(s, copies = 2)).flatMap(_.triple).toDF()
    }),
    "x_extract_lineage" -> ((s, _) => {
      import s.implicits._
      Extract.run(SyntheticPages.pages(s, copies = 2)).flatMap(_.lineage).toDF()
    }),
    "x_kg_pipeline" -> ((s, _) => {
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
    "x_minhash_lsh_dedup" -> ((s, d) => Dedup.minhashLsh(t(s, d, "documents"), threshold = 0.5)),
    // scale-safe twin of q13_ngram_jaccard: word-set (w=1) Jaccard via
    // minhash banding — runs at sf0.1 in the bench where the quadratic
    // oracle form is fenced to sf0.01
    "x_ngram_jaccard_lsh" -> ((s, d) =>
      Dedup.minhashLsh(t(s, d, "documents"), threshold = 0.5, shingleWidth = 1)),
    "x_simhash_dedup" -> ((s, d) => Dedup.simhash(t(s, d, "documents"), maxHamming = 3)),
    // the synthetic embedding corpus tops out around cos 0.6, so
    // "near-dup" here is cos>=0.4 — a low-threshold regime that needs
    // few planes (fat buckets) amplified across independent tables;
    // the relational integer verify keeps the candidate volume cheap
    // 9 planes x 5 tables + radius-1 multi-probe: equal expected recall
    // to the old exact 6x8 (p~0.63 at cos 0.4) with 8x smaller buckets
    // and ~20% fewer expected candidates — the fat-bucket fix in the
    // low-threshold synthetic regime
    "x_embedding_neardup" -> ((s, d) =>
      Similarity.embeddingNearDup(t(s, d, "embeddings"), threshold = 0.4, planes = 9, tables = 5,
        probeRadius = 1)),
    "x_ann_brute" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.bruteCosine(emb, emb.where(col("vec_id") < 8), k = 5)
    }),
    // 12 planes x 2 tables with radius-1 multi-probe: same expected
    // recall as the old exact 8x3 at ~half the candidate volume and
    // 16x smaller buckets (the low-threshold fat-bucket fix — see
    // lshCosine's scaladoc)
    "x_ann_lsh" -> ((s, d) => Similarity.lshCosine(t(s, d, "embeddings"), k = 5,
      planes = 12, tables = 2, probeRadius = 1)),
    "x_ann_ivf" -> ((s, d) => {
      val emb = t(s, d, "embeddings")
      Similarity.ivfCosine(emb, emb.where(col("vec_id") < 8), k = 5)
    }),
    "x_multimodal_features" -> ((s, _) => Multimodal.featureSummary(Multimodal.syntheticAssets(s, 3000)).toDF()),
    // perceptual-hash image near-dup: dHash64 over decoded pixels
    // (format-invariant), 8x8-bit pigeonhole + popcount verify — the
    // multimodal member of the near-dup family; planted twins gated
    // by MultimodalCodecSpec + PipelineSparkSpec, not SQL-expressible
    "x_image_phash_neardup" -> ((s, _) => Multimodal.phashNearDup(
      Multimodal.imagePhash(Multimodal.syntheticImageCorpus(s, 1200)))),
    // ORACLED multimodal near-dup twins (q174-q176): the planted
    // corpora are pure functions of asset_id, so the CROSS-FORMAT lane
    // (asset 3g vs 3g+1 of each group) is structurally predictable —
    // identical rasters decode to identical dHashes (BMP vs PNG) and
    // identical bytes to identical fingerprints (WAV dup), so hamming
    // is exactly 0; corrupt payloads (id % 16 == 15, truncated) must
    // drop their group. The oracle restates the surviving group set
    // with pure arithmetic over range() — no decoding — which gates
    // decode success, corrupt flagging, pigeonhole blocking and the
    // popcount verify end-to-end. The noise-twin / negative lanes stay
    // spec-gated (hamming there depends on pixel content, which SQL
    // cannot restate).
    "q174_image_phash_pairs" -> ((s, _) =>
      Multimodal.phashNearDup(Multimodal.imagePhash(Multimodal.syntheticImageCorpus(s, 1200)))
        .where(pmod(col("a"), lit(3)) === 0 && col("b") === col("a") + 1)
        .select(expr("a div 3").as("g"), col("hamming").cast("bigint").as("hamming"))),
    "q175_audio_fp_pairs" -> ((s, _) =>
      Multimodal.phashNearDup(Multimodal.audioFingerprint(Multimodal.syntheticAudioCorpus(s, 1200)))
        .where(pmod(col("a"), lit(3)) === 0 && col("b") === col("a") + 1)
        .select(expr("a div 3").as("g"), col("hamming").cast("bigint").as("hamming"))),
    // video's MJPEG lane is lossy (hamming lands 0-3, content-
    // dependent) — the twin emits only the recovered GROUP set, whose
    // completeness at maxHamming=4 is the decode-parity contract
    "q176_video_phash_pairs" -> ((s, _) =>
      Multimodal.videoNearDup(Multimodal.syntheticVideoCorpus(s, 1200))
        .where(pmod(col("a"), lit(3)) === 0 && col("b") === col("a") + 1)
        .select(expr("a div 3").as("g"))),
    // audio energy-envelope fingerprint near-dup: the audio member of
    // the near-dup family — same pigeonhole recovery as the image path
    "x_audio_fp_neardup" -> ((s, _) => Multimodal.phashNearDup(
      Multimodal.audioFingerprint(Multimodal.syntheticAudioCorpus(s, 1200)))),
    // video near-dup: sampled-frame dHashes (any-frame candidate
    // collision, min-hamming pair collapse) — completes the
    // image/audio/video near-dup family
    "x_video_phash_neardup" -> ((s, _) =>
      Multimodal.videoNearDup(Multimodal.syntheticVideoCorpus(s, 1200))),
    // distributed BPE trainer: one word-freq shuffle + bounded driver
    // merge loop; deterministic, so the merges table is stable
    "x_bpe_train" -> ((s, d) => Bpe.mergesTable(s, Bpe.train(t(s, d, "documents"), numMerges = 60))),
    // true merge-order BPE encoding with the shipped merges resource
    "x_bpe_encode" -> ((s, d) => Bpe.tokenCounts(t(s, d, "documents"), Bpe.shippedMerges)),
    "x_entity_link" -> ((s, _) => {
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
    "x_warc_source" -> ((s, _) => {
      import s.implicits._
      val dir = tempRoot("graft_warc_q")
      val shard = dir.resolve("shard.warc.gz").toString
      val pages = SyntheticPages.pages(s, copies = 1, numPartitions = 2).collect()
      graft.sources.WarcSource.writeShardFile(
        shard, pages.iterator.map(p => (p.url, p.warc_ts, p.html)))
      Extract.run(graft.sources.WarcSource.pages(s, shard)).flatMap(_.triple).toDF()
    }),
    "x_rdfxml_file_source" -> ((s, _) => {
      // the fixture corpus may sit inside the application jar, where the
      // binaryFile source cannot read it: copy xmlbase/ out first
      val dir = tempRoot("graft_rdfxml_q")
      SyntheticPages.fixtureFiles().collect { case (rel, bytes) if rel.startsWith("xmlbase/") =>
        java.nio.file.Files.write(dir.resolve(rel.stripPrefix("xmlbase/")), bytes)
      }
      graft.sources.RdfSources.rdfXmlFiles(s, s"$dir/*.rdf").toDF()
    }),
    "x_ntriples_sink" -> ((s, _) => {
      import s.implicits._
      val triples = Extract.run(SyntheticPages.pages(s, copies = 1, numPartitions = 4)).flatMap(_.triple).toDF()
      graft.sources.RdfSources.toNTriplesLines(triples)
    }),
    "x_export_rdfxml" -> ((s, _) => {
      import s.implicits._
      val triples = Extract.run(SyntheticPages.pages(s, copies = 2)).flatMap(_.triple).toDF()
      KgPipeline.exportRdfXml(triples).toDF("xml").where(length(col("xml")) > 0)
    }),
    "x_text_identity" -> ((s, _) => {
      // byte-identical text-extraction invariant as a counting query:
      // rows where extractText(html) != text must be zero
      import s.implicits._
      val pages = SyntheticPages.pages(s, copies = 2)
      val n = pages.map(p => if (Extract.extractText(new String(p.html, "UTF-8")) == p.text) 0 else 1)
        .toDF("mismatch").agg(sum(col("mismatch")).as("mismatches"), count(lit(1)).as("pages"))
      n.where(col("mismatches") === 0)
    })
  )

  /** DuckDB twin of q16: bit b of the simhash = (hex nibble b of
    * md5(word) >= 8), sign-summed over the distinct word set.
    */
  private def q16Sql: String = {
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
  }

  /** DuckDB twin of q17/q22: md5-string minhash (12 sigs, 4 bands x 3)
    * over word `width`-shingles, hot-bucket suppression, distinct
    * candidate pairs, exact shingle-set Jaccard verify — replays the
    * full LSH pipeline in ANSI SQL.
    */
  /** The shared minhash CTE chain (w0 → sig → banded → cand) — used by
    * [[minhashLshSql]]'s thresholded pair output and q204's unthresholded
    * integer score output. */
  private def minhashCandCtes(width: Int, src: String): String = {
    val sigs = (0 until 12).map(j =>
      s"list_min(list_transform(sh, s -> md5('$j|' || s))) AS m$j").mkString(", ")
    val buckets = (0 until 4).map(b =>
      s"md5(m${3 * b} || m${3 * b + 1} || m${3 * b + 2}) AS k$b").mkString(", ")
    s"""w0 AS (
       |  SELECT doc_id, $wordsSql AS words
       |  FROM $src
       |), sh0 AS (
       |  SELECT doc_id,
       |    list_distinct(list_filter(
       |      ${Dedup.shinglesSql(width)},
       |      s -> s <> '')) AS sh
       |  FROM w0 WHERE len(words) > 0
       |), sig AS (SELECT doc_id, sh, $sigs FROM sh0 WHERE len(sh) > 0),
       |bk AS (SELECT doc_id, $buckets FROM sig),
       |banded AS (
       |  SELECT doc_id, band,
       |    CASE band WHEN 0 THEN k0 WHEN 1 THEN k1 WHEN 2 THEN k2 ELSE k3 END AS bucket
       |  FROM bk, unnest([0,1,2,3]) t(band)
       |), cold AS (
       |  SELECT band, bucket FROM banded GROUP BY band, bucket HAVING count(*) <= 200
       |), b2 AS (SELECT banded.* FROM banded JOIN cold USING (band, bucket)),
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM b2 l JOIN b2 r ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
       |)""".stripMargin
  }

  /** Connected components of an undirected `edges(a, b)` CTE by
    * recursive label propagation: each node reaches every label of its
    * component, so `min(lab)` per node is its component.
    */
  private val reachSql: String =
    """nodes AS (SELECT DISTINCT a AS node FROM edges),
      |reach AS (
      |  SELECT node, node AS lab FROM nodes
      |  UNION
      |  SELECT e.b AS node, r.lab FROM edges e JOIN reach r ON e.a = r.node
      |)""".stripMargin

  private def minhashLshSql(width: Int, threshold: Double, src: String = "documents"): String =
    s"""WITH ${minhashCandCtes(width, src)}
       |SELECT a, b, round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 4) AS jaccard
       |FROM cand JOIN sig sa ON sa.doc_id = a JOIN sig sb ON sb.doc_id = b
       |WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= $threshold""".stripMargin

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

  /** DuckDB twin of q43: the q17 LSH pair SQL joined to the source
    * projection, rolled up per unordered source pair. mean_jaccard_bp
    * floors the (bit-identical, q17-hash-proven) rounded double into
    * integer basis points before the integer-division mean.
    */
  private def q43Sql: String =
    s"""WITH pairs AS (SELECT a, b, jaccard FROM (${minhashLshSql(width = 3, threshold = 0.5)}) q17),
       |src AS (SELECT doc_id, source FROM documents),
       |e AS (
       |  SELECT least(sa.source, sb.source) AS s1, greatest(sa.source, sb.source) AS s2,
       |    CASE WHEN sa.source = sb.source THEN 1 ELSE 0 END AS intra,
       |    CAST(floor(jaccard * 10000) AS BIGINT) AS jbp
       |  FROM pairs p JOIN src sa ON p.a = sa.doc_id JOIN src sb ON p.b = sb.doc_id
       |)
       |SELECT s1, s2, count(*) AS n_pairs, CAST(sum(intra) AS BIGINT) AS n_intra,
       |  CAST(sum(jbp) // count(*) AS BIGINT) AS mean_jaccard_bp
       |FROM e GROUP BY s1, s2""".stripMargin

  /** DuckDB twin of q21: md5-simhash pair recovery — 4×8-bit pigeonhole
    * chunk buckets, hot-chunk suppression (≤500), hamming ≤ 3 via
    * bit_count(xor) — the full [[graft.pipeline.Dedup.simhashMd5Pairs]]
    * pipeline in ANSI SQL.
    */
  private def q21Sql: String = {
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
  }

  /** DuckDB twin of q23: the N-Triples sink's escape + bnode-label
    * mangle chain, replayed literally ('x'→"xx", '@'→"xa" applied by
    * hand to the known label shapes).
    */
  private def q23Sql: String =
    """WITH esc AS (
      |  SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |    text, '\\', '\\\\', 'g'), '"', '\\"', 'g'), chr(10), '\\n', 'g'), chr(13), '\\r', 'g') AS t
      |  FROM documents
      |), l AS (
      |  SELECT doc_id, 1 AS kind, '_:bxx' || doc_id || 'xadeadbeef <http://ex/p> <http://ex/o/' || doc_id || '> .' AS line FROM documents
      |  UNION ALL SELECT doc_id, 2, '_:bxx' || doc_id || 'xadeadbeef <http://ex/p> _:oxx' || doc_id || 'xabeef .' FROM documents
      |  UNION ALL SELECT doc_id, 3, '_:bxx' || doc_id || 'xadeadbeef <http://ex/p> "' || t || '"@en .' FROM esc
      |  UNION ALL SELECT doc_id, 4, '_:bxx' || doc_id || 'xadeadbeef <http://ex/p> "' || doc_id || '"^^<http://www.w3.org/2001/XMLSchema#integer> .' FROM documents
      |)
      |SELECT doc_id, kind, line FROM l""".stripMargin

  /** DuckDB twin of q130: the q23 escape/mangle chain with the three
    * graph-label lanes appended by hand — '<http://ex/g/k>' (IRI),
    * '_:gxx{k}xafeed' (bnode label through the mangle), and nothing
    * (default graph).
    */
  private def q130Sql: String =
    """WITH esc AS (
      |  SELECT doc_id, regexp_replace(regexp_replace(regexp_replace(regexp_replace(
      |    text, '\\', '\\\\', 'g'), '"', '\\"', 'g'), chr(10), '\\n', 'g'), chr(13), '\\r', 'g') AS t
      |  FROM documents
      |), l AS (
      |  SELECT doc_id, 1 AS kind, '_:bxx' || doc_id || 'xadeadbeef <http://ex/p> <http://ex/o/' || doc_id || '> <http://ex/g/' || (doc_id % 7) || '> .' AS line FROM documents
      |  UNION ALL SELECT doc_id, 2, '_:bxx' || doc_id || 'xadeadbeef <http://ex/p> _:oxx' || doc_id || 'xabeef _:gxx' || (doc_id % 5) || 'xafeed .' FROM documents
      |  UNION ALL SELECT doc_id, 3, '_:bxx' || doc_id || 'xadeadbeef <http://ex/p> "' || t || '"@en .' FROM esc
      |  UNION ALL SELECT doc_id, 4, '_:bxx' || doc_id || 'xadeadbeef <http://ex/p> "' || doc_id || '"^^<http://www.w3.org/2001/XMLSchema#integer> <http://ex/g/' || (doc_id % 7) || '> .' FROM documents
      |)
      |SELECT doc_id, kind, line FROM l""".stripMargin

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

  /** Source quotas for the registered stratified-sample query: a spread
    * of keep-percentages across the synthetic sources (src0 → 10% …
    * src19 → 86%) so the oracle exercises the whole CASE ladder.
    */
  private val q30Quotas: Map[String, Int] = (0 until 20).map(i => s"src$i" -> (10 + 4 * i)).toMap

  /** DuckDB twin of q29: word-level repetition statistics in integer
    * basis points (dup-word, top-word and top-bigram shares), integer
    * `//` division throughout.
    */
  private def q29Sql: String =
    s"""WITH base AS (
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
      |FROM counts c LEFT JOIN tw USING (doc_id) LEFT JOIN tb USING (doc_id)""".stripMargin

  /** DuckDB twin of q30: md5-nibble bucket in [0,100) vs the per-source
    * quota CASE generated from the SAME Scala map the Spark side uses.
    */
  private def q30Sql: String = {
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
  }

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

  /** The q10 integer quality score as a bare SQL scalar over `text` —
    * shared by q10 and the q32 cluster-representative tiebreak.
    */
  private val q10QualityExpr: String =
    """CAST(
      |  (CASE WHEN length(text) > 0 THEN floor(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 4000.0 / length(text)) ELSE 0 END)
      |  + (2000 - (CASE WHEN length(text) > 0 THEN least(floor(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 20000.0 / length(text)), 2000.0) ELSE 0 END))
      |  + (CASE WHEN length(text) BETWEEN 200 AND 4000 THEN 2000 WHEN length(text) >= 50 THEN 1000 ELSE 0 END)
      |  + (CASE WHEN ((CASE WHEN ' ' || lower(text) || ' ' LIKE '% the %' THEN 1 ELSE 0 END)
      |            + (CASE WHEN ' ' || lower(text) || ' ' LIKE '% and %' THEN 1 ELSE 0 END)
      |            + (CASE WHEN ' ' || lower(text) || ' ' LIKE '% of %' THEN 1 ELSE 0 END)
      |            + (CASE WHEN ' ' || lower(text) || ' ' LIKE '% to %' THEN 1 ELSE 0 END)
      |            + (CASE WHEN ' ' || lower(text) || ' ' LIKE '% a %' THEN 1 ELSE 0 END)) >= 3 THEN 2000
      |       WHEN ((CASE WHEN ' ' || lower(text) || ' ' LIKE '% the %' THEN 1 ELSE 0 END)
      |            + (CASE WHEN ' ' || lower(text) || ' ' LIKE '% and %' THEN 1 ELSE 0 END)
      |            + (CASE WHEN ' ' || lower(text) || ' ' LIKE '% of %' THEN 1 ELSE 0 END)
      |            + (CASE WHEN ' ' || lower(text) || ' ' LIKE '% to %' THEN 1 ELSE 0 END)
      |            + (CASE WHEN ' ' || lower(text) || ' ' LIKE '% a %' THEN 1 ELSE 0 END)) >= 1 THEN 1000
      |       ELSE 0 END) AS BIGINT)""".stripMargin

  /** DuckDB twin of q32: q26's recursive-CTE components + the q10
    * quality scalar; representative = min doc_id among max-quality
    * members, same deterministic tiebreak as the Spark window.
    */
  private def q32Sql: String =
    s"""WITH RECURSIVE pairs AS (SELECT a, b FROM (${minhashLshSql(width = 3, threshold = 0.5)}) q17),
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
      |FROM w WHERE q = best_quality GROUP BY component, n_members, best_quality""".stripMargin

  /** DuckDB twin of q33: identical augmented text, identical
    * RE2-compatible patterns (shared constants), identical masking
    * order — counts taken at the same intermediate stages.
    */
  private def q33Sql: String = {
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
  }

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

  /** Deterministic messy-URL construction for q36/q37 (the q33 pattern:
    * a pure function of doc_id/source, mirrored byte-for-byte in the
    * oracle SQL, so the canonicalization logic itself is value-checked):
    * variant 0 — uppercase scheme/host, www, default :443, path, query
    * AND fragment; variant 1 — http with default :80 and a fragment;
    * variant 2 — non-default port kept, EMPTY path with a query.
    */
  private def syntheticUrl: org.apache.spark.sql.Column =
    when(pmod(col("doc_id"), lit(4)) === 0,
      concat(lit("HtTpS://WWW."), col("source"), lit(".Example.COM:443/a/"),
        pmod(col("doc_id"), lit(50)), lit("/p?id="), col("doc_id"), lit("&ref=feed#top")))
      .when(pmod(col("doc_id"), lit(4)) === 1,
        concat(lit("HTTP://"), col("source"), lit(".example.ORG:80/b/"),
          pmod(col("doc_id"), lit(50)), lit("#frag")))
      .when(pmod(col("doc_id"), lit(4)) === 2,
        concat(lit("https://Api."), col("source"), lit(".Net:8443?x=1")))
      // protocol-relative: unparseable on purpose — exercises the
      // parsed=0 verbatim-passthrough branch end to end
      .otherwise(concat(lit("//Cdn."), col("source"), lit(".example.com/lib.js")))

  /** DuckDB twin of the q36/q37 URL construction. */
  private def syntheticUrlSql: String =
    """CASE doc_id % 4
      |  WHEN 0 THEN 'HtTpS://WWW.' || source || '.Example.COM:443/a/' || CAST(doc_id % 50 AS VARCHAR) || '/p?id=' || CAST(doc_id AS VARCHAR) || '&ref=feed#top'
      |  WHEN 1 THEN 'HTTP://' || source || '.example.ORG:80/b/' || CAST(doc_id % 50 AS VARCHAR) || '#frag'
      |  WHEN 2 THEN 'https://Api.' || source || '.Net:8443?x=1'
      |  ELSE '//Cdn.' || source || '.example.com/lib.js'
      |END""".stripMargin

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

  /** DuckDB twin of q37: group the q36 domains. */
  private def q37Sql: String =
    s"""WITH canon AS ($q36Sql)
       |SELECT c.domain, count(*) AS n_docs,
       |  CAST(sum(d.n_chars) AS BIGINT) AS sum_chars,
       |  min(c.doc_id) AS min_doc,
       |  CAST(sum(c.has_query) AS BIGINT) AS n_with_query
       |FROM canon c JOIN documents d USING (doc_id)
       |WHERE c.parsed = 1
       |GROUP BY c.domain""".stripMargin

  /** DuckDB twin of q35: identical augmentation (decomposed accent,
    * BEL, tab, doubled spaces), `nfc_normalize` for the NFC stage, and
    * the same RE2-compatible control/whitespace classes.
    */
  private def q35Sql: String =
    """WITH aug AS (
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
      |FROM n""".stripMargin

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

  /** DuckDB twin of q40: same md5'd bigram stream, same corpus-wide
    * COUNT window, same integer mean/hapax arithmetic.
    */
  private def q40Sql: String =
    s"""WITH base AS (
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
      |FROM documents d LEFT JOIN perdoc USING (doc_id)""".stripMargin

  /** DuckDB twin of q70: same unigram census, same exact integer
    * floor(log2) via length(bin(·)) − 1 — DuckDB's bin() and the JVM's
    * Long.toBinaryString both render positive integers without leading
    * zeros. n_total is HUGEINT under DuckDB's sum, so the quotient is
    * cast back to BIGINT before bin().
    */
  private def q70Sql: String =
    s"""WITH base AS (
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
      |FROM documents d LEFT JOIN perdoc USING (doc_id)""".stripMargin

  /** DuckDB twin of q101: same tokenization (q70's), bigrams via the
    * list `range` (empty when start > stop — the Spark side guards
    * with CASE because `sequence` DESCENDS there), same add-one
    * smoothed whole-bit conditional `floor(log2((c1+V) // (c2+1)))`
    * with the HUGEINT quotient cast to BIGINT before bin() (the q70
    * rule).
    */
  private def q101Sql: String =
    s"""WITH base AS (
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
      |FROM documents d LEFT JOIN perdoc USING (doc_id)""".stripMargin

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

  /** DuckDB twin of q76: same synthetic snapshots, same q8/q12
    * fingerprint identity, same distinct-word-set Jaccard (Spark
    * array_union == list_distinct(list_concat) on already-distinct
    * inputs), `//` == `div` on the non-negative operands.
    */
  private def q76Sql: String =
    s"""WITH oldsnap AS (
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
      |FROM j""".stripMargin

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

  /** DuckDB twin of q210 (modularity census): the symmetrized q83
    * domain graph canonicalized to distinct least/greatest string
    * pairs, degree census via the doubled endpoint list, internal
    * edges by double label join — the exact numerator
    * `4·m·e_c − d_c²` restated verbatim (all BIGINT; HUGEINT sums
    * cast back before arithmetic, the q70 rule). `e` is
    * multi-consumed (m scalar, degrees, internal join) →
    * MATERIALIZED (the q71 rule); length() % 4 agrees across engines
    * on the ASCII domain strings.
    */
  private def q210Sql: String =
    s"""WITH g AS MATERIALIZED (${q83Sql}),
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
       |FROM ds LEFT JOIN ei ON ei.community = ds.community""".stripMargin

  /** DuckDB twin of q216 (assortativity stats): the q210 canonical
    * edge set (e MATERIALIZED — degrees + stats join, the q71 rule),
    * degree census via the doubled endpoint list, one global
    * aggregate of the exact sums (HUGEINT cast back to BIGINT, the
    * q70 rule).
    */
  private def q216Sql: String =
    s"""WITH g AS MATERIALIZED (${q83Sql}),
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
       |FROM e JOIN deg du ON du.node = e.u JOIN deg dv ON dv.node = e.v""".stripMargin

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

  /** DuckDB twin of q86: the NAIVE per-source window rank — the q73
    * rule: the oracle never replays the two-phase bucket decomposition
    * under test; it must cancel exactly. Same lexical-diversity score,
    * same (score, doc_id) ordering, same greatest(n−1, 1) divisor.
    */
  private def q86Sql: String =
    s"""WITH base AS (
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
      |FROM r""".stripMargin

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

  /** DuckDB twin of q95: the optional group is an INNER join
    * materialized first (worksFor ⋈ label — the group matches as a
    * whole), then LEFT JOINed onto the required name matches; nulls
    * coalesce to '' on both sides.
    */
  private val q95Sql: String =
    s"""WITH spo AS (
      |${spoSql(Lane.name, Lane.worksFor, Lane.labels(16), Lane.topic)}
      |), wl AS (
      |  SELECT w.s, w.o AS org, l.o AS lbl
      |  FROM spo w JOIN spo l ON l.p = 'label' AND l.s = w.o
      |  WHERE w.p = 'worksFor'
      |)
      |SELECT n.s AS person, n.o AS name,
      |  coalesce(wl.org, '') AS org, coalesce(wl.lbl, '') AS lbl
      |FROM spo n LEFT JOIN wl ON wl.s = n.s
      |WHERE n.p = 'name'""".stripMargin

  /** DuckDB twin of q96: NAIVE hop unroll (hop2 = edges ⋈ edges, hop3 =
    * hop2 ⋈ edges, union-distinct at the end) — deliberately independent
    * of the Spark side's semi-naive frontier; value-equal because both
    * compute the distinct ≤3-hop pair set. edges/hop2 are consumed more
    * than once → AS MATERIALIZED (the q71 inlining rule). Spark `div`
    * == DuckDB `//` on the non-negative doc_id.
    */
  private val q96Sql: String =
    s"""WITH spo AS MATERIALIZED (
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
      |  SELECT * FROM hop3)""".stripMargin

  /** DuckDB twin of q97: MINUS as NOT EXISTS over the whole minus
    * group (worksFor ⋈ label — compatible-solution exclusion), FILTER
    * as a plain predicate.
    */
  private val q97Sql: String =
    s"""WITH spo AS (
      |${spoSql(Lane.name, Lane.worksFor, Lane.labels(12))}
      |)
      |SELECT n.s AS person, n.o AS name
      |FROM spo n
      |WHERE n.p = 'name' AND n.o <> 'n7'
      |  AND NOT EXISTS (
      |    SELECT 1 FROM spo w JOIN spo l ON l.p = 'label' AND l.s = w.o
      |    WHERE w.p = 'worksFor' AND w.s = n.s)""".stripMargin

  /** DuckDB twin of q102: the same spo fixture as q97, EXISTS and NOT
    * EXISTS as native correlated subqueries — DuckDB's independent
    * decorrelation vs the Spark side's explicit semi/anti joins.
    */
  private val q102Sql: String =
    s"""WITH spo AS (
      |${spoSql(Lane.name, Lane.worksFor, Lane.labels(12))}
      |)
      |SELECT n.s AS person, n.o AS name
      |FROM spo n
      |WHERE n.p = 'name'
      |  AND EXISTS (SELECT 1 FROM spo w WHERE w.p = 'worksFor' AND w.s = n.s)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM spo w JOIN spo l ON l.p = 'label' AND l.s = w.o
      |    WHERE w.p = 'worksFor' AND w.s = n.s)""".stripMargin

  /** DuckDB twin of q107 (DESCRIBE): the described-node set as a
    * native EXISTS over the worksFor objects — subject-outbound slice.
    */
  private val q107Sql: String =
    s"""WITH spo AS (
      |${spoSql(Lane.name, Lane.worksFor, Lane.labels(12), Lane.sectors)}
      |)
      |SELECT t.s, t.p, t.o FROM spo t
      |WHERE EXISTS (SELECT 1 FROM spo w WHERE w.p = 'worksFor' AND w.o = t.s)""".stripMargin

  /** DuckDB twin of q108 (BIND/Extend + expression FILTER): the bound
    * expressions written directly in the SELECT list; length() counts
    * characters in both engines (ASCII fixture).
    */
  private val q108Sql: String =
    s"""WITH spo AS (
      |${spoSql(Lane.name, Lane.worksFor)}
      |)
      |SELECT n.s AS x, n.o AS name, w.o AS org, w.o || '/' || n.o AS tag,
      |       CAST(length(n.o) AS BIGINT) AS nlen
      |FROM spo n JOIN spo w ON w.s = n.s AND w.p = 'worksFor'
      |WHERE n.p = 'name' AND length(n.o) >= 3""".stripMargin

  /** DuckDB twin of q109 (subquery): the inner aggregation as a
    * derived table joined to the label slice.
    */
  private val q109Sql: String =
    s"""WITH spo AS (
      |${spoSql(Lane.worksFor, Lane.labels(12))}
      |)
      |SELECT l.s AS org, l.o AS lbl, cnt.n AS n
      |FROM spo l
      |JOIN (SELECT o AS org, COUNT(*) AS n FROM spo WHERE p = 'worksFor' GROUP BY o) cnt
      |  ON cnt.org = l.s
      |WHERE l.p = 'label'""".stripMargin

  /** DuckDB twin of q110 (sequence path with inverse): the
    * shares-a-manager self-join written directly — (reportsTo edge) ⋈
    * (reportsTo edge) on the manager, self-pairs excluded. The edge
    * set has unique subjects, so no DISTINCT is needed either side.
    */
  private val q110Sql: String =
    """WITH e AS (
      |  SELECT 'd' || CAST(doc_id AS VARCHAR) AS s,
      |         'd' || CAST(doc_id // 3 AS VARCHAR) AS o
      |  FROM documents WHERE doc_id > 0
      |)
      |SELECT a.s AS src, b.s AS dst
      |FROM e a JOIN e b ON a.o = b.o AND a.s <> b.s""".stripMargin

  /** DuckDB twin of q111 (GRAPH block over quads): the shared-graph
    * join written natively — b.g = a.g is the GRAPH ?g semantics.
    */
  private val q111Sql: String =
    """WITH quads AS (
      |  SELECT source AS g, 'd' || CAST(doc_id AS VARCHAR) AS s, 'lang' AS p,
      |         lang AS o FROM documents
      |  UNION ALL
      |  SELECT CASE WHEN doc_id % 3 = 0 THEN 'other' ELSE source END,
      |         'd' || CAST(doc_id AS VARCHAR), 'bucket',
      |         'b' || CAST(doc_id % 7 AS VARCHAR) FROM documents
      |)
      |SELECT a.g AS g, a.s AS x, a.o AS l, b.o AS b
      |FROM quads a JOIN quads b ON b.g = a.g AND b.s = a.s AND b.p = 'bucket'
      |WHERE a.p = 'lang'""".stripMargin

  /** DuckDB twin of q112 (owl:inverseOf + owl:TransitiveProperty):
    * the partOf closure as a native WITH RECURSIVE over the merged
    * (asserted ∪ hasPart-mirrored) edge set, hasPart re-derived as the
    * closure's mirror, names passed through; UNION dedups — the
    * graph-set semantics both sides share.
    */
  private val q112Sql: String =
    s"""WITH RECURSIVE base AS (
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
      |SELECT o, 'hasPart', s FROM anc""".stripMargin

  /** DuckDB twin of q113 (SPARQL UPDATE): native EXCEPT/UNION set
    * algebra — (graph EXCEPT delete-instantiation) UNION
    * insert-instantiation, both templates from the same pre-update
    * binding set (EXCEPT and UNION are left-associative equal
    * precedence, so this parses as ((spo EXCEPT del) UNION ins)).
    */
  private val q113Sql: String =
    s"""WITH spo AS (
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
      |SELECT org, 'employs', x FROM sols""".stripMargin

  /** DuckDB twin of q114 (epoch shuffle): same md5 key, same hex
    * STRING shard prefix, native window rank — (k, doc_id) is a
    * total order, so the rank is deterministic in both engines.
    */
  private val q114Sql: String =
    """WITH keyed AS (
      |  SELECT doc_id, md5('ep0:' || CAST(doc_id AS VARCHAR)) AS k FROM documents
      |)
      |SELECT doc_id, substring(k, 1, 1) AS shard,
      |       CAST(ROW_NUMBER() OVER (
      |         PARTITION BY substring(k, 1, 1) ORDER BY k, doc_id) AS BIGINT) AS pos
      |FROM keyed""".stripMargin

  /** DuckDB twin of q115 (OWL property axioms): functional as a
    * grouped distinct-count HAVING, irreflexive as the self-edge
    * filter; the name lane and legal edges contribute nothing.
    */
  private val q115Sql: String =
    s"""WITH spo AS (
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
      |FROM spo WHERE p = 'reportsTo' AND s = o""".stripMargin

  /** DuckDB twin of q116 (incremental BGP): the DEFINITION of the
    * delta — solutions over base ∪ Δ (set union) EXCEPT solutions
    * over base — deliberately independent of the Spark side's
    * delta-join telescoping. base and fullg are each consumed twice
    * (the q71 rule → MATERIALIZED).
    */
  private val q116Sql: String =
    s"""WITH base AS MATERIALIZED (
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
      |SELECT x, org, lbl FROM sols_base""".stripMargin

  /** DuckDB twin of q119 (negated set + zero-or-one path): the
    * algebraic identity seq(A, B?) = A ∪ (A ⋈ B) written directly —
    * independent of the Spark side's identity-universe hop frame.
    */
  private val q119Sql: String =
    s"""WITH spo AS MATERIALIZED (
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
      |SELECT e.src, w.o FROM e JOIN wf w ON w.s = e.dst""".stripMargin

  /** DuckDB twin of q118 (BGP retraction): the DEFINITION of the lost
    * solutions — sols(base) EXCEPT sols(base ∖ removed) — independent
    * of the Spark side's first-delta-position telescoping. EXCEPT on
    * the triple level is exactly the Δ := removed ∩ base semi-join
    * (retracting a never-asserted triple is a no-op on the set).
    */
  private val q118Sql: String =
    s"""WITH base AS MATERIALIZED (
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
      |SELECT x, org, lbl FROM sols_remain""".stripMargin

  /** DuckDB twin of q125 (typed literals): the SAME RE2 patterns
    * (TripleOps.TypedLitRe/LangLitRe/PlainLitRe, spliced — the q36
    * shared-constant rule; they contain `"` and `\`, both inert
    * inside single-quoted DuckDB strings), the same CASE parse, the
    * dt-guarded TRY_CAST filter.
    */
  private def q125Sql: String = {
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
  }

  /** DuckDB twin of q129 (numeric aggregates): the q125 regex parse
    * of the typed object terms (shared RE2 pattern, dt-guarded exact
    * cast), then SUM / MAX / floor-AVG / MIN — the HUGEINT sum casts
    * back to BIGINT (the q70 rule) and the avg quotient is `//` on
    * non-negative operands only (the q68 regime, == Spark `div`).
    */
  private def q129Sql: String = {
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
  }

  /** DuckDB twin of q131 (string functions): the q125 regex parse,
    * then the same function battery — substring is (start, LENGTH)
    * 1-based in BOTH engines here (unlike list_slice, the q57 trap),
    * regexp_replace carries the explicit 'g' flag (DuckDB defaults to
    * first-match; Spark replaces all).
    */
  private def q131Sql: String = {
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
  }

  /** DuckDB twin of q132 (graph diff): EXCEPT both directions over
    * the two version CTEs — the definitional form, independent of the
    * Spark side's anti-join plan.
    */
  private val q132Sql: String =
    s"""WITH prev AS MATERIALIZED (
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
      |SELECT 'D', s, p, o FROM (SELECT s, p, o FROM prev EXCEPT SELECT s, p, o FROM nxt)""".stripMargin

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

  /** DuckDB twin of q134 (schema summary): the same two typing joins
    * + grouped counts, types deduped first (the multi-type fan-out is
    * the semantics, duplicate type rows are not).
    */
  private val q134Sql: String =
    s"""WITH types AS MATERIALIZED (
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
      |GROUP BY ts.cls, ed.p, tt.cls""".stripMargin

  /** DuckDB twin of q126 (skolemization): the genid mangle written as
    * a CASE/substring replacement over the SET-deduped graph.
    */
  private val q126Sql: String =
    """WITH spo AS (
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
      |FROM spo""".stripMargin

  /** DuckDB twin of q127 (graph digest): ordered string_agg over the
    * distinct triple lines — binary collation matches Spark's
    * sort_array on the ASCII fixture (the digest itself is md5 both
    * sides).
    */
  private val q127Sql: String =
    """WITH quads AS (
      |  SELECT source AS g, 'd' || CAST(doc_id AS VARCHAR) AS s,
      |         'lang' AS p, lang AS o FROM documents
      |  UNION ALL
      |  SELECT source, 'd' || CAST(doc_id AS VARCHAR), 'bucket',
      |         'b' || CAST(doc_id % 7 AS VARCHAR) FROM documents
      |),
      |lines AS (SELECT DISTINCT g, s || ' ' || p || ' ' || o AS line FROM quads)
      |SELECT g, md5(string_agg(line, chr(10) ORDER BY line)) AS digest,
      |       CAST(COUNT(*) AS BIGINT) AS n_triples
      |FROM lines GROUP BY g""".stripMargin

  /** DuckDB twin of q128 (canonical bnode labeling): the same
    * first-degree construction — per-mention lines with the reference
    * bnode as _:a and other bnodes as _:z (self-mention contributes
    * ONE line: the o-branch excludes s = o), md5 over the
    * binary-ORDER-BY string_agg (the q127 rule), row_number over the
    * collision-free hash order, two relabeling left joins. quads and
    * labeled are multi-consumed → MATERIALIZED (the q71 rule).
    */
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

  private val q128Sql: String =
    s"""WITH $q128Ctes
      |SELECT q.g, COALESCE(ls.c, q.s) AS s, q.p, COALESCE(lo.c, q.o) AS o
      |FROM quads q
      |LEFT JOIN labeled ls ON ls.g = q.g AND ls.b = q.s
      |LEFT JOIN labeled lo ON lo.g = q.g AND lo.b = q.o""".stripMargin

  /** DuckDB twin of q135: the q128 canonicalization pipeline with the
    * q127 digest tail over the relabeled lines.
    */
  private val q135Sql: String = {
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
  }

  /** DuckDB twin of q136 (snapshots): the same last-event-wins
    * formulation — grouped max(ts) per (cut, triple) joined back to
    * the event log, asserts survive — evaluated for both cuts via a
    * cross join with the unnested cutoff list.
    */
  private val q136Sql: String =
    """WITH log AS MATERIALIZED (
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
      |WHERE ev.op = 'A'""".stripMargin

  /** DuckDB twin of q137 (CONSTRUCT bnodes): the same deterministic
    * per-solution label — 'rx' || md5(org || chr(1) || x), the
    * solution's columns in sorted-name order (org, x) — across the
    * three template lanes, then the graph-set DISTINCT.
    */
  private val q137Sql: String =
    """WITH sols AS MATERIALIZED (
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
      |) u""".stripMargin

  /** DuckDB twin of q138 (results CSV): the same RFC-4180 CASE per
    * field — regexp_matches on the quote/comma/CR/LF class, inner
    * quotes doubled via replace — and the header as its own
    * constant-select lane.
    */
  private val q138Sql: String =
    """WITH sols AS (
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
      |SELECT 1, fx || ',' || fa || ',' || fb || ',' || fc FROM fields""".stripMargin

  /** DuckDB twin of q139 (summary delta): the DEFINITIONAL form —
    * full summary of base ∪ added, restricted to the class-pair
    * groups of the genuinely-new delta (added EXCEPT base), with the
    * delta's own per-group count joined in — independent of the
    * Spark side's semi-join telescoping.
    */
  private val q139Sql: String =
    s"""WITH types AS MATERIALIZED (
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
      |  ON d.src_cls = f.src_cls AND d.p = f.p AND d.dst_cls = f.dst_cls""".stripMargin

  /** DuckDB twin of q140 (projected retraction): the DEFINITIONAL
    * proj(sols(base)) EXCEPT proj(sols(base ∖ removed)) — the q132
    * rule: keep the oracle the definition, independent of the Spark
    * side's over-delete/re-derive (DRed) split. remain is EXCEPT-set,
    * matching the Spark anti-join on exact (s,p,o).
    */
  private val q140Sql: String =
    s"""WITH base AS MATERIALIZED (
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
      |SELECT x FROM proj_base EXCEPT SELECT x FROM proj_remain""".stripMargin

  /** DuckDB twin of q141 (rdf:List unroll): the same cons-cell
    * fixture rebuilt via unnest(range(...)), then a RECURSIVE walk
    * down the rest-chain carrying the index — an independent O(len)
    * formulation of the Spark side's pointer doubling. Safe here
    * because chains cap at 4 cells (the q117 don't-fatten rule).
    * Empty-list (nil) entries never seed the walk.
    */
  private val q141Sql: String =
    """WITH RECURSIVE cells AS MATERIALIZED (
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
      |FROM walk w JOIN firsts f ON f.s = w.cell""".stripMargin

  /** DuckDB twin of q142 (GROUP_CONCAT): string_agg with an explicit
    * ORDER BY on the zero-padded unique member id — the q103 rule
    * (never an implementation-defined concat order) on the q117
    * printf == format_string identity.
    */
  private val q142Sql: String =
    """SELECT 'o' || CAST(doc_id % 16 AS VARCHAR) AS org,
      |       string_agg(printf('d%06d', doc_id), ','
      |                  ORDER BY printf('d%06d', doc_id)) AS members
      |FROM documents GROUP BY 1""".stripMargin

  /** DuckDB twin of q143 (IFP resolution): the canonical member of
    * each email class is the window min over the zero-padded id
    * (q98: lexicographic == numeric) — an independent formulation of
    * infer-star-links-then-CC, valid because email classes are
    * DISJOINT by construction (single IFP, one value per subject);
    * cross-value chaining is the unit spec's job, not this fixture's.
    */
  private val q143Sql: String =
    """WITH canon AS MATERIALIZED (
      |  SELECT printf('d%06d', doc_id) AS node,
      |         'e' || CAST(doc_id % 17 AS VARCHAR) AS em,
      |         'L' || CAST(doc_id AS VARCHAR) AS lbl,
      |         min(printf('d%06d', doc_id)) OVER (PARTITION BY doc_id % 17) AS c
      |  FROM documents
      |)
      |SELECT DISTINCT c AS s, 'email' AS p, em AS o FROM canon
      |UNION
      |SELECT c, 'label', lbl FROM canon""".stripMargin

  /** DuckDB twin of q144 (p+ closure): recursive ancestor walk over
    * the div-2 tree — `doc_id // 2` on non-negatives is Spark's
    * `div` (q62 rule); UNION-dedup recursion terminates at the root.
    */
  private val q144Sql: String =
    """WITH RECURSIVE e AS MATERIALIZED (
      |  SELECT doc_id AS a, doc_id // 2 AS b FROM documents WHERE doc_id >= 1
      |), walk AS (
      |  SELECT a, b FROM e
      |  UNION
      |  SELECT w.a, e2.b FROM walk w JOIN e e2 ON e2.a = w.b
      |)
      |SELECT printf('n%06d', a) AS src, printf('n%06d', b) AS dst FROM walk""".stripMargin

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

  /** DuckDB twin of q180 (SHACL pairs): the same value tables, each
    * constraint restated DEFINITIONALLY — equals as the two-sided
    * EXCEPT (the q132 rule), disjoint as INTERSECT, lessThan from the
    * generating arithmetic (the q155 restatement rule) with the same
    * min collapse, uniqueLang as a per-(s, lang) HAVING. Only
    * violating focus nodes group, matching the filter-then-group
    * Spark shape.
    */
  private val q180Sql: String =
    """WITH f AS (SELECT 'd' || doc_id AS s, doc_id AS d FROM documents),
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
      |UNION ALL SELECT * FROM lt UNION ALL SELECT * FROM ul""".stripMargin

  /** DuckDB twin of q181 (OWL restrictions): same constructed facts,
    * the four RL rules restated as plain schema-table joins; final
    * DISTINCT mirrors the derived-set semantics.
    */
  private val q181Sql: String =
    """WITH f AS (SELECT 'd' || doc_id AS s, doc_id AS d FROM documents),
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
      |  UNION ALL SELECT * FROM svf1 UNION ALL SELECT * FROM af) u""".stripMargin

  /** DuckDB twin of q182 (SHACL logical/closed shapes): presence of
    * each component predicate is a pure residue test, so every lane
    * restates as CASE arithmetic over doc_id — no joins at all; the
    * not/closed counts are the DISTINCT value counts (1 + the %22
    * doubling lane).
    */
  private val q182Sql: String =
    """WITH f AS (SELECT 'd' || doc_id AS s, doc_id AS d FROM documents),
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
      |UNION ALL SELECT * FROM clv""".stripMargin

  /** DuckDB twin of q183 (owl:hasKey): the key-tuple groups restated
    * with the same join-then-window-min formulation as q143 (valid
    * here for the same reason — tuple groups are disjoint per key),
    * zero-padded ids keeping lexicographic min numeric (q98 rule);
    * the multi-valued %30 lane fans to both combinations via the
    * UNION inside va.
    */
  private val q183Sql: String =
    """WITH f AS (SELECT printf('d%06d', doc_id) AS s, doc_id AS d FROM documents),
      |typed AS (SELECT s, d FROM f WHERE d % 10 != 9),
      |va AS (SELECT s, 'a' || (d % 40) AS v0 FROM f WHERE d % 17 != 0
      |       UNION SELECT s, 'a' || ((d + 1) % 40) FROM f WHERE d % 30 = 0),
      |vb AS (SELECT DISTINCT s, 'b' || (d % 25) AS v1 FROM f),
      |keyed AS (SELECT t.s, va.v0, vb.v1
      |          FROM typed t JOIN va ON va.s = t.s JOIN vb ON vb.s = t.s),
      |mm AS (SELECT s, min(s) OVER (PARTITION BY v0, v1) AS m FROM keyed)
      |SELECT DISTINCT m AS s, 'sameAs' AS p, s AS o FROM mm WHERE s != m""".stripMargin

  /** DuckDB twin of q184 (incremental CC): the DEFINITIONAL full
    * recompute — base-label graph ∪ delta edges, undirected min-label
    * reach (the q26 recursive formulation), min per node. Kept
    * independent of the Spark side's label-graph contraction (the
    * q132 rule); safe because merged clusters stay ≤ ~20 nodes under
    * the %32/%50/%24 lanes. Multi-consumed non-recursive CTEs are
    * MATERIALIZED (q71 rule).
    */
  private val q184Sql: String =
    """WITH RECURSIVE f AS (SELECT doc_id AS d FROM documents),
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
      |SELECT node, min(lab) AS component FROM reach GROUP BY node""".stripMargin

  /** DuckDB twin of q185 (property-axiom checks): each lane restated
    * as slice joins; the differentFrom lane is stated directly as the
    * matched (u, w) pair set — the symmetric-match pre-application —
    * keeping it independent of the Spark side's union-of-reversals.
    */
  private val q185Sql: String =
    """WITH f AS (SELECT doc_id AS d FROM documents),
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
      |  UNION ALL SELECT * FROM npa UNION ALL SELECT * FROM eqd) u""".stripMargin

  /** DuckDB twin of q186 (k-bisimulation): the two refinement rounds
    * replayed with DISTINCT-subselect + ordered string_agg (the exact
    * value of sort_array(collect_set)) and md5 over the chr(1/2/3)
    * separator discipline; multi-consumed CTEs MATERIALIZED (q71
    * rule). The hash chain is byte-identical in both engines —
    * lowercase hex md5 over single-byte control separators.
    */
  private val q186Sql: String =
    """WITH f AS (SELECT doc_id AS d FROM documents),
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
      |GROUP BY 1, 2, 3""".stripMargin

  /** DuckDB twin of q187 (coherence linking): the CLOSED FORM of the
    * argmax — the vote flips the winner exactly when both residues
    * avoid the %3==2 class — deliberately independent of the Spark
    * side's vote-join + window plan (the q63 independence rule).
    */
  private val q187Sql: String =
    """WITH f AS (SELECT doc_id AS d FROM documents),
      |m AS (SELECT d, d % 12 AS k, (d + 5) % 12 AS k2 FROM f
      |      UNION ALL SELECT d, (d + 5) % 12, d % 12 FROM f)
      |SELECT d AS doc_id, 'm' || k AS mention,
      |  CASE WHEN k % 3 != 2 AND k2 % 3 != 2 THEN printf('e%02d', 2*k + 1)
      |       ELSE printf('e%02d', 2*k) END AS ent,
      |  CAST(CASE WHEN k % 3 != 2 AND k2 % 3 != 2 THEN 65 ELSE 50 END AS BIGINT) AS score
      |FROM m""".stripMargin

  /** DuckDB twin of q188 (interval coalescing): the INDEPENDENT
    * endpoint formulation — island starts are los no earlier interval
    * reaches within the gap, island ends are his no later-reaching
    * interval extends; exactly one of each per island, paired
    * start → min(end ≥ start), members counted by lo containment.
    * Deliberately not a replay of the gaps-and-islands window plan.
    */
  private val q188Sql: String =
    """WITH iv AS MATERIALIZED (
      |  SELECT DISTINCT 'k' || (doc_id % 37) AS key,
      |    (doc_id * 7) % 500 AS lo,
      |    (doc_id * 7) % 500 + (doc_id % 25) AS hi
      |  FROM documents),
      |st AS (SELECT DISTINCT key, lo FROM iv a WHERE NOT EXISTS (
      |       SELECT 1 FROM iv b WHERE b.key = a.key AND b.lo < a.lo
      |       AND b.hi + 1 >= a.lo)),
      |en AS (SELECT DISTINCT key, hi FROM iv a WHERE NOT EXISTS (
      |       SELECT 1 FROM iv b WHERE b.key = a.key AND b.hi > a.hi
      |       AND b.lo <= a.hi + 1)),
      |isl AS (SELECT s.key, s.lo, min(e.hi) AS hi
      |        FROM st s JOIN en e ON e.key = s.key AND e.hi >= s.lo
      |        GROUP BY s.key, s.lo)
      |SELECT i.key, CAST(i.lo AS BIGINT) AS lo, CAST(i.hi AS BIGINT) AS hi,
      |  CAST(count(*) AS BIGINT) AS n_merged
      |FROM isl i JOIN iv v ON v.key = i.key AND v.lo BETWEEN i.lo AND i.hi
      |GROUP BY i.key, i.lo, i.hi""".stripMargin

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

  /** DuckDB twin of q213 (greedy-vs-optimal gap): both tokenizer
    * chains nested as full-statement subqueries (their WITHs scope
    * inside the parens), the greedy path costed token-by-token under
    * the identical length-cost CASE, then one word-keyed join. Both
    * subquery results are multi-referenced conceptually — mark them
    * MATERIALIZED (the q71 rule) so DuckDB never inlines the
    * recursive walk or the 16-round DP twice.
    */
  private def q213Sql: String =
    s"""WITH g AS MATERIALIZED (
       |  SELECT word, CAST(list_sum(list_transform(string_split(tokens, ','),
       |    t -> CASE WHEN length(t) = 1 THEN 100 ELSE 70 * length(t) + 10 END)) AS BIGINT) AS greedy_cost
       |  FROM ( $q189Sql ) t189
       |), o AS MATERIALIZED (
       |  SELECT word, min_cost FROM ( ${q211Sql()} ) t211
       |)
       |SELECT g.word, g.greedy_cost, o.min_cost,
       |  g.greedy_cost - o.min_cost AS excess
       |FROM g JOIN o ON o.word = g.word""".stripMargin

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

  /** DuckDB twin of q217 (CDC summary): the q214 chunking CTEs, then
    * the two-level aggregate — per-distinct-chunk copy counts, one
    * summary row; ppm is truncating on non-negatives (q62), HUGEINT
    * sums divided before the BIGINT cast (q70).
    */
  private def q217Sql: String =
    s"""${cdcCtes()},
       |grp AS (
       |  SELECT chunk_key, chunk_len, count(*) AS nc
       |  FROM ch GROUP BY chunk_key, chunk_len
       |)
       |SELECT CAST(sum(nc) AS BIGINT) AS n_chunks,
       |  CAST(count(*) AS BIGINT) AS n_distinct_chunks,
       |  CAST(sum(nc * chunk_len) AS BIGINT) AS total_chars,
       |  CAST(sum((nc - 1) * chunk_len) AS BIGINT) AS saved_chars,
       |  CAST(sum((nc - 1) * chunk_len) * 1000000 // sum(nc * chunk_len) AS BIGINT) AS dedup_ppm
       |FROM grp""".stripMargin

  /** DuckDB twin of q190 (term ordering): the same five-key ladder —
    * kind rank, numeric-literal flag, guarded BIGINT decode, lexical
    * form, doc_id tiebreak — with substring tests instead of LIKE
    * (underscore is a LIKE wildcard) and regexp_full_match for the
    * xsd:integer shape.
    */
  private val q190Sql: String =
    """WITH f AS (SELECT doc_id AS d FROM documents),
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
      |FROM keyed ORDER BY k0, k1, k2, k3, d LIMIT 200""".stripMargin

  /** DuckDB twin of q191 (rule mining): the same five constructed
    * predicate lanes, the same fanout-capped z-join census — body
    * pairs dedup before the head join, truncating ppm confidence
    * (q62 rule); a replay, as the operator is definitional.
    */
  private val q191Sql: String =
    """WITH f AS (SELECT doc_id AS d FROM documents),
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
      |FROM sup s JOIN bn ON bn.b1 = s.b1 AND bn.b2 = s.b2""".stripMargin

  /** DuckDB twin of q192 (eccentricity): recursive ≤30-hop walk with
    * UNION dedup on (src, node, dist), min-fold to true distances,
    * max per seed — the q66 recursive shape; the hop bound matches
    * the Spark cap, irrelevant to the min since the tree's true
    * eccentricities sit far below it.
    */
  private val q192Sql: String =
    """WITH RECURSIVE f AS (SELECT doc_id AS d FROM documents),
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
      |FROM md GROUP BY src""".stripMargin

  /** DuckDB twin of q193 (degree census): same canonical edge set,
    * same doubled-degree count, same whole-bit bucket (q70 rule —
    * DuckDB's HUGEINT sum casts back to BIGINT).
    */
  private val q193Sql: String =
    """WITH f AS (SELECT doc_id AS d FROM documents),
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
      |FROM deg GROUP BY 1""".stripMargin

  /** DuckDB twin of q194 (path-shape cardinalities): every lane's
    * value count collapses to closed residue form — the mgr sequence
    * reaches a manager iff d%4 != 3 (16 ≡ 0 mod 4), the alias
    * alternation counts 1 + the %3 + %9 nick lanes, the mentee
    * inverse count is the definitional children join over the div-2
    * tree.
    */
  private val q194Sql: String =
    """WITH f AS (SELECT doc_id AS d FROM documents),
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
      |UNION ALL SELECT * FROM men""".stripMargin

  /** DuckDB twin of q209 (sh:qualifiedValueShape): the conforming
    * count collapses to closed residue form — lane i's value
    * (r + 7i) % 20 conforms iff it lands in the %3==0 Expert set,
    * lanes gate on d%2 / d%5. The three lane values are pairwise
    * distinct mod 20, so lane arithmetic == the operator's
    * distinct-value count (the fixture note on the Spark side).
    */
  private val q209Sql: String =
    """WITH f AS (SELECT doc_id AS d, doc_id % 20 AS r FROM documents),
      |c AS (SELECT printf('d%06d', d) AS s,
      |  (CASE WHEN r % 3 = 0 THEN 1 ELSE 0 END)
      |  + (CASE WHEN d % 2 = 0 AND ((r + 7) % 20) % 3 = 0 THEN 1 ELSE 0 END)
      |  + (CASE WHEN d % 5 = 0 AND ((r + 14) % 20) % 3 = 0 THEN 1 ELSE 0 END) AS qn
      |  FROM f)
      |SELECT s, 'qualifiedMin' AS violation, CAST(qn AS BIGINT) AS n
      |FROM c WHERE qn < 1
      |UNION ALL
      |SELECT s, 'qualifiedMax' AS violation, CAST(qn AS BIGINT) AS n
      |FROM c WHERE qn > 1""".stripMargin

  /** DuckDB twin of q179 (Z-order layout): the Morton spread ladder
    * restated step by step in BIGINT shift/AND CTEs (identical
    * operators both engines — every intermediate is non-negative and
    * < 2^32), the same two bucketings, the same zone-map fold. The
    * column `by` would be a keyword — the ladder uses mx/my names.
    */
  private val q179Sql: String =
    """WITH pts AS (
      |  SELECT doc_id, (doc_id * 37) % 1024 AS x, (doc_id * 101) % 1024 AS y
      |  FROM documents
      |), s1 AS (
      |  SELECT doc_id, x, y,
      |    ((x | (x << 8)) & 16711935) AS ax, ((y | (y << 8)) & 16711935) AS ay
      |  FROM pts
      |), s2 AS (
      |  SELECT doc_id, x, y,
      |    ((ax | (ax << 4)) & 252645135) AS mx, ((ay | (ay << 4)) & 252645135) AS my
      |  FROM s1
      |), s3 AS (
      |  SELECT doc_id, x, y,
      |    ((mx | (mx << 2)) & 858993459) AS cx, ((my | (my << 2)) & 858993459) AS cy
      |  FROM s2
      |), s4 AS (
      |  SELECT doc_id, x, y,
      |    ((cx | (cx << 1)) & 1431655765) AS dx, ((cy | (cy << 1)) & 1431655765) AS dy
      |  FROM s3
      |), zp AS (
      |  SELECT doc_id, x, y, (dx | (dy << 1)) AS zv FROM s4
      |), zzm AS (
      |  SELECT zv // 16384 AS b,
      |    min(x) AS xmin, max(x) AS xmax, min(y) AS ymin, max(y) AS ymax,
      |    count(*) AS n_rows,
      |    sum(CASE WHEN x BETWEEN 128 AND 255 AND y BETWEEN 512 AND 639
      |      THEN 1 ELSE 0 END) AS n_match
      |  FROM zp GROUP BY 1
      |), rzm AS (
      |  SELECT doc_id // 8 AS b,
      |    min(x) AS xmin, max(x) AS xmax, min(y) AS ymin, max(y) AS ymax,
      |    count(*) AS n_rows,
      |    sum(CASE WHEN x BETWEEN 128 AND 255 AND y BETWEEN 512 AND 639
      |      THEN 1 ELSE 0 END) AS n_match
      |  FROM zp GROUP BY 1
      |), za AS (
      |  SELECT 'zorder' AS layout, CAST(count(*) AS BIGINT) AS n_buckets,
      |    CAST(sum(CASE WHEN xmin <= 255 AND xmax >= 128 AND ymin <= 639 AND ymax >= 512
      |      THEN 1 ELSE 0 END) AS BIGINT) AS buckets_touched,
      |    CAST(sum(CASE WHEN xmin <= 255 AND xmax >= 128 AND ymin <= 639 AND ymax >= 512
      |      THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
      |    CAST(sum(n_match) AS BIGINT) AS rows_matched
      |  FROM zzm
      |), ra AS (
      |  SELECT 'rowid' AS layout, CAST(count(*) AS BIGINT) AS n_buckets,
      |    CAST(sum(CASE WHEN xmin <= 255 AND xmax >= 128 AND ymin <= 639 AND ymax >= 512
      |      THEN 1 ELSE 0 END) AS BIGINT) AS buckets_touched,
      |    CAST(sum(CASE WHEN xmin <= 255 AND xmax >= 128 AND ymin <= 639 AND ymax >= 512
      |      THEN n_rows ELSE 0 END) AS BIGINT) AS rows_scanned,
      |    CAST(sum(n_match) AS BIGINT) AS rows_matched
      |  FROM rzm
      |)
      |SELECT * FROM za UNION ALL SELECT * FROM ra""".stripMargin

  /** DuckDB twin of q178 (link prediction): same tree+hub edges, the
    * wedge join restated naively over the capped adjacency — degree
    * cap 16 excludes the planted hub as a wedge center in BOTH
    * engines; `1000000 // length(bin(d))` is the q70 whole-bit AA
    * weight (HUGEINT sum cast back to BIGINT), `//` == Spark `div` on
    * the non-negative operands (q62 rule).
    */
  private val q178Sql: String =
    """WITH ein AS MATERIALIZED (
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
      |WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.u = c.x AND e.v = c.y)""".stripMargin

  /** DuckDB twin of q173 (ER metrics): the same contingency identity
    * — HUGEINT sums cast to BIGINT (q70 rule), `//` on non-negative
    * pair counts (q62 rule).
    */
  private val q173Sql: String =
    """WITH a AS (
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
      |FROM cell, pt, gt""".stripMargin

  /** DuckDB twin of q172 (interval join): the NAIVE overlap join —
    * O(|a|·|b|) but safe at test SFs — independent of the Spark
    * binning plan (which must be exactly candidate-complete: a bin
    * width can never lose a pair, only duplicate candidates).
    */
  private val q172Sql: String =
    """WITH a AS (
      |  SELECT 'a' || CAST(doc_id AS VARCHAR) AS ida,
      |         (doc_id * 13) % 1000 AS lo,
      |         (doc_id * 13) % 1000 + doc_id % 50 AS hi
      |  FROM documents
      |), b AS (
      |  SELECT 'b' || CAST(doc_id AS VARCHAR) AS idb,
      |         (doc_id * 7) % 1000 AS lo,
      |         (doc_id * 7) % 1000 + doc_id % 30 AS hi
      |  FROM documents WHERE doc_id % 5 = 0
      |)
      |SELECT DISTINCT ida, idb FROM a JOIN b ON a.lo <= b.hi AND b.lo <= a.hi""".stripMargin

  /** DuckDB twin of q170 (RDF-star): the annotation solutions stated
    * directly from the generating arithmetic — the planted non-quoted
    * confidence row must be absent, which the direct statement
    * encodes by construction.
    */
  private val q170Sql: String =
    """SELECT 'd' || CAST(doc_id AS VARCHAR) AS qs,
      |       'o' || CAST(doc_id % 16 AS VARCHAR) AS qo,
      |       'c' || CAST(doc_id % 5 AS VARCHAR) AS v
      |FROM documents""".stripMargin

  /** DuckDB twin of q171 (prp-eqp): the equivalence classes enumerated
    * as an explicit member map (the closure of {p0,p1,p2} and {p3,p4}
    * written out) — independent of the Spark closure computation.
    */
  private val q171Sql: String =
    """WITH t AS (
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
      |SELECT DISTINCT s, m.q AS p, o FROM t JOIN m USING (p)""".stripMargin

  /** DuckDB twin of q169 (NOT EXISTS with unbound): the DEFINITIONAL
    * survivor set stated directly — bound mentors outside the flagged
    * residue classes; the unbound-?m drop (free variable matches the
    * existing flagged rows) is what makes the WHERE clause this
    * simple.
    */
  private val q169Sql: String =
    """SELECT 'd' || CAST(doc_id AS VARCHAR) AS x,
      |       'o' || CAST(doc_id % 16 AS VARCHAR) AS org,
      |       'm' || CAST(doc_id % 10 AS VARCHAR) AS m
      |FROM documents WHERE doc_id % 4 = 0 AND doc_id % 10 >= 5""".stripMargin

  /** DuckDB twin of q168 (aggregate unbound discipline): LEFT JOIN
    * rebuilds the optional solutions; count(col)/sum/max null-skip in
    * BOTH engines (the exact semantics under test — n_bonus < n_all
    * in every group); the COALESCE lanes are the all-unbound-group
    * guard, identical both sides (not exercised at these SFs where
    * every org has bonus members).
    */
  private val q168Sql: String =
    """WITH sols AS (
      |  SELECT 'o' || CAST(d.doc_id % 16 AS VARCHAR) AS org,
      |         b.bonus AS b
      |  FROM documents d LEFT JOIN (
      |    SELECT doc_id, CAST(doc_id % 500 AS BIGINT) AS bonus
      |    FROM documents WHERE doc_id % 3 = 0) b USING (doc_id)
      |)
      |SELECT org, count(*) AS n_all, count(b) AS n_bonus,
      |       COALESCE(CAST(sum(b) AS BIGINT), 0) AS sum_bonus,
      |       COALESCE(max(b), -1) AS max_bonus
      |FROM sols GROUP BY org""".stripMargin

  /** DuckDB twin of q167 (per-group top-k): same (age DESC, member
    * ASC) deterministic rank — equal ages across members make the
    * tiebreak observable at every SF.
    */
  private val q167Sql: String =
    """WITH sols AS (
      |  SELECT 'o' || CAST(doc_id % 16 AS VARCHAR) AS org,
      |         'd' || CAST(doc_id AS VARCHAR) AS x,
      |         CAST(doc_id % 90 AS BIGINT) AS age
      |  FROM documents
      |)
      |SELECT org, x, age, CAST(rk AS BIGINT) AS rk FROM (
      |  SELECT *, row_number() OVER (PARTITION BY org ORDER BY age DESC, x) AS rk FROM sols
      |) WHERE rk <= 2""".stripMargin

  /** DuckDB twin of q166 (rdf:List build): same window positions and
    * md5-prefix cell labels ('s|idx' — Spark's concat_ws('|') form);
    * unique ord keeps row_number deterministic (q103 rule).
    */
  private val q166Sql: String =
    """WITH items AS (
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
      |)""".stripMargin

  /** DuckDB twin of q165 (DESCRIBE CBD): the o3 members' own triples
    * plus their bnode chain stated directly — the linked IRI nodes'
    * label triples are ABSENT, which is the CBD boundary under test.
    */
  private val q165Sql: String =
    """WITH d AS (SELECT doc_id AS id, CAST(doc_id AS VARCHAR) AS ids
      |           FROM documents WHERE doc_id % 16 = 3)
      |SELECT s, p, o FROM (
      |  SELECT 'd' || ids AS s, 'worksFor' AS p, 'o3' AS o FROM d
      |  UNION ALL SELECT 'd' || ids, 'addr', '_:a' || ids FROM d
      |  UNION ALL SELECT 'd' || ids, 'link', 'http://x/' || CAST(id % 11 AS VARCHAR) FROM d
      |  UNION ALL SELECT '_:a' || ids, 'city', 'C' || CAST(id % 50 AS VARCHAR) FROM d
      |  UNION ALL SELECT '_:a' || ids, 'geo', '_:g' || ids FROM d
      |  UNION ALL SELECT '_:g' || ids, 'lat', 'L' || CAST(id % 90 AS VARCHAR) FROM d
      |)""".stripMargin

  /** DuckDB twin of q163 (term constructors): literal strings and IRIs
    * stated directly per lane; the BNODE label replays the md5-prefix
    * contract (solution key + chr(1) + argument — byte-identical to
    * Spark's concat_ws with the  separator).
    */
  private val q163Sql: String =
    """SELECT 'd' || CAST(doc_id AS VARCHAR) AS s,
      |       '"v' || CAST(doc_id % 90 AS VARCHAR) || '"^^xsd:token' AS typed,
      |       '"name' || CAST(doc_id % 100 AS VARCHAR) || '"@' ||
      |         CASE WHEN doc_id % 2 = 0 THEN 'en' ELSE 'de' END AS tagged,
      |       CASE WHEN doc_id % 3 = 0
      |            THEN 'http://abs.example/a' || CAST(doc_id % 9 AS VARCHAR)
      |            ELSE 'http://b.example/rel/p' || CAST(doc_id % 9 AS VARCHAR) END AS iri,
      |       '_:bn' || substring(md5('d' || CAST(doc_id AS VARCHAR) || chr(1) || 'x'), 1, 8) AS bn
      |FROM documents""".stripMargin

  /** DuckDB twin of q164 (numeric functions): identical non-negative
    * div identities (`//` == Spark div only on non-negatives — the
    * q62 regime routed through sign cases), xpath round = floor of
    * (2a+b)/(2b).
    */
  private val q164Sql: String =
    """WITH d AS (SELECT 'd' || CAST(doc_id AS VARCHAR) AS s,
      |                  CAST(doc_id % 201 - 100 AS BIGINT) AS a
      |           FROM documents)
      |SELECT s, a, abs(a) AS abs_a,
      |       CASE WHEN a >= 0 THEN a // 7 ELSE -((-a + 6) // 7) END AS fl,
      |       CASE WHEN a >= 0 THEN (a + 6) // 7 ELSE -((-a) // 7) END AS ce,
      |       CASE WHEN 2 * a + 7 >= 0 THEN (2 * a + 7) // 14
      |            ELSE -((-(2 * a + 7) + 13) // 14) END AS rnd
      |FROM d""".stripMargin

  /** DuckDB twin of q162 (fusion delta): the DEFINITIONAL full fusion
    * over base ∪ delta — independent of the Spark anti-join/semi-
    * restrict maintenance plan (the q139/q132 rule).
    */
  private val q162Sql: String =
    s"""WITH a AS (
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
      |) WHERE rk = 1""".stripMargin

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

  /** DuckDB twin of q160 (TransE eval): identical residue-grid
    * embeddings and L1 sums — all operands non-negative before the
    * final subtraction, so `%` == pmod (q133 rule) and the scores are
    * BIGINT-exact; the strict-better count replays the (score, tail)
    * deterministic ranking.
    */
  private val q160Sql: String =
    """WITH base AS (
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
      |GROUP BY p.id, p.h, p.r, p.t, p.pos_score""".stripMargin

  /** DuckDB twin of q158 (SHACL value constraints): violation rows
    * stated directly per residue lane (the q145 rule) — deliberately
    * independent of the Spark regex/term-decode machinery.
    */
  private val q158Sql: String =
    """WITH d AS (SELECT doc_id AS id, CAST(doc_id AS VARCHAR) AS ids FROM documents)
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
      |)""".stripMargin

  /** DuckDB twin of q159 (cax-dw): witnesses stated directly from the
    * residue arithmetic — {0,3} hit (c0,c3), {1,4} hit (c1,c4).
    */
  private val q159Sql: String =
    """SELECT 'd' || CAST(doc_id AS VARCHAR) AS inst,
      |       CASE WHEN doc_id % 6 IN (0, 3) THEN 'c0' ELSE 'c1' END AS a,
      |       CASE WHEN doc_id % 6 IN (0, 3) THEN 'c3' ELSE 'c4' END AS b
      |FROM documents WHERE doc_id % 6 IN (0, 1, 3, 4)""".stripMargin

  /** DuckDB twin of q154 (string/hash round 2): before/after/enc are
    * stated directly from doc_id (q145 rule); has5 replays CONTAINS
    * over the same constructed string; md5 is the engine-identical
    * primitive (q9/q16 family).
    */
  private val q154Sql: String =
    """WITH d AS (
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
      |FROM d""".stripMargin

  /** DuckDB twin of q155 (dateTime accessors): components restated
    * directly from doc_id — deliberately NOT a substring replay, so
    * the Spark slice offsets are checked against the generating
    * arithmetic; tz is the only string lane.
    */
  private val q155Sql: String =
    """SELECT 'd' || CAST(doc_id AS VARCHAR) AS s,
      |       2020 + doc_id % 5 AS yr,
      |       1 + doc_id % 12 AS mo,
      |       1 + doc_id % 28 AS dy,
      |       doc_id % 24 AS hh,
      |       doc_id % 60 AS mi,
      |       (doc_id * 7) % 60 AS ss,
      |       CASE WHEN doc_id % 2 = 0 THEN 'Z' ELSE '+05:30' END AS tz
      |FROM documents""".stripMargin

  /** DuckDB twin of q156 (KG fusion): the same vote-count + top-1
    * window formulation — support DESC, value ASC tiebreak; counts
    * are BIGINT both engines.
    */
  private val q156Sql: String =
    s"""WITH a AS (
      |${spoSql(Lane.colors, Lane.shapes)}
      |), v AS (
      |  SELECT s, p, o, count(*) AS support FROM a GROUP BY 1, 2, 3
      |)
      |SELECT s, p, o, support FROM (
      |  SELECT *, row_number() OVER (PARTITION BY s, p ORDER BY support DESC, o) AS rk FROM v
      |) WHERE rk = 1""".stripMargin

  /** DuckDB twin of q157 (COUNT DISTINCT vs COUNT(*)): the doubled
    * lane is rebuilt with UNION ALL; distinct counts collapse it.
    */
  private val q157Sql: String =
    """WITH s0 AS (
      |  SELECT 'd' || CAST(doc_id AS VARCHAR) AS x,
      |         'o' || CAST(doc_id % 16 AS VARCHAR) AS org,
      |         'l' || CAST(doc_id % 5 AS VARCHAR) AS lg
      |  FROM documents
      |), sols AS (SELECT * FROM s0 UNION ALL SELECT * FROM s0)
      |SELECT org, count(*) AS n_rows,
      |       count(DISTINCT x) AS n_members,
      |       count(DISTINCT lg) AS n_langs
      |FROM sols GROUP BY org""".stripMargin

  /** DuckDB twin of q151 (OPTIONAL inner FILTER): the definitional
    * CASE form — price binds iff an offer exists AND passes the
    * filter, else the −1 unbound sentinel; deliberately NOT a replayed
    * left join, so the Spark LeftJoin(Ω1, Ω2, expr) plan is checked
    * against the semantics, not against itself.
    */
  private val q151Sql: String =
    """SELECT 'd' || CAST(doc_id AS VARCHAR) AS x, doc_id % 100 AS budget,
      |       CASE WHEN doc_id % 3 <> 0 AND (doc_id * 7) % 150 <= doc_id % 100
      |            THEN (doc_id * 7) % 150 ELSE -1 END AS price
      |FROM documents""".stripMargin

  /** DuckDB twin of q152 (BIND COALESCE/BOUND/IF): definitional CASE
    * over the nick-presence lane.
    */
  private val q152Sql: String =
    """SELECT 'd' || CAST(doc_id AS VARCHAR) AS x,
      |       CASE WHEN doc_id % 4 = 0 THEN 'nick' || CAST(doc_id % 50 AS VARCHAR)
      |            ELSE 'name' || CAST(doc_id % 100 AS VARCHAR) END AS display,
      |       CASE WHEN doc_id % 4 = 0 THEN CAST(1 AS BIGINT)
      |            ELSE CAST(0 AS BIGINT) END AS has_nick
      |FROM documents""".stripMargin

  /** DuckDB twin of q153 (VALUES UNDEF): the same inline rows joined
    * with the IS NULL-or-equal compatibility condition — multiset
    * semantics preserved (no DISTINCT; the overlapping rows must
    * duplicate exactly as Spark's join does).
    */
  private val q153Sql: String =
    """WITH sols AS (
      |  SELECT 'd' || CAST(doc_id AS VARCHAR) AS x,
      |         'o' || CAST(doc_id % 4 AS VARCHAR) AS org,
      |         CASE doc_id % 3 WHEN 0 THEN 'en' WHEN 1 THEN 'de' ELSE 'fr' END AS lg
      |  FROM documents
      |), b(borg, blg) AS (VALUES ('o1', NULL), (NULL, 'de'), ('o3', 'en'))
      |SELECT x, org, lg FROM sols JOIN b
      |  ON (borg IS NULL OR borg = org) AND (blg IS NULL OR blg = lg)""".stripMargin

  /** DuckDB twin of q149 (term functions): expected rows stated
    * directly per lane (the q145 rule) — the en/EN-US/de langMatches
    * split is the only data-dependent branch, and it is a pure id%3
    * case; STR's bnode type error surfaces as the '' strv lane.
    */
  private val q149Sql: String =
    """WITH d AS (SELECT doc_id AS id, CAST(doc_id AS VARCHAR) AS ids FROM documents)
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
      |)""".stripMargin

  /** DuckDB twin of q150 (HAVING): the same grouped aggregate with a
    * scalar-subquery HAVING gate; HUGEINT sum cast back to BIGINT
    * (q70 rule), trailing-zeros skew keeps the 1/5 threshold safely
    * away from every group share at any scale factor.
    */
  private val q150Sql: String =
    """WITH g AS (
      |  SELECT CASE WHEN doc_id % 2 <> 0 THEN 'o0'
      |              WHEN doc_id % 4 <> 0 THEN 'o1'
      |              WHEN doc_id % 8 <> 0 THEN 'o2' ELSE 'o3' END AS org,
      |         doc_id % 90 AS age
      |  FROM documents
      |)
      |SELECT org, count(*) AS n, CAST(sum(age) AS BIGINT) AS sum_age, max(age) AS max_age
      |FROM g GROUP BY org
      |HAVING count(*) * 5 >= (SELECT count(*) FROM documents)""".stripMargin

  /** DuckDB twin of q147 ((a|^b)+ closure): the alternation collapses
    * to one child→parent edge set (a stored forward, b recovered by
    * the inverse step), so the oracle walks the %3∈{0,1} subgraph —
    * `//` on non-negatives == Spark div (q62 rule); e is consumed
    * twice → MATERIALIZED (q71 rule).
    */
  private val q147Sql: String =
    """WITH RECURSIVE e AS MATERIALIZED (
      |  SELECT doc_id AS x, doc_id // 2 AS y FROM documents
      |  WHERE doc_id >= 1 AND doc_id % 3 IN (0, 1)
      |), walk AS (
      |  SELECT x, y FROM e
      |  UNION
      |  SELECT w.x, e2.y FROM walk w JOIN e e2 ON e2.x = w.y
      |)
      |SELECT printf('n%06d', x) AS src, printf('n%06d', y) AS dst FROM walk""".stripMargin

  /** DuckDB twin of q148 (prp-fp): window-min over each item's owner
    * set — an independent formulation of the star-link inference,
    * valid because the fixture's item groups are disjoint (q143 rule);
    * the note lane never enters the slice.
    */
  private val q148Sql: String =
    """WITH slice AS (
      |  SELECT 'i' || CAST(doc_id % 23 AS VARCHAR) AS item, printf('o%06d', doc_id) AS o
      |  FROM documents
      |)
      |SELECT m AS s, 'sameAs' AS p, o
      |FROM (SELECT o, min(o) OVER (PARTITION BY item) AS m FROM slice)
      |WHERE o <> m""".stripMargin

  /** DuckDB twin of q145 (Microdata extraction): the expected triples
    * stated DIRECTLY per doc_id lane (the q120 rule — the oracle writes
    * the final state, it does not replay the parser). Blank-node labels
    * replay cross-engine because the extractor's contract is pinned:
    * md<counter> in document order, '@' + md5(url) document scope —
    * DuckDB's md5 hex == the Scala urlScope hex.
    */
  private val q145Sql: String = {
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
  }

  /** DuckDB twin of q146 (JSON-LD extraction): expected triples stated
    * directly per lane (the q145/q120 rule). The jl<block>_<n> bnode
    * label pins BOTH the fresh-counter contract and the per-script-
    * block namespacing (lane 2's malformed block 0 must shift the valid
    * block to index 1 without emitting anything itself).
    */
  private val q146Sql: String = {
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
  }

  /** DuckDB twin of q123 (reification): role CTEs with the exactly-one
    * HAVING discipline, three stmt-keyed joins + the annotation join —
    * the %9 missing-object and %8 conflicting-object plants must drop.
    */
  private val q123Sql: String =
    """WITH spo AS MATERIALIZED (
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
      |JOIN spo c ON c.p = 'confidence' AND c.s = subj.stmt""".stripMargin

  /** DuckDB twin of q124 (VoID property partition): one grouped pass,
    * native exact count-distinct both sides.
    */
  private val q124Sql: String =
    s"""WITH spo AS (
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
      |FROM spo GROUP BY p""".stripMargin

  /** DuckDB twin of q121 (OWL chain + symmetric): the chains UNROLLED
    * as explicit join CTEs (gp = parent², ggp = gp ∘ parent) — the
    * closed form of the Spark side's fixpoint, exact because the
    * schema's chain depth is 2; par/gp are multi-consumed (the q71
    * MATERIALIZED rule).
    */
  private val q121Sql: String =
    s"""WITH spo AS MATERIALIZED (
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
      |SELECT s, 'hasGreatGrandparent', o FROM ggp""".stripMargin

  /** DuckDB twin of q122 (co-citation): the same q83 link-graph CTE
    * both engines rebuild, then the pair self-join written natively —
    * a < b orientation, HAVING over the plain count.
    */
  private def q122Sql: String =
    s"""WITH g AS MATERIALIZED (${q83Sql}),
      |e AS MATERIALIZED (
      |  SELECT DISTINCT src_domain AS src, dst_domain AS dst FROM g WHERE is_internal = 0
      |)
      |SELECT a.dst AS a, b.dst AS b, CAST(COUNT(*) AS BIGINT) AS n_common
      |FROM e a JOIN e b ON b.src = a.src AND a.dst < b.dst
      |GROUP BY 1, 2
      |HAVING COUNT(*) >= 2""".stripMargin

  /** DuckDB twin of q120 (graph management): the FINAL state written
    * directly as set algebra — surviving graphs pass through (src0
    * moved away, src2 cleared), live = src0 ∪ src1 content, mirror =
    * src3 content; UNION dedups the shared version quad — independent
    * of the Spark side's op-by-op fold.
    */
  private val q120Sql: String =
    """WITH quads AS MATERIALIZED (
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
      |SELECT 'mirror', s, p, o FROM quads WHERE g = 'src3'""".stripMargin

  /** DuckDB twin of q117 (SCC): generic mutual reachability — the
    * transitive closure of the edge set joined against its own
    * transpose image, scc label = max over the mutually-reachable set
    * (plus self for singletons) — an independent formulation of the
    * Spark side's coloring/forward-backward decomposition. Closure is
    * O(Σ|reach(v)|) rows, bounded here because rings are 8 nodes and
    * the cross-ring DAG is the div-2 tree (log-depth ancestors only).
    * printf zero-padding (the q98 rule) makes lexicographic max ==
    * numeric max in both engines.
    */
  private val q117Sql: String =
    """WITH RECURSIVE edges AS MATERIALIZED (
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
      |) u GROUP BY node""".stripMargin

  /** DuckDB twin of q103: same UNION-of-lanes solution set, native
    * GROUP BY + ORDER BY + LIMIT/OFFSET — the (n DESC, org ASC)
    * ordering is total (org ids are distinct), so the selected slice
    * is deterministic in both engines.
    */
  private val q103Sql: String =
    s"""WITH spo AS (
      |${spoSql(Lane.worksFor, Lane.memberOf)}
      |), sols AS (
      |  SELECT s AS x, o AS org FROM spo WHERE p = 'worksFor'
      |  UNION ALL
      |  SELECT s, o FROM spo WHERE p = 'memberOf'
      |)
      |SELECT org, count(DISTINCT x) AS n
      |FROM sols GROUP BY org
      |ORDER BY n DESC, org ASC
      |LIMIT 5 OFFSET 2""".stripMargin

  /** DuckDB twin of q105: bag count from the raw solution set,
    * distinct-member stats from a pre-deduped grid (DuckDB's
    * string_agg can't combine DISTINCT with ORDER BY — the grid makes
    * the dedup explicit and the ORDER BY total), members as a comma
    * string per the q79 rule.
    */
  private val q105Sql: String =
    s"""WITH spo AS (
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
      |WHERE p.n_members >= 2""".stripMargin

  /** DuckDB twin of q98: q32-style recursive-CTE min-label components
    * over the symmetrized sameAs slice, then the rewrite as two LEFT
    * JOINs + coalesce + DISTINCT — an independent relational
    * formulation of the Spark side's large-star/small-star fixpoint
    * (both compute the connectivity min; clusters are ≤5 nodes by
    * construction so the O(cluster²) reach is safe). Zero-padded
    * entity ids via printf BOTH sides (DuckDB lpad would TRUNCATE past
    * the pad width; printf matches Java format_string exactly), so
    * lexicographic min == numeric min in both engines.
    */
  private val q98Sql: String =
    s"""WITH RECURSIVE spo AS MATERIALIZED (
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
      |WHERE t.p <> 'sameAs'""".stripMargin

  /** DuckDB twin of q99: the UNION lanes written directly (worksFor
    * with a NULL label column; memberOf inner-joined to labels), the
    * VALUES clause as a plain IN list, grouped counts cast to BIGINT.
    */
  private val q99Sql: String =
    s"""WITH spo AS MATERIALIZED (
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
      |GROUP BY org, lbl""".stripMargin

  /** DuckDB twin of q100: the OPTIONAL as a LEFT JOIN solution table,
    * the CONSTRUCT template as three projections unioned + DISTINCT
    * (the graph-set rule), the unbound-variable entry suppressed via
    * IS NOT NULL.
    */
  private val q100Sql: String =
    s"""WITH spo AS MATERIALIZED (
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
      |)""".stripMargin

  /** DuckDB twin of q94: same synthesized spo table and planted
    * violations; the checks are independent relational formulations
    * (LEFT-JOIN count for cardinality, NOT IN for the node check —
    * no NULLs in the subject sets, so NOT IN is safe).
    */
  private val q94Sql: String =
    s"""WITH spo AS (
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
      |GROUP BY w.s""".stripMargin

  /** DuckDB twin of q93: same augmentation/label/split rules, same
    * add-one smoothed whole-bit likelihood grid over the training
    * vocabulary (the q70 bin/length idiom — HUGEINT sums cast back to
    * BIGINT before bin), same tf-then-grid scoring and min-bits
    * verdict. The class axis is a literal 2-row VALUES, mirroring the
    * Spark side's literal explode.
    */
  private val q93Sql: String =
    s"""WITH aug AS (
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
      |FROM aug a CROSS JOIN pri LEFT JOIN db ON db.doc_id = a.doc_id""".stripMargin

  /** DuckDB twin of q91: the same 31-edge binary-tree TBox and ABox
    * assertions, but the closure is an INDEPENDENT WITH RECURSIVE
    * (UNION-deduped semi-naive) rather than a replay of the Spark
    * loop; doc_id is non-negative so Spark pmod == DuckDB %, and the
    * ordered types rebuild is string_agg ORDER BY over a per-inst
    * DISTINCT class set (unique keys → deterministic, the q67 rule).
    */
  private val q91Sql: String =
    """WITH RECURSIVE tbox AS (
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
      |FROM entailed GROUP BY inst""".stripMargin

  /** DuckDB twin of q92: the same synthesized spo table; the BGP is
    * expressed as plain predicate-filtered self-joins (the relational
    * reading of the pattern, independent of the Spark-side matcher's
    * slice/reduce machinery).
    */
  private val q92Sql: String =
    s"""WITH spo AS (
      |${spoSql(Lane.name, Lane.worksFor, Lane.labels(16), Lane.topic)}
      |)
      |SELECT w.s AS person, w.o AS org, n.o AS name, l.o AS lbl
      |FROM spo w
      |JOIN spo n ON n.p = 'name' AND n.s = w.s
      |JOIN spo l ON l.p = 'label' AND l.s = w.o
      |WHERE w.p = 'worksFor'""".stripMargin

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

  /** DuckDB twin of q82: same (user, day) grid, same day+1 shift for
    * returning/churned, same full calendar spine via range(lo, hi+1).
    */
  private def q82Sql: String =
    """WITH du AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events
      |), f AS (SELECT user_id, min(day) AS first_day FROM du GROUP BY user_id),
      |sh AS (SELECT user_id, day + 1 AS day, 1 AS was_active FROM du),
      |cls AS (
      |  SELECT du.day,
      |    sum(CASE WHEN du.day = f.first_day THEN 1 ELSE 0 END) AS n_new,
      |    sum(CASE WHEN du.day <> f.first_day AND sh.was_active IS NOT NULL THEN 1 ELSE 0 END) AS n_returning,
      |    sum(CASE WHEN du.day <> f.first_day AND sh.was_active IS NULL THEN 1 ELSE 0 END) AS n_resurrected
      |  FROM du JOIN f USING (user_id)
      |  LEFT JOIN sh ON sh.user_id = du.user_id AND sh.day = du.day
      |  GROUP BY du.day
      |), ch AS (
      |  SELECT sh.day, count(*) AS n_churned
      |  FROM sh LEFT JOIN du ON du.user_id = sh.user_id AND du.day = sh.day
      |  WHERE du.user_id IS NULL GROUP BY sh.day
      |), b AS (SELECT min(day) AS lo, max(day) AS hi FROM du),
      |spine AS (SELECT CAST(i AS BIGINT) AS day FROM b, unnest(range(lo, hi + 1)) t(i))
      |SELECT spine.day,
      |  CAST(coalesce(n_new, 0) AS BIGINT) AS n_new,
      |  CAST(coalesce(n_returning, 0) AS BIGINT) AS n_returning,
      |  CAST(coalesce(n_resurrected, 0) AS BIGINT) AS n_resurrected,
      |  CAST(coalesce(n_churned, 0) AS BIGINT) AS n_churned
      |FROM spine LEFT JOIN cls ON cls.day = spine.day
      |LEFT JOIN ch ON ch.day = spine.day""".stripMargin

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

  /** DuckDB twin of q80: same distinct (day, user) grid (epoch_us //
    * 86400000000 == the NTZ timestampdiff div — the q49/q54 rule),
    * same explode-to-window-days expansion, same end trim.
    */
  private def q80Sql(windowDays: Int = 7): String =
    s"""WITH du AS (
       |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events
       |), b AS (SELECT max(day) AS hi FROM du),
       |d1 AS (SELECT day, count(*) AS n_active_1d FROM du GROUP BY day),
       |ex AS (
       |  SELECT DISTINCT user_id, day + i AS wday
       |  FROM du, unnest(range(0, $windowDays)) t(i)
       |), wc AS (SELECT wday, count(*) AS n_active_win FROM ex GROUP BY wday)
       |SELECT CAST(wc.wday AS BIGINT) AS day,
       |  CAST(coalesce(d1.n_active_1d, 0) AS BIGINT) AS n_active_1d,
       |  CAST(wc.n_active_win AS BIGINT) AS n_active_win
       |FROM wc CROSS JOIN b LEFT JOIN d1 ON wc.wday = d1.day
       |WHERE wc.wday <= b.hi""".stripMargin

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

  /** DuckDB twin of q75: same synthetic robots template, same
    * relational REP parse (filtered-line lag grouping, '*' group
    * semi-join, allow/disallow rules), same q36 domain/path ladder,
    * same longest-match window (length DESC, allow-first, rule).
    */
  private def q75Sql: String = {
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

  /** DuckDB twin of q41: same tf rollup, same COUNT-window df, same
    * integer tf-over-df score and (score DESC, term) top-3 window.
    */
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

  private def q41Sql: String =
    s"""WITH we AS (
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
      |WHERE rank <= 3""".stripMargin

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

  /** DuckDB twin of q48 (HLL): same md5 bucket/rho derivation via hex
    * string ops, same dyadic 2^40 harmonic accumulation, same
    * truncation order for the alpha correction.
    */
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

  /** DuckDB twin of q58: q48's sketch with `source` added to both
    * group-bys — same register derivation per group.
    */
  private def q58Sql: String =
    s"""WITH base AS (
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
      |FROM fin""".stripMargin

  private def q48Sql: String =
    s"""WITH base AS (
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
      |FROM fin""".stripMargin

  /** DuckDB twin of q49 — deliberately an INDEPENDENT implementation:
    * DuckDB's native ASOF LEFT JOIN (greatest right ts <= left ts per
    * key) against our union+window carry-forward. Deterministic
    * because (user_id, ts) is unique in the synthetic events table.
    */
  private def q49Sql: String =
    """WITH clicks AS (
      |  SELECT event_id, user_id, ts, epoch_us(ts) AS ts_us FROM events WHERE event_type = 'click'
      |), views AS (
      |  SELECT event_id, user_id, ts, epoch_us(ts) AS ts_us, value FROM events WHERE event_type = 'view'
      |)
      |SELECT c.event_id AS l_event_id, c.user_id AS user_id,
      |  CAST(c.ts_us AS BIGINT) AS l_ts_us,
      |  v.event_id AS r_event_id,
      |  CAST(c.ts_us - v.ts_us AS BIGINT) AS lag_us,
      |  v.value AS r_value
      |FROM clicks c ASOF LEFT JOIN views v
      |  ON c.user_id = v.user_id AND c.ts >= v.ts""".stripMargin

  /** DuckDB twin of q50 (sessionize): same lag → explicit-NULL break
    * flag → running sum windows, same per-session rollup.
    */
  private def q50Sql(gapMinutes: Int = 240): String = {
    val gapUs = gapMinutes * 60L * 1000000L
    s"""WITH e AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events
       |), lagged AS (
       |  SELECT *, lag(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev_us FROM e
       |), flagged AS (
       |  SELECT *, CASE WHEN prev_us IS NULL OR ts_us - prev_us > $gapUs THEN 1 ELSE 0 END AS brk FROM lagged
       |), sess AS (
       |  SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx FROM flagged
       |)
       |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
       |  CAST(count(*) AS BIGINT) AS n_events,
       |  CAST(min(ts_us) AS BIGINT) AS start_us,
       |  CAST(max(ts_us) AS BIGINT) AS end_us,
       |  CAST(max(ts_us) - min(ts_us) AS BIGINT) AS duration_us,
       |  CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS BIGINT) AS n_clicks,
       |  CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS BIGINT) AS n_purchases
       |FROM sess GROUP BY user_id, session_idx""".stripMargin
  }

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

  /** DuckDB twin of q52: same integer-cent binning (both engines'
    * round() agrees on these data — the q1 idiom), same cumulative /
    * total windows and threshold rule.
    */
  private def q52Sql: String =
    """WITH h AS (
      |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) // 10000 AS bin, count(*) AS n
      |  FROM lineitem GROUP BY bin
      |), c AS (
      |  SELECT bin, n,
      |    sum(n) OVER (ORDER BY bin ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |    sum(n) OVER () AS total
      |  FROM h
      |)
      |SELECT CAST(max(total) AS BIGINT) AS total_n,
      |  CAST(min(CASE WHEN cum * 100 >= total * 50 THEN bin END) * 10000 AS BIGINT) AS p50_lo_c,
      |  CAST(min(CASE WHEN cum * 100 >= total * 90 THEN bin END) * 10000 AS BIGINT) AS p90_lo_c,
      |  CAST(min(CASE WHEN cum * 100 >= total * 99 THEN bin END) * 10000 AS BIGINT) AS p99_lo_c
      |FROM c""".stripMargin

  /** DuckDB twin of q53: same greedy per-stage MIN chain, same strict
    * ordering rule and stage derivation.
    */
  private def q53Sql: String =
    """WITH base AS (
      |  SELECT user_id, event_type, epoch_us(ts) AS ts_us FROM events
      |), t1 AS (
      |  SELECT user_id, min(ts_us) AS t1_us FROM base WHERE event_type = 'view' GROUP BY user_id
      |), t2 AS (
      |  SELECT b.user_id, min(ts_us) AS t2_us FROM base b JOIN t1 USING (user_id)
      |  WHERE event_type = 'click' AND ts_us > t1_us GROUP BY b.user_id
      |), t3 AS (
      |  SELECT b.user_id, min(ts_us) AS t3_us FROM base b JOIN t2 USING (user_id)
      |  WHERE event_type = 'purchase' AND ts_us > t2_us GROUP BY b.user_id
      |), u AS (
      |  SELECT DISTINCT user_id FROM events
      |)
      |SELECT u.user_id, t1_us, t2_us, t3_us,
      |  CAST(CASE WHEN t3_us IS NOT NULL THEN 3
      |            WHEN t2_us IS NOT NULL THEN 2
      |            WHEN t1_us IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS stage
      |FROM u LEFT JOIN t1 USING (user_id) LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id)""".stripMargin

  /** DuckDB twin of q54: same (user, day)-distinct activity, same
    * min-day cohorts and integer epoch-day offsets.
    */
  private def q54Sql: String =
    """WITH activity AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events
      |), f AS (
      |  SELECT user_id, min(day) AS cohort_day FROM activity GROUP BY user_id
      |)
      |SELECT CAST(cohort_day AS BIGINT) AS cohort_day,
      |  CAST(day - cohort_day AS BIGINT) AS day_offset,
      |  CAST(count(*) AS BIGINT) AS n_users
      |FROM activity JOIN f USING (user_id)
      |GROUP BY cohort_day, day - cohort_day""".stripMargin

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

  /** DuckDB twin of q60 — deliberately NOT a replay of the Spark
    * side's degree orientation: the classic a<b<c triple self-join
    * over the same (a<b)-normalized edge set counts each triangle once
    * via id order alone, an independent formulation of the same count.
    */
  private def q60Sql: String =
    s"""WITH e AS (SELECT a, b FROM (${minhashLshSql(width = 1, threshold = 0.5)}) q22),
       |tri AS (
       |  SELECT e1.a AS x, e1.b AS y, e2.b AS z
       |  FROM e e1 JOIN e e2 ON e2.a = e1.b JOIN e e3 ON e3.a = e1.a AND e3.b = e2.b
       |)
       |SELECT node, CAST(count(*) AS BIGINT) AS n_tri
       |FROM (SELECT unnest([x, y, z]) AS node FROM tri) corners
       |GROUP BY node""".stripMargin

  /** DuckDB twin of q64 — the q60 independent triple-self-join count
    * plus a degree census, folded into the same truncating-integer ppm
    * ratio (`//` floor-div == Spark `div` on the non-negative inputs).
    */
  private def q64Sql: String =
    s"""WITH e AS (SELECT a, b FROM (${minhashLshSql(width = 1, threshold = 0.5)}) q22),
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
       |FROM deg LEFT JOIN tc USING (node)""".stripMargin

  /** DuckDB twin of q65: the full q22 pair set restricted to pairs
    * with exactly one endpoint in the new batch (doc_id ≡ 0 mod 4) —
    * the value-equivalence contract of the incremental candidate
    * topology (banding + suppression + verify are shared code).
    */
  private def q65Sql: String =
    s"""SELECT a, b, jaccard
       |FROM (${minhashLshSql(width = 1, threshold = 0.5)}) q22
       |WHERE (a % 4 = 0) <> (b % 4 = 0)""".stripMargin

  /** DuckDB twin of q66: q26-style recursive transitive-closure min
    * over the q22 (width-1) pair graph, singletons labeled by their
    * own id, then the identical md5-hex split rule.
    */
  private def q66Sql: String =
    s"""WITH RECURSIVE pairs AS (SELECT a, b FROM (${minhashLshSql(width = 1, threshold = 0.5)}) q22),
       |edges AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
       |$reachSql,
       |cc AS (SELECT node, min(lab) AS component FROM reach GROUP BY node)
       |SELECT d.doc_id,
       |  CAST(coalesce(cc.component, d.doc_id) AS BIGINT) AS cluster,
       |  CASE WHEN substr(md5('split|' ||
       |      CAST(coalesce(cc.component, d.doc_id) AS VARCHAR)), 1, 1) < 'c'
       |    THEN 'train' ELSE 'val' END AS split
       |FROM documents d LEFT JOIN cc ON cc.node = d.doc_id""".stripMargin

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

  /** DuckDB twin of q61: same k md5-prefix bit slices (string buckets,
    * the q45/q48/q51 rule), same brand build set, same confusion-cell
    * rollup.
    */
  private def q61Sql(k: Int = 4, hexLen: Int = 2, brand: String = "Brand#12"): String = {
    def bitsOf(keyExpr: String) = (0 until k).map(i =>
      s"'$i:' || substr(md5('$i|' || CAST($keyExpr AS VARCHAR)), 1, $hexLen)").mkString(", ")
    s"""WITH bkey AS (SELECT DISTINCT CAST(p_partkey AS BIGINT) AS key FROM part WHERE p_brand = '$brand'),
       |bset AS (SELECT DISTINCT bit FROM (SELECT unnest([${bitsOf("key")}]) AS bit FROM bkey) bb),
       |pk AS (SELECT DISTINCT CAST(l_partkey AS BIGINT) AS key FROM lineitem),
       |pb AS (SELECT key, unnest([${bitsOf("key")}]) AS bit FROM pk),
       |hits AS (SELECT key, count(*) AS nb FROM pb JOIN bset USING (bit) GROUP BY key)
       |SELECT CAST(CASE WHEN coalesce(nb, 0) = $k THEN 1 ELSE 0 END AS BIGINT) AS bloom_pass,
       |  CAST(CASE WHEN b.key IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS is_member,
       |  CAST(count(*) AS BIGINT) AS n_keys
       |FROM pk LEFT JOIN hits USING (key) LEFT JOIN bkey b USING (key)
       |GROUP BY 1, 2""".stripMargin
  }

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

  /** DuckDB twin of q63 is the PLAIN group-by — the whole point of the
    * salted two-phase plan is that the salt cancels exactly.
    */
  private def q63Sql: String =
    """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
      |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c,
      |  CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS min_value_c,
      |  CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS max_value_c
      |FROM events GROUP BY event_type""".stripMargin

  def oracleSql: Map[String, String] = Map(
    "q60_triangle_count" -> q60Sql,
    "q61_bloom_prune" -> q61Sql(),
    "q62_pmi_cooccur" -> q62Sql(),
    "q63_salted_agg" -> q63Sql,
    "q64_clustering_coeff" -> q64Sql,
    "q65_incremental_neardup" -> q65Sql,
    "q66_leakage_split" -> q66Sql,
    "q67_budget_sample" -> q67Sql(),
    "q68_kmeans_int" -> q68Sql(),
    "q69_hop_distance" -> q69Sql(),
    "q57_chunk_sliding" -> q57Sql(window = 32, stride = 24),
    "q58_hll_by_source" -> q58Sql,
    "q59_jaccard_prefix_join" -> q59Sql(),
    "q56_pagerank" -> q56Sql(),
    "q55_temperature_mix" -> q55Sql,
    "q53_funnel" -> q53Sql,
    "q54_cohort_retention" -> q54Sql,
    "q52_price_quantiles" -> q52Sql,
    "q51_countmin_topk" -> q51Sql(),
    "q47_bm25_topk" -> q47Sql(),
    "q48_hll_trigrams" -> q48Sql,
    "q49_asof_join" -> q49Sql,
    "q50_sessionize" -> q50Sql(),
    "q39_pack_chunks" -> q39Sql(),
    "q40_bigram_lm" -> q40Sql,
    "q70_surprisal_bits" -> q70Sql,
    "q101_bigram_lm" -> q101Sql,
    "q71_kcore" -> q71Sql(),
    "q72_phrase_search" -> q72Sql(),
    "q73_crawl_schedule" -> q73Sql(),
    "q74_curation_funnel" -> q74Sql(),
    "q75_robots_filter" -> q75Sql,
    "q76_snapshot_diff" -> q76Sql,
    "q77_line_dedup" -> q77Sql(),
    "q78_priority_sample" -> q78Sql(),
    "q79_posting_blocks" -> q79Sql(),
    "q80_rolling_actives" -> q80Sql(),
    "q81_containment_join" -> q81Sql(),
    "q82_growth_accounting" -> q82Sql,
    "q83_link_graph" -> q83Sql,
    "q84_domain_pagerank" -> q84Sql(),
    "q87_trustrank" -> q87Sql(),
    "q104_hits" -> q104Sql(),
    "q106_lpa_communities" -> q106Sql(),
    "q88_template_lines" -> q88Sql(),
    "q89_main_content" -> q89Sql(),
    "q90_rendezvous_shards" -> q90Sql(),
    "q91_rdfs_closure" -> q91Sql,
    "q92_bgp_star" -> q92Sql,
    "q93_nb_classify" -> q93Sql,
    "q94_shacl_shapes" -> q94Sql,
    "q95_bgp_optional" -> q95Sql,
    "q96_property_path" -> q96Sql,
    "q97_bgp_minus" -> q97Sql,
    "q98_sameas_rewrite" -> q98Sql,
    "q102_bgp_exists" -> q102Sql,
    "q103_bgp_topk" -> q103Sql,
    "q105_bgp_aggregates" -> q105Sql,
    "q107_describe" -> q107Sql,
    "q108_bind_filter" -> q108Sql,
    "q109_subquery" -> q109Sql,
    "q110_path_seq" -> q110Sql,
    "q111_graph_quads" -> q111Sql,
    "q112_owl_entail" -> q112Sql,
    "q113_sparql_update" -> q113Sql,
    "q114_epoch_shuffle" -> q114Sql,
    "q115_owl_constraints" -> q115Sql,
    "q116_bgp_incremental" -> q116Sql,
    "q117_scc" -> q117Sql,
    "q118_bgp_retract" -> q118Sql,
    "q119_path_negated" -> q119Sql,
    "q120_graph_mgmt" -> q120Sql,
    "q121_owl_chain" -> q121Sql,
    "q122_cocitation" -> q122Sql,
    "q123_reified" -> q123Sql,
    "q124_void_stats" -> q124Sql,
    "q125_typed_literals" -> q125Sql,
    "q126_skolemize" -> q126Sql,
    "q127_graph_digest" -> q127Sql,
    "q128_canonical_bnodes" -> q128Sql,
    "q129_bgp_num_aggregates" -> q129Sql,
    "q131_sparql_strfuncs" -> q131Sql,
    "q132_graph_diff" -> q132Sql,
    "q133_kg_negatives" -> q133Sql(),
    "q134_schema_summary" -> q134Sql,
    "q135_canonical_digest" -> q135Sql,
    "q136_triple_snapshot" -> q136Sql,
    "q137_construct_bnodes" -> q137Sql,
    "q138_results_csv" -> q138Sql,
    "q139_schema_summary_delta" -> q139Sql,
    "q140_bgp_retract_projected" -> q140Sql,
    "q141_rdf_list_unroll" -> q141Sql,
    "q142_group_concat" -> q142Sql,
    "q143_ifp_entity_resolution" -> q143Sql,
    "q144_path_closure" -> q144Sql,
    "q145_microdata_extract" -> q145Sql,
    "q146_jsonld_extract" -> q146Sql,
    "q147_path_alt" -> q147Sql,
    "q148_fp_entity_resolution" -> q148Sql,
    "q149_term_functions" -> q149Sql,
    "q150_bgp_having" -> q150Sql,
    "q151_optional_filter" -> q151Sql,
    "q152_bind_coalesce" -> q152Sql,
    "q153_values_undef" -> q153Sql,
    "q154_strfuncs2" -> q154Sql,
    "q155_datetime_accessors" -> q155Sql,
    "q156_kg_fusion" -> q156Sql,
    "q157_agg_distinct" -> q157Sql,
    "q158_shacl_values" -> q158Sql,
    "q159_owl_disjoint" -> q159Sql,
    "q160_transe_rank" -> q160Sql,
    "q161_random_walks" -> q161Sql(),
    "q162_fusion_delta" -> q162Sql,
    "q163_term_constructors" -> q163Sql,
    "q164_numeric_funcs" -> q164Sql,
    "q165_describe_cbd" -> q165Sql,
    "q166_rdf_list_build" -> q166Sql,
    "q167_subquery_topk_group" -> q167Sql,
    "q168_agg_unbound" -> q168Sql,
    "q169_exists_unbound" -> q169Sql,
    "q170_rdf_star" -> q170Sql,
    "q171_owl_equiv_prop" -> q171Sql,
    "q172_interval_join" -> q172Sql,
    "q173_er_metrics" -> q173Sql,
    // q174-q176: the multimodal cross-format lane is structurally
    // predictable — surviving groups are exactly those whose two lane
    // members escape the id%16==15 corrupt-truncation, and identical
    // rasters/bytes pin hamming to 0 (video emits groups only; its
    // lossy MJPEG hamming is content-dependent). Pure arithmetic over
    // range(), no decoding — the oracle-side restatement of the
    // planted-fixture contract (the q145/q146 discipline).
    "q174_image_phash_pairs" ->
      """SELECT g, CAST(0 AS BIGINT) AS hamming
        |FROM range(0, 400) t(g)
        |WHERE (3*g) % 16 != 15 AND (3*g+1) % 16 != 15""".stripMargin,
    "q175_audio_fp_pairs" ->
      """SELECT g, CAST(0 AS BIGINT) AS hamming
        |FROM range(0, 400) t(g)
        |WHERE (3*g) % 16 != 15 AND (3*g+1) % 16 != 15""".stripMargin,
    "q176_video_phash_pairs" ->
      """SELECT g
        |FROM range(0, 400) t(g)
        |WHERE (3*g) % 16 != 15 AND (3*g+1) % 16 != 15""".stripMargin,
    "q177_ktruss" -> q177Sql(),
    "q178_link_prediction" -> q178Sql,
    "q179_zorder_layout" -> q179Sql,
    "q180_shacl_pairs" -> q180Sql,
    "q181_owl_restrictions" -> q181Sql,
    "q182_shacl_logical" -> q182Sql,
    "q183_owl_haskey" -> q183Sql,
    "q184_cc_delta" -> q184Sql,
    "q185_owl_prop_axioms" -> q185Sql,
    "q186_bisim_summary" -> q186Sql,
    "q187_link_coherence" -> q187Sql,
    "q188_interval_coalesce" -> q188Sql,
    "q189_wordpiece" -> q189Sql,
    "q211_viterbi_segment" -> q211Sql(),
    "q213_greedy_gap" -> q213Sql,
    "q190_term_order" -> q190Sql,
    "q191_rule_mining" -> q191Sql,
    "q192_eccentricity" -> q192Sql,
    "q193_degree_census" -> q193Sql,
    "q194_shacl_path" -> q194Sql,
    "q209_shacl_qualified" -> q209Sql,
    "q210_modularity" -> q210Sql,
    "q216_assortativity" -> q216Sql,
    // q195: k-anonymity equivalence classes under k=10, restated as a
    // plain HAVING; doc n_chars is never null so count(*) == count.
    "q195_k_anonymity" ->
      """SELECT source, lang, CAST(n_chars // 100 AS BIGINT) AS size_bucket,
        |  CAST(count(*) AS BIGINT) AS n
        |FROM documents GROUP BY 1, 2, 3 HAVING count(*) < 10""".stripMargin,
    // q197: per-position substring census — counts every (pattern,
    // position) match like the AC automaton (overlaps and nested
    // patterns included); the VALUES list is generated from the SAME
    // Scala constant (q36 rule).
    "q197_multi_find" -> {
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
    },
    // q198: the same contingency-identity censuses in SQL — per-key
    // group sizes, C(s,2) sums, truncating ppm (q62 rule).
    "q198_blocking_quality" ->
      """WITH it AS (SELECT DISTINCT doc_id AS id, doc_id % 150 AS gk,
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
        |FROM n, g, c, v""".stripMargin,
    // q199: observed ppm shares vs index-derived targets, full-outer
    // incl. the planted absent source; signed drift of non-negative
    // ppms (q160 subtraction regime).
    "q199_mix_drift" ->
      """WITH obs AS (SELECT source, count(*) AS n_docs FROM documents GROUP BY source),
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
        |FROM o2 FULL OUTER JOIN t ON t.source = o2.source""".stripMargin,
    // q200: the q128 first-degree chain over the twin-planted quads;
    // unique-hash bnodes rank by hash AMONG THEMSELVES (they are
    // issued first), the per-graph collision pair takes the next two
    // ids in LABEL order — sound only via the automorphism argument
    // (see the Spark-side comment). srcs/quads/fd/labeled are
    // multi-consumed → MATERIALIZED (q71 rule).
    "q200_canon_ndegree" ->
      """WITH srcs AS MATERIALIZED (SELECT DISTINCT source FROM documents),
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
        |LEFT JOIN labeled lo ON lo.g = q.g AND lo.b = q.o""".stripMargin,
    // q201: the q26 recursive-CTE CC chain with a census tail; cc is
    // multi-consumed (sizes + clustered count) → MATERIALIZED (q71
    // rule — its upstream is the whole minhash pipeline); singleton
    // row = total - clustered (CC clusters are always >= 2)
    "q201_cluster_census" ->
      s"""WITH RECURSIVE pairs AS (SELECT a, b FROM (${minhashLshSql(width = 3, threshold = 0.5)}) q17),
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
        |  CAST(csize * n_clusters AS BIGINT) AS n_docs FROM uni""".stripMargin,
    // q202: the q19 tokenizer, counts, frequency-of-frequencies
    "q202_freq_spectrum" ->
      s"""WITH toks AS (
        |  SELECT unnest($wordsSql) AS w
        |  FROM documents
        |), freq AS (SELECT w, count(*) AS f FROM toks GROUP BY w)
        |SELECT CAST(f AS BIGINT) AS f, CAST(count(*) AS BIGINT) AS n_types,
        |  CAST(f * count(*) AS BIGINT) AS n_tokens
        |FROM freq GROUP BY f""".stripMargin,
    // q203: contingency cells once, marginals joined on the label,
    // truncating ppm with the nested floor-div identity for the N²
    // denominator; kappa sign-cased so // sees non-negatives (q164).
    "q203_rater_kappa" ->
      """WITH lab AS (
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
        |FROM ppm""".stripMargin,
    // q204: the shared minhash candidate chain scored as INTEGER
    // ic/uc, swept against the unnested threshold list; gold is the
    // q198-style C(s,2) census over md5(text) groups.
    "q204_threshold_sweep" ->
      s"""WITH ${minhashCandCtes(width = 3, src = "documents")},
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
        |FROM ts LEFT JOIN sw ON sw.t_ppm = ts.t_ppm CROSS JOIN gold""".stripMargin,
    // q205: the q18 quantized-dot formulation restricted per lane
    // (same label = positives, min-dot rank; other labels =
    // negatives, max-dot rank), (dot, cand_id) tiebreaks both sides.
    "q205_triplet_mining" ->
      """WITH qv AS (
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
        |FROM pos p JOIN neg n ON n.query_id = p.query_id""".stripMargin,
    // q206: the q186 set-key discipline — ordered string_agg over the
    // (s, p) DISTINCT subselect, never string_agg(DISTINCT ...).
    "q206_char_sets" ->
      s"""WITH spo AS (
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
        |FROM cs JOIN nt ON nt.s = cs.s GROUP BY cset""".stripMargin,
    // q207: lag over (user, ts) — unique ordering key (q49 rule);
    // row-normalized ppm via the window sum, truncating // (q62).
    "q207_markov_transitions" ->
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev_type
        |  FROM events),
        |c AS (SELECT prev_type, event_type AS next_type, count(*) AS n
        |      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, CAST(n AS BIGINT) AS n,
        |  CAST(n * 1000000 // sum(n) OVER (PARTITION BY prev_type) AS BIGINT) AS p_ppm
        |FROM c""".stripMargin,
    // q208: the q80 NTZ-epoch day, value-RANGE trailing frame (both
    // engines frame by DAY VALUE, so gaps behave identically),
    // ratio-to-trailing-mean in truncating ppm.
    "q208_burst_detect" ->
      """WITH daily AS (
        |  SELECT event_type,
        |         epoch_us(ts) // 86400000000 AS day, count(*) AS n
        |  FROM events GROUP BY 1, 2),
        |tr AS (
        |  SELECT event_type, day, n,
        |         sum(n) OVER (PARTITION BY event_type ORDER BY day
        |                      RANGE BETWEEN 3 PRECEDING AND 1 PRECEDING) AS trail
        |  FROM daily)
        |SELECT event_type, CAST(day AS BIGINT) AS day, CAST(n AS BIGINT) AS n,
        |  CAST(trail AS BIGINT) AS trail,
        |  CAST(n * 3 * 1000000 // trail AS BIGINT) AS burst_ppm,
        |  CAST(CASE WHEN n * 3 * 1000000 // trail >= 1500000 THEN 1 ELSE 0 END AS BIGINT) AS is_burst
        |FROM tr WHERE trail IS NOT NULL AND trail > 0""".stripMargin,
    // q196: GROUP BY ROLLUP — subtotal NULL markers match Spark's
    // rollup; HUGEINT sum cast back to BIGINT (q70 rule).
    "q196_rollup_census" ->
      """SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_sum
        |FROM documents GROUP BY ROLLUP (source, lang)""".stripMargin,
    "q99_bgp_union_values" -> q99Sql,
    "q100_construct" -> q100Sql,
    "q85_anchor_terms" -> q85Sql(),
    "q86_source_percentile" -> q86Sql,
    "q41_tfidf_topk" -> q41Sql,
    "q45_dsir_score" -> q45Sql(),
    "q42_quality_filter" -> q42Sql(),
    "q43_source_overlap" -> q43Sql,
    "q38_dedup_rewrite" -> q38Sql(),
    "q36_url_canon" -> q36Sql,
    "q37_domain_stats" -> q37Sql,
    "q35_normalize" -> q35Sql,
    "q34_dup_spans" -> q34Sql(),
    "q32_cluster_rep" -> q32Sql,
    "q33_pii_mask" -> q33Sql,
    "q29_repetition" -> q29Sql,
    "q30_stratified_sample" -> q30Sql,
    "q31_decontam" -> q31Sql(),
    "q28_embedding_lsh_md5" -> q28Sql(),
    "q44_semdedup" -> q44Sql(),
    "q46_pq_adc" -> q46Sql(),
    "q16_simhash_md5" -> q16Sql,
    "q17_minhash_pairs_md5" -> minhashLshSql(width = 3, threshold = 0.5),
    // transitive-closure CC: the recursive CTE computes every label
    // reachable from each node; min per node == the component minimum,
    // exactly what the Spark side's min-label propagation converges to
    "q26_connected_components" ->
      s"""WITH RECURSIVE pairs AS (SELECT a, b FROM (${minhashLshSql(width = 3, threshold = 0.5)}) q17),
        |edges AS (SELECT a, b FROM pairs UNION SELECT b AS a, a AS b FROM pairs),
        |$reachSql
        |SELECT node, min(lab) AS component FROM reach GROUP BY node""".stripMargin,
    "q27_embedding_dot_norms" ->
      """WITH qv AS (
        |  SELECT vec_id, list_transform(embedding, e -> CAST(round(CAST(e AS DOUBLE) * 1000000) AS BIGINT)) AS v
        |  FROM embeddings WHERE vec_id < 40
        |)
        |SELECT l.vec_id AS a, r.vec_id AS b,
        |  CAST(list_sum(list_transform(range(1, len(l.v)+1), i -> l.v[i] * r.v[i])) AS BIGINT) AS dot,
        |  CAST(list_sum(list_transform(l.v, x -> x * x)) AS BIGINT) AS n2a,
        |  CAST(list_sum(list_transform(r.v, x -> x * x)) AS BIGINT) AS n2b
        |FROM qv l, qv r WHERE l.vec_id < r.vec_id""".stripMargin,
    "q214_cdc_chunks" -> q214Sql(),
    "q217_cdc_summary" -> q217Sql,
    // independent ALL-PAIRS formulation over the identically augmented
    // word set (vocabulary-sized — fine oracle-side; the Spark side's
    // deletion blocking is the scale path): both engines' levenshtein
    // is the classic unweighted DP, integer-equal
    "q215_edit1_pairs" ->
      """WITH w0 AS (
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
        |WHERE levenshtein(a.word, b.word) <= 1""".stripMargin,
    // independent relational formulation (unnest + two aggregates) of
    // the Spark side's row-local lambda census; the error expression
    // carries IDENTICAL parenthesization both sides (the q47
    // left-to-right div rule) and every operand is non-negative (the
    // q62 // == div regime)
    "q212_int8_quant" ->
      """WITH x AS (
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
        |GROUP BY x.vec_id, s.dim, s.scale""".stripMargin,
    "q21_simhash_pairs_md5" -> q21Sql,
    "q22_wordset_lsh_md5" -> minhashLshSql(width = 1, threshold = 0.5),
    "q23_ntriples_sink_docs" -> q23Sql,
    "q130_nquads_sink_docs" -> q130Sql,
    // whitespace spelled as an explicit class (java \s includes \x0B,
    // RE2 \s does not); coalesce matches the Spark side's NULL → 0
    "q24_bpe_pretoken" ->
      """SELECT doc_id,
        |  CAST(coalesce(len(regexp_extract_all(text, '(''s|''t|''re|''ve|''m|''ll|''d| ?\p{L}+| ?\p{N}+| ?[^ \t\n\x0B\f\r\p{L}\p{N}]+|[ \t\n\x0B\f\r]+)')), 0) AS BIGINT) AS bpe_tokens
        |FROM documents""".stripMargin,
    // the alternation is generated from the same checked-in merges
    // resource the Spark side loads — DuckDB segments independently
    "q25_bpe_vocab_subwords" ->
      s"""SELECT doc_id,
        |  ${subwordCountSql(Bpe.trainedVocabPattern)} AS bpe_subwords
        |FROM documents""".stripMargin,
    "q18_ann_brute_int" ->
      """WITH qv AS (
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
        |) WHERE rank <= 5""".stripMargin,
    "q19_entity_link_docs" ->
      s"""WITH toks AS (
        |  SELECT doc_id, unnest($wordsSql) AS token
        |  FROM documents
        |), aliases AS (SELECT DISTINCT token FROM toks WHERE length(token) >= 8),
        |links AS (
        |  SELECT doc_id, token, count(*) AS n
        |  FROM toks JOIN aliases USING (token) GROUP BY doc_id, token
        |)
        |SELECT doc_id, 'http://ex/' || token AS entity, n, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY n DESC, token) AS rank FROM links
        |) WHERE rank <= 3""".stripMargin,
    "q20_ntriples_escape" ->
      """SELECT doc_id,
        |  '<http://ex/doc/' || doc_id || '> <http://ex/text> "' ||
        |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(
        |    text || chr(10) || chr(34) || chr(92),
        |    '\\', '\\\\', 'g'), '"', '\\"', 'g'), chr(10), '\\n', 'g'), chr(13), '\\r', 'g')
        |  || '" .' AS line
        |FROM documents""".stripMargin,
    "q1_pricing_summary" ->
      """SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_price_c,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS sum_disc_price_cc,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin,
    "q2_revenue_by_nation" ->
      """SELECT n_name, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_c, count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin,
    "q3_priority_counts" ->
      "SELECT o_orderpriority, count(*) AS n FROM orders WHERE o_totalprice > 100.0 GROUP BY o_orderpriority",
    "q4_anti_join" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)""".stripMargin,
    "q5_brand_volume" ->
      """SELECT p_brand, CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS total_qty_c, count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand""".stripMargin,
    "q6_events_latest" ->
      """SELECT user_id, event_type, event_id AS latest_event FROM (
        |  SELECT user_id, event_type, event_id,
        |         row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin,
    "q7_events_by_type" ->
      """SELECT event_type, count(*) AS n, round(min(value), 4) AS min_value, round(max(value), 4) AS max_value
        |FROM events GROUP BY event_type""".stripMargin,
    "q8_dedup_exact" ->
      s"""SELECT $fingerprintSql AS fp,
        |       min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    "q9_token_stats" ->
      s"""SELECT doc_id,
        |  $tokenCountSql AS tokens,
        |  ${subwordCountSql(TextOps.subwordPattern)} AS subwords
        |FROM documents""".stripMargin,
    "q10_quality" -> s"SELECT doc_id, $q10QualityExpr AS quality\nFROM documents",
    "q11_langid" ->
      """SELECT doc_id,
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
        |FROM documents""".stripMargin,
    "q12_fingerprint" ->
      s"""SELECT doc_id, $fingerprintSql AS fp FROM documents""",
    "q13_ngram_jaccard" ->
      s"""WITH toks AS (
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
        |WHERE ic::DOUBLE / (sa.sz + sb.sz - ic) >= 0.5""".stripMargin,
    "q14_embedding_label_stats" ->
      """SELECT label, count(*) AS n, round(CAST(max(embedding[1]) AS DOUBLE), 4) AS max_first
        |FROM embeddings GROUP BY label""".stripMargin,
    "q15_events_window" ->
      """SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n, round(max(value), 4) AS max_value
        |FROM events GROUP BY 1, 2""".stripMargin
  )
}
