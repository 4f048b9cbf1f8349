package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import BroadcastGate.broadcastIfSmall
import org.apache.spark.sql.Column

/** Approximate-nearest-neighbor search over an embedding column
  * (Array[Float]).
  *
  *   - bruteCosine: exact top-k for a bounded query set — the query side
  *     is broadcast, the corpus side streams (one pass, no shuffle of the
  *     big table). The cosine kernel is zip_with + aggregate: codegen'd.
  *   - lshCosine: the scale path — random-hyperplane LSH (sign sketches
  *     from seeded per-dimension weights) bucket candidates, exact
  *     cosine re-rank inside buckets only.
  */
object Similarity {

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0d), (acc, v) => acc + v)

  def norm(a: Column): Column =
    sqrt(aggregate(a, lit(0.0d), (acc, v) => acc + v * v))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Exact top-k neighbors for each query vector. `queries` must be small
    * (broadcast side); corpus scales arbitrarily.
    */
  def bruteCosine(corpus: DataFrame, queries: DataFrame, k: Int = 5): DataFrame = {
    val c = corpus.select(col("vec_id").as("corpus_id"), col("embedding").as("cvec"))
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val scored = c.join(broadcast(q), col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"),
        round(cosine(col("cvec"), col("qvec")), 6).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos").desc, col("corpus_id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** Cross-engine-exact brute-force top-k: embeddings quantized to
    * integer milli-units per dimension, ranked by exact integer dot
    * product (ties broken by corpus_id) — bit-identical across engines,
    * so the whole broadcast-join + window top-k plan is DuckDB
    * oracle-checkable, unlike FP cosine whose summation order varies.
    * Same plan shape as [[bruteCosine]] (query side broadcast, corpus
    * streams).
    */
  def bruteDotInt(corpus: DataFrame, queries: DataFrame, k: Int = 5): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    def quantize(c: Column) = transform(c, e => round(e.cast("double") * 1000).cast("bigint"))
    val q = queries.select(col("vec_id").as("query_id"), quantize(col("embedding")).as("qv"))
    val c = corpus.select(col("vec_id").as("corpus_id"), quantize(col("embedding")).as("cv"))
    // codegen'd kernel (interpreted zip_with/aggregate measured ~50µs/
    // pair); element 0 is the dot — identical integer value
    val scored = c.join(broadcast(q), col("corpus_id") =!= col("query_id"))
      .select(col("query_id"), col("corpus_id"),
        expr("int_vec_dot_norms(qv, cv)").getItem(0).as("dot"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("dot").desc, col("corpus_id"))
    scored.withColumn("rank", row_number().over(w).cast("bigint")).where(col("rank") <= k)
  }

  /** Deterministic pseudo-random hyperplane weight for (dim, plane):
    * hash-derived in [-1, 1] — no RNG state, stable across retries.
    */
  private def weight(dimIdx: Column, plane: Int): Column =
    (pmod(xxhash64(dimIdx, lit(plane)), lit(2000001L)) - 1000000L).cast("double") / 1000000.0d

  /** All `tables` sketch buckets per vector, computed RELATIONALLY:
    * posexplode the embedding once, project every (table, plane) in one
    * map-side-combinable groupBy of codegen'd expressions. The array-
    * lambda formulation (zip_with/aggregate per plane) is interpreted,
    * not codegen'd — measured ~1.3ms/vector for 24 planes. Projections
    * are quantized to integer micro-units before summing so the
    * aggregation is order-independent → bucket assignment stays
    * deterministic under retries/repartitioning (FP sums are not).
    */
  private def sketch(corpus: DataFrame, planes: Int, tables: Int): DataFrame = {
    // the table tag occupies bit 40+; a plane count >= 40 would overlap
    // the sign bits with the tag and silently merge buckets across
    // tables (round-2 ADVICE)
    require(planes > 0 && planes < 40, s"planes must be in [1, 39], got $planes")
    require(tables > 0, s"tables must be positive, got $tables")
    val expl = corpus.select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim", "v")))
    val projCols = (0 until tables * planes).map { p =>
      sum(round(col("v").cast("double") * weight(col("dim"), p) * 1000000L).cast("bigint")).as(s"p$p")
    }
    val proj = expl.groupBy(col("vec_id")).agg(projCols.head, projCols.tail: _*)
    val bucketCols = (0 until tables).map { t =>
      (0 until planes).map { pp =>
        when(col(s"p${t * planes + pp}") >= 0, lit(1L << pp)).otherwise(0L)
      }.reduce((a, b) => a + b) + lit(t.toLong << 40)
    }
    proj.select(
      col("vec_id"),
      posexplode(array(bucketCols: _*)).as(Seq("table", "bucket")))
  }

  /** Hot-bucket suppression — a degenerate bucket costs |bucket|^2 join
    * rows; similar vectors recur in other tables' buckets anyway.
    */
  private def suppressHot(sketched: DataFrame, maxBucket: Int): DataFrame = {
    // the sketch aggregation feeds the hot census AND (via the anti-
    // join) both sides of the candidate join — materialize it once
    // (eager localCheckpoint: reference-tracked blocks, no CacheManager
    // pinning; same census rationale as Dedup.minhashLsh)
    val sk = sketched.localCheckpoint(true)
    val hot = sk.groupBy(col("table"), col("bucket"))
      .agg(count(lit(1)).as("n")).where(col("n") > maxBucket)
      .select(col("table"), col("bucket"))
    sk.join(broadcast(hot), Seq("table", "bucket"), "left_anti")
  }

  /** Quantized-cosine scoring of id pairs against a vector corpus via
    * the codegen'd [[graft.functions.IntVecDotNorms]] kernel: vectors
    * quantized ONCE to packed integer micro-unit arrays, joined to the
    * pair table by id (one narrow row per pair side), dot + both norms
    * in a single whole-stage-codegen pass per pair. Integer arithmetic
    * → order-independent, bit-identical under retries/repartitioning.
    *
    * Evolution note (round 3): the previous per-dimension explode-join-
    * groupBy shape shipped |pairs|×dims rows through two shuffles; the
    * packed form ships one ~8·dims-byte array per pair side (~2.5× less
    * volume), no per-dim rows, no pair groupBy — the interpreted-lambda
    * trap it was originally avoiding doesn't apply to a custom
    * Expression with doGenCode. Shared verify kernel of [[lshCosine]]
    * and [[embeddingNearDup]]. `corpus` must be a scan or a
    * materialized frame (the broadcast gate counts it).
    */
  private def relationalCosine(pairs: DataFrame, corpus: DataFrame, l: String, r: String): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val packed0 = corpus.select(col("vec_id"),
      transform(col("embedding"), e => round(e.cast("double") * 1000000L).cast("bigint")).as("qv"))
    // §3.1 scale-adaptive: the packed-vector table broadcasts into
    // both verify legs when its row count (the corpus scan's, a
    // metadata-cheap parquet count) says it fits — the candidate pair
    // stream then flows through two hash joins and the codegen kernel
    // without an exchange. The cap is conservative because rows carry
    // the packed array payload; above it both joins fall back to the r5
    // shuffle plan. (The same shape as Dedup.md5JaccardVerify's r6 note.)
    val packed = broadcastIfSmall(packed0, 200000L)
    pairs
      .join(packed.select(col("vec_id").as(l), col("qv").as("ql")), Seq(l))
      .join(packed.select(col("vec_id").as(r), col("qv").as("qr")), Seq(r))
      .select(col(l), col(r), expr("int_vec_dot_norms(ql, qr)").as("dnn"))
      .select(col(l), col(r),
        round(col("dnn").getItem(0).cast("double") /
          (sqrt(col("dnn").getItem(1).cast("double")) * sqrt(col("dnn").getItem(2).cast("double"))), 6).as("cos"))
  }

  /** ANN via random-hyperplane LSH: same-bucket candidates (over
    * `tables` independent sketch tables) re-ranked by quantized cosine.
    * Bucket join replaces the all-pairs product — the 100 TB path.
    *
    * `probeRadius = 1` enables MULTI-PROBE (Lv et al., VLDB 2007): the
    * query side also visits every bucket at Hamming distance 1 (each
    * single sign-bit flip of its own bucket), implemented as a
    * (planes+1)-row explode on the query leg only — the corpus leg
    * stays exact, and the equi-join on (table, probed bucket) reaches
    * every pair whose buckets differ by <= 1 bit. Why this is the
    * low-threshold fix: at cos ~0.6 the per-plane agreement p ~ 0.7,
    * so exact 8-plane/3-table collisions recall ~17% with 256 fat
    * buckets per table — the SAME recall comes from 12 planes x 2
    * tables with radius-1 probing (p^12 + 12 p^11 (1-p) per table) at
    * ~half the candidate volume and 16x smaller buckets, which is what
    * tames the |bucket|^2 blowup on skewed (fat-bucket) corpora.
    */
  def lshCosine(corpus: DataFrame, k: Int = 5, planes: Int = 8, tables: Int = 3,
                maxBucket: Int = 1000, probeRadius: Int = 0): DataFrame = {
    require(probeRadius == 0 || probeRadius == 1, s"probeRadius must be 0 or 1, got $probeRadius")
    // id-only bucket join + pair dedup BEFORE the exact re-rank; the
    // re-rank is the relational quantized-cosine kernel
    val sketched = suppressHot(sketch(corpus, planes, tables), maxBucket)
    val ids = sketched.select(col("table"), col("bucket"), col("vec_id"))
    val l =
      if (probeRadius == 0) ids.select(col("table"), col("bucket"), col("vec_id").as("query_id"))
      else {
        // flip masks: 0 (the exact bucket) + one per plane; the table
        // tag lives in bits 40+ so single-bit flips below bit 40 can
        // never cross tables
        val flips = lit(0L) +: (0 until planes).map(i => lit(1L << i))
        ids.select(col("table"),
          explode(array(flips: _*)).as("flip"), col("bucket"), col("vec_id"))
          .select(col("table"), col("bucket").bitwiseXOR(col("flip")).as("bucket"),
            col("vec_id").as("query_id"))
      }
    val r = ids.select(col("table"), col("bucket"), col("vec_id").as("corpus_id"))
    val candIds = l.join(r, Seq("table", "bucket"))
      .where(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"))
      .distinct()
    val scored = relationalCosine(candIds, corpus, "query_id", "corpus_id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos").desc, col("corpus_id"))
    scored.withColumn("rank", row_number().over(w)).where(col("rank") <= k)
  }

  /** IVF (inverted-file) ANN — the other classic scale path besides
    * LSH: a KMeans coarse quantizer (nLists centroids, fixed seed)
    * partitions the corpus into lists; each query probes its `nProbe`
    * nearest centroids and exact-cosine re-ranks ONLY those lists'
    * vectors. Corpus-side work is one assignment pass + a list-key
    * join; the centroid table is tiny and broadcast. At 100 TB the
    * assigned corpus would be written bucketed by `list` so probes read
    * only matching buckets. Training uses MLlib KMeans (Euclidean, the
    * standard IVF quantizer; with roughly-normalized embeddings the
    * list structure matches cosine neighborhoods).
    */
  def ivfCosine(corpus: DataFrame, queries: DataFrame, k: Int = 5, nLists: Int = 32,
                nProbe: Int = 4, seed: Long = 42L, trainCap: Long = 100000L,
                trainMod: Long = 0L): DataFrame = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val spark = corpus.sparkSession
    import spark.implicits._
    val train = corpus.select(
      col("vec_id"), col("embedding"),
      array_to_vector(col("embedding").cast("array<double>")).as("features"))
    // SAMPLING CONTRACT: the coarse quantizer trains on at most ~trainCap
    // vectors — KMeans centroids converge on a bounded sample regardless
    // of corpus size, and a full-corpus fit is a scale-killer at 100 TB.
    // ASSIGNMENT below stays full-corpus. Hash-mod sampling (not
    // .sample()) so the trained model is deterministic across retries.
    //
    // The sampling modulus comes WITHOUT a count() pre-pass (a full
    // corpus scan before any work — the round-3 scale nit). Priority:
    // caller-supplied `trainMod` (derive it from table metadata, e.g.
    // an Iceberg snapshot's record count / trainCap; 0 = auto), else
    // the optimizer's row-count statistic (CBO — free), else a
    // conservative estimate from the plan's sizeInBytes at 64 B/row —
    // real embedding rows are larger, so rows are OVERestimated, the
    // modulus overshoots, and the sample only ever SHRINKS below the
    // cap: KMeans quality degrades gracefully, the cap guarantee never
    // breaks, and assignment correctness never depends on it.
    val mod: Long =
      if (trainMod > 0) trainMod
      else {
        val stats = corpus.queryExecution.optimizedPlan.stats
        val estRows: BigInt = stats.rowCount.getOrElse(stats.sizeInBytes / 64)
        math.max(1L, ((estRows + trainCap - 1) / trainCap).toLong)
      }
    val trainSample =
      if (mod <= 1) train
      else
        // deterministic non-empty floor: a wildly-overshooting modulus
        // on a tiny corpus of huge rows could hash-mod every row away,
        // and KMeans.fit on an empty set throws
        train.where(pmod(xxhash64(col("vec_id")), lit(mod)) === 0L)
          .union(train.limit(nLists))
    val model = new KMeans().setK(nLists).setSeed(seed).setMaxIter(10)
      .setFeaturesCol("features").setPredictionCol("list").fit(trainSample)
    val assigned = model.transform(train)
      .select(col("vec_id").as("corpus_id"), col("list"), col("embedding").as("cvec"))
    val centroids = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray.map(_.toFloat)) }
      .toSeq.toDF("list", "centroid")
    // probe: rank centroids per query (queries are a bounded set, the
    // centroid side is tiny — broadcast both ways is fine)
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("qvec"))
    val probeW = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cdist").desc, col("list"))
    val probed = q.join(broadcast(centroids), lit(true))
      .select(col("query_id"), col("qvec"), col("list"),
        cosine(col("qvec"), col("centroid")).as("cdist"))
      .withColumn("pr", row_number().over(probeW))
      .where(col("pr") <= nProbe)
      .select(col("query_id"), col("qvec"), col("list"))
    // exact re-rank inside the probed lists only
    val scored = probed.join(assigned, Seq("list"))
      .where(col("query_id") =!= col("corpus_id"))
      .select(col("query_id"), col("corpus_id"),
        round(cosine(col("qvec"), col("cvec")), 6).as("cos"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos").desc, col("corpus_id"))
    scored.withColumn("rank", row_number().over(w).cast("bigint")).where(col("rank") <= k)
  }

  /** Cross-engine-exact twin of the embedding-LSH near-dup CANDIDATE
    * path ([[sketch]] → suppress → bucket-join → verify), replayable in
    * ANSI SQL end to end — the q16/q17 md5 technique applied to
    * hyperplane LSH:
    *
    *   - hyperplane weights are Rademacher signs (±1) derived from
    *     md5("<plane>|<dim>") (first hex nibble ≥ '8' → +1) — a valid
    *     random-hyperplane family, and bit-identical in any engine
    *     with md5;
    *   - vectors quantize to integer micro-units, so each projection
    *     is an exact integer sum (order-independent — FP summation
    *     order would differ between engines);
    *   - bucket = sign-bit pack + table tag, hot buckets suppressed,
    *     candidate pairs deduped before verification (same transport
    *     discipline as the production path);
    *   - verify emits the codegen'd [[graft.functions.IntVecDotNorms]]
    *     integers (dot, |a|², |b|²) and thresholds on cosine ≥ num/den
    *     RATIONALLY: dot ≥ 0 ∧ den²·dot² ≥ num²·n2a·n2b in exact
    *     decimal — no FP division anywhere in the output.
    *
    * The production [[embeddingNearDup]] keeps the cheaper xxhash64
    * weights; this twin pins the whole bucket pipeline value-exact
    * against the DuckDB oracle (q28).
    */
  def embeddingNearDupMd5(corpus: DataFrame, thresholdNum: Long = 2, thresholdDen: Long = 5,
                          planes: Int = 6, tables: Int = 4, maxBucket: Int = 200): DataFrame = {
    require(planes > 0 && planes < 12, s"planes must fit the 4096 table stride, got $planes")
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val nPlanes = planes * tables
    val quant = corpus.select(col("vec_id"),
      transform(col("embedding"), e => round(e.cast("double") * 1000000L).cast("bigint")).as("qv"))
    // relational projections: explode once, all (table, plane) sums in
    // one map-side-combinable groupBy of codegen'd expressions (array
    // lambdas per plane would run interpreted — see CLAUDE.md)
    val expl = corpus
      .select(col("vec_id"), posexplode(col("embedding")).as(Seq("dim0", "e")))
      .select(col("vec_id"), (col("dim0") + 1).cast("string").as("d"),
        round(col("e").cast("double") * 1000000L).cast("bigint").as("v"))
    val projCols = (0 until nPlanes).map { p =>
      sum(when(substring(md5(concat(lit(s"$p|"), col("d"))), 1, 1) >= "8", col("v"))
        .otherwise(-col("v"))).as(s"p$p")
    }
    val proj = expl.groupBy(col("vec_id")).agg(projCols.head, projCols.tail: _*)
    val bucketCols = (0 until tables).map { t =>
      (0 until planes).map { pp =>
        when(col(s"p${t * planes + pp}") >= 0, lit(1L << pp)).otherwise(lit(0L))
      }.reduce(_ + _) + lit(t.toLong * 4096L)
    }
    val banded0 = proj.select(col("vec_id"),
      posexplode(array(bucketCols: _*)).as(Seq("tbl", "bucket")))
      .localCheckpoint(true) // 3 consumers — see suppressHot rationale
    val hot = banded0.groupBy(col("tbl"), col("bucket"))
      .agg(count(lit(1)).as("n")).where(col("n") > maxBucket)
      .select(col("tbl"), col("bucket"))
    val banded = banded0.join(broadcast(hot), Seq("tbl", "bucket"), "left_anti")
    val candIds = banded.select(col("tbl"), col("bucket"), col("vec_id").as("a"))
      .join(banded.select(col("tbl"), col("bucket"), col("vec_id").as("b")), Seq("tbl", "bucket"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"))
      .distinct()
    val dnn = candIds
      .join(quant.select(col("vec_id").as("a"), col("qv").as("qa")), Seq("a"))
      .join(quant.select(col("vec_id").as("b"), col("qv").as("qb")), Seq("b"))
      .select(col("a"), col("b"), expr("int_vec_dot_norms(qa, qb)").as("dnn"))
      .select(col("a"), col("b"),
        col("dnn").getItem(0).as("dot"),
        col("dnn").getItem(1).as("n2a"),
        col("dnn").getItem(2).as("n2b"))
    val d = col("dot").cast("decimal(19,0)")
    dnn.where(col("dot") >= 0 &&
        d * d * lit(thresholdDen * thresholdDen) >=
          col("n2a").cast("decimal(19,0)") * col("n2b").cast("decimal(19,0)") *
            lit(thresholdNum * thresholdNum))
      .select(col("a"), col("b"), col("dot"), col("n2a"), col("n2b"))
  }

  /** SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    * cluster the embedding space coarsely, then prune near-duplicates
    * WITHIN each cluster only — the cluster partition replaces the
    * all-pairs product, the published scale recipe for embedding-level
    * dedup of web corpora (k grows with the corpus so cluster sizes
    * stay bounded; each cluster's pair join is then local to one
    * shuffle partition).
    *
    * This is the cross-engine-exact variant (q44), every stage
    * replayable in ANSI SQL — the q28 technique applied to clustering:
    *
    *   - the coarse quantizer is k deterministic MEDOIDS — the k
    *     vectors with the lexicographically smallest
    *     `md5(vec_id)` (a seedless uniform draw, engine-identical);
    *     the production path would train MLlib KMeans ([[ivfCosine]])
    *     — medoid assignment has the same join/broadcast shape;
    *   - assignment is argmax-cosine over the k medoids in EXACT
    *     integer arithmetic: milli-unit quantized dot products, the
    *     doc-side norm cancels (common factor), and the medoid-side
    *     comparison cos_i > cos_j replays rationally sign-aware as
    *     dot_i²·|m_j|² vs dot_j²·|m_i|² (ties → smaller medoid id) via
    *     a self anti-join ("no strictly better medoid exists") — k²
    *     comparisons per doc, k tiny, no FP anywhere;
    *   - the within-cluster prune is the q28 rational-threshold verify
    *     (micro-unit [[graft.functions.IntVecDotNorms]]; cos ≥ num/den
    *     ⇔ dot ≥ 0 ∧ den²·dot² ≥ num²·n2a·n2b in exact decimal);
    *     a doc is dropped when a same-cluster, lower-id doc is within
    *     the threshold (the greedy keep-first survivor rule of the
    *     SemDeDup reference implementation).
    *
    * Output: one row per vector — (vec_id, cluster = medoid's vec_id,
    * keep ∈ {0,1}).
    */
  def semDedupMd5(corpus: DataFrame, k: Int = 8, thresholdNum: Long = 2,
                  thresholdDen: Long = 5): DataFrame = {
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    // micro-units for the prune threshold (q28 headroom analysis),
    // milli-units for the argmax (dot² · norm² must fit decimal(38):
    // milli keeps it ≤ ~1e22 at 64 dims)
    val quant = corpus.select(col("vec_id"),
        transform(col("embedding"), e => round(e.cast("double") * 1000000L).cast("bigint")).as("qv"),
        transform(col("embedding"), e => round(e.cast("double") * 1000L).cast("bigint")).as("mv"))
      .localCheckpoint(true) // 3 consumers: medoid pick, assignment, prune
    val med = quant
      .orderBy(md5(col("vec_id").cast("string").cast("binary")), col("vec_id"))
      .limit(k)
      .select(col("vec_id").as("med_id"), col("mv").as("medv"))
    // corpus × k medoids: intentional bounded broadcast nested loop
    // (the IVF-centroid shape); dnn = (dot, |doc|², |medoid|²)
    val scored = quant.select(col("vec_id"), col("mv"))
      .join(broadcast(med), lit(true))
      .select(col("vec_id"), col("med_id"),
        expr("int_vec_dot_norms(mv, medv)").as("dnn"))
      .select(col("vec_id"), col("med_id"),
        col("dnn").getItem(0).as("dt"), col("dnn").getItem(2).as("m2"))
      .localCheckpoint(true) // both sides of the argmax anti-join
    // rational sign-aware "medoid s2 strictly beats medoid s1 for this
    // doc" — a strict total order, so exactly one row survives per doc
    def sq(c: Column) = c.cast("decimal(19,0)") * c.cast("decimal(19,0)")
    val s1 = scored.as("s1")
    val s2 = scored.select(col("vec_id").as("v2"), col("med_id").as("med2"),
      col("dt").as("dt2"), col("m2").as("m22"))
    val l2 = sq(col("dt2")) * col("m2").cast("decimal(19,0)")
    val r2 = sq(col("dt")) * col("m22").cast("decimal(19,0)")
    val beats =
      (col("dt2") >= 0 && col("dt") < 0) ||
        (col("dt2") >= 0 && col("dt") >= 0 && l2 > r2) ||
        (col("dt2") < 0 && col("dt") < 0 && l2 < r2) ||
        ((col("dt2") >= 0) === (col("dt") >= 0) && l2 === r2 && col("med2") < col("med_id"))
    val assigned = s1.join(s2, col("v2") === col("vec_id") && beats, "left_anti")
      .select(col("vec_id"), col("med_id"))
    // within-cluster prune: same-cluster ordered pairs through the
    // micro-unit kernel; rational threshold; greedy keep-first
    val pa = assigned.select(col("vec_id").as("a"), col("med_id"))
    val pb = assigned.select(col("vec_id").as("b"), col("med_id"))
    val dn = pa.join(pb, Seq("med_id")).where(col("a") < col("b"))
      .join(quant.select(col("vec_id").as("a"), col("qv").as("qa")), Seq("a"))
      .join(quant.select(col("vec_id").as("b"), col("qv").as("qb")), Seq("b"))
      .select(col("b"), expr("int_vec_dot_norms(qa, qb)").as("dnn"))
      .select(col("b"), col("dnn").getItem(0).as("dot"),
        col("dnn").getItem(1).as("n2a"), col("dnn").getItem(2).as("n2b"))
    val d = col("dot").cast("decimal(19,0)")
    val dropped = dn.where(col("dot") >= 0 &&
        d * d * lit(thresholdDen * thresholdDen) >=
          col("n2a").cast("decimal(19,0)") * col("n2b").cast("decimal(19,0)") *
            lit(thresholdNum * thresholdNum))
      .select(col("b")).distinct()
    assigned.join(dropped, col("vec_id") === col("b"), "left_outer")
      .select(col("vec_id"), col("med_id").as("cluster"),
        when(col("b").isNull, 1L).otherwise(0L).as("keep"))
  }

  /** Product-quantization ANN with asymmetric distance computation
    * (Jégou et al. 2011, "Product Quantization for Nearest Neighbor
    * Search") — the published MEMORY-bounded scale path: each vector is
    * compressed to `m` small codes (here 4 bytes for a 64-dim vector, a
    * 64× reduction), and queries score candidates through a tiny
    * per-query lookup table instead of touching raw vectors. At 100 TB
    * the corpus-resident state is the code table, not the embeddings.
    *
    * Cross-engine-exact variant (q46), assembled from proven pieces:
    *   - codebooks: the `codebookSize` md5-smallest vectors (the q44
    *     deterministic-medoid draw) donate their subvectors as
    *     codewords — the production path would train per-subspace
    *     KMeans ([[ivfCosine]] shape) with identical joins;
    *   - encoding: per (vector, subspace), the argmin-squared-L2
    *     codeword in exact milli-unit integers (d² = |a|² + |b|² − 2ab
    *     off the [[graft.functions.IntVecDotNorms]] kernel), ties → the
    *     smaller code, via a row_number window — replayed verbatim by
    *     the oracle;
    *   - ADC: per-query partial dots against all m·codebookSize
    *     codewords (the LUT, ≤ queries·32 rows, BROADCAST), summed per
    *     (query, vector) in one map-side-combinable groupBy; top-k by
    *     (approx dot, corpus_id) window.
    *
    * Plan shape: the corpus is touched by exactly one subvector
    * explode (m rows per vector) joined to the broadcast codebook on
    * the subspace key — equi-joins only, no nested loop; the single
    * corpus-sized shuffle carries (vec, j) argmin rows.
    */
  def pqAdcMd5(corpus: DataFrame, queries: DataFrame, m: Int = 4,
               codebookSize: Int = 8, k: Int = 5, dim: Int = 64): DataFrame = {
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    val sub = dim / m
    import org.apache.spark.sql.expressions.Window
    def quantize(c: Column) = transform(c, e => round(e.cast("double") * 1000L).cast("bigint"))
    def subvecs(v: String) = // array of the m subvector slices
      array((0 until m).map(j => expr(s"slice($v, ${j * sub + 1}, $sub)")): _*)
    val mv = corpus.select(col("vec_id"), quantize(col("embedding")).as("v"))
    val mdOrder = Seq(md5(col("vec_id").cast("string").cast("binary")), col("vec_id"))
    // the unpartitioned row_number window runs over the ALREADY-limited
    // codebookSize-row frame (constant, not corpus-sized) — the
    // single-partition WindowExec warning it triggers is about 8 rows
    val donors = mv.orderBy(mdOrder: _*).limit(codebookSize)
      .withColumn("c", row_number().over(Window.orderBy(mdOrder: _*)) - 1)
    val codebook = donors.select(col("c"), posexplode(subvecs("v")).as(Seq("j", "cw")))
    val csv = mv.select(col("vec_id"), posexplode(subvecs("v")).as(Seq("j", "sv")))
    val scored = csv.join(broadcast(codebook), Seq("j"))
      .select(col("vec_id"), col("j"), col("c"),
        expr("int_vec_dot_norms(sv, cw)").as("dnn"))
      .select(col("vec_id"), col("j"), col("c"),
        (col("dnn").getItem(1) + col("dnn").getItem(2) - lit(2L) * col("dnn").getItem(0)).as("d2"))
    val wEnc = Window.partitionBy(col("vec_id"), col("j")).orderBy(col("d2"), col("c"))
    val codes = scored.withColumn("rn", row_number().over(wEnc)).where(col("rn") === 1)
      .select(col("vec_id"), col("j"), col("c"))
    val qsv = queries.select(col("vec_id").as("query_id"), quantize(col("embedding")).as("qv"))
      .select(col("query_id"), posexplode(subvecs("qv")).as(Seq("j", "qsv")))
    val lut = qsv.join(broadcast(codebook), Seq("j"))
      .select(col("query_id"), col("j"), col("c"),
        expr("int_vec_dot_norms(qsv, cw)").getItem(0).as("pdot"))
    val adc = codes.join(broadcast(lut), Seq("j", "c"))
      .where(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(sum(col("pdot")).as("adot"))
    val wTop = Window.partitionBy(col("query_id")).orderBy(col("adot").desc, col("vec_id"))
    adc.withColumn("rank", row_number().over(wTop).cast("bigint")).where(col("rank") <= k)
      .select(col("query_id"), col("vec_id").as("corpus_id"),
        col("adot").cast("bigint").as("adot"), col("rank"))
  }

  /** Deterministic integer k-means (Lloyd's algorithm, fixed round
    * count) — the embedding-clustering primitive underneath IVF list
    * assignment, SemDeDup-style coarse partitioning and corpus
    * bucketing, in a form every stage of which replays value-exact in
    * ANSI SQL (q68, the q56-PageRank unrolled-iteration technique
    * applied to vectors):
    *
    *   - vectors quantize ONCE to milli-unit integers (the q44/q46
    *     headroom analysis: per-dim (v−c)² ≤ ~1.6e7, ×dims fits bigint
    *     with 9 orders of slack);
    *   - seeds are the k md5-smallest vectors (the q44/q46
    *     deterministic donor draw), c = 0..k−1 in that order;
    *   - ASSIGN is argmin squared-L2 over the k centroids off the
    *     codegen'd [[graft.functions.IntVecDotNorms]] kernel
    *     (d² = |v|² + |c|² − 2·v·c, the q46 identity), ties → the
    *     smaller centroid id, via a per-vector row_number window —
    *     corpus × k broadcast rows, the bounded IVF-centroid probe
    *     shape;
    *   - RECOMPUTE is the per-(cluster, dim) integer mean. Floor
    *     division diverges between engines on negative sums (Spark
    *     `div` truncates toward zero, DuckDB `//` floors), so the mean
    *     is computed as `(sum + n·OFF) div n − OFF` with OFF = 2²¹ —
    *     the shifted numerator is provably non-negative (|milli-unit
    *     component| < OFF), where the two operators agree. A cluster
    *     that loses all members keeps its previous centroid (both
    *     engines: left-join coalesce), so k never silently shrinks.
    *
    * Each round's centroid frame is k rows — eagerly localCheckpointed
    * (the connected-components pattern) so iteration lineage stays
    * flat and the quantized corpus is scanned, not recomputed, per
    * round. No driver-side collection anywhere; rounds are FIXED (the
    * production setting for corpus bucketing — IVF quality needs few
    * Lloyd rounds, and a fixed count is what an unrolled SQL replay
    * can express).
    *
    * Output: one row per vector — (vec_id, cluster, d2) where d2 is
    * the squared distance to the final centroid (assignment round
    * `iters`, centroids recomputed `iters−1` times).
    */
  def kmeansInt(corpus: DataFrame, k: Int = 4, iters: Int = 3): DataFrame = {
    require(k >= 1 && iters >= 1)
    graft.functions.GraftFunctions.register(corpus.sparkSession)
    import org.apache.spark.sql.expressions.Window
    val Off = 1L << 21 // > any |milli-unit coordinate|; keeps mean numerators non-negative
    val mv = corpus.select(col("vec_id"),
        transform(col("embedding"), e => round(e.cast("double") * 1000L).cast("bigint")).as("v"))
      .localCheckpoint(true) // consumed by every round's assign + recompute
    val mdOrder = Seq(md5(col("vec_id").cast("string").cast("binary")), col("vec_id"))
    // unpartitioned row_number over the already-limited k-row frame
    // (constant-sized, the q46 donor idiom)
    var cents = mv.orderBy(mdOrder: _*).limit(k)
      .withColumn("c", (row_number().over(Window.orderBy(mdOrder: _*)) - 1).cast("bigint"))
      .select(col("c"), col("v").as("cv"))
      .localCheckpoint(true)
    def assign(c: DataFrame): DataFrame = {
      val scored = mv.join(broadcast(c), lit(true))
        .select(col("vec_id"), col("c"),
          expr("int_vec_dot_norms(v, cv)").as("dnn"))
        .select(col("vec_id"), col("c"),
          (col("dnn").getItem(1) + col("dnn").getItem(2) - lit(2L) * col("dnn").getItem(0)).as("d2"))
      val w = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("c"))
      scored.withColumn("rn", row_number().over(w)).where(col("rn") === 1)
        .select(col("vec_id"), col("c"), col("d2"))
    }
    for (_ <- 1 until iters) {
      val a = assign(cents)
      // per-(cluster, dim) integer mean: one map-side-combinable
      // groupBy over the exploded (c, i, val) stream, re-packed per
      // cluster by sorting on the dim index (the dedupRewrite idiom)
      val means = a.join(mv, Seq("vec_id"))
        .select(col("c"), posexplode(col("v")).as(Seq("p0", "x")))
        .groupBy(col("c"), (col("p0") + 1).as("i"))
        .agg(sum(col("x")).as("s"), count(lit(1)).as("n"))
        .select(col("c"), col("i"),
          expr(s"(s + n * ${Off}L) div n - ${Off}L").as("m"))
        .groupBy(col("c"))
        .agg(transform(array_sort(collect_list(struct(col("i"), col("m")))),
          x => x.getField("m")).as("mcv"))
      cents = cents.join(means, Seq("c"), "left_outer")
        .select(col("c"), coalesce(col("mcv"), col("cv")).as("cv"))
        .localCheckpoint(true)
    }
    assign(cents).select(col("vec_id"), col("c").as("cluster"), col("d2"))
  }

  /** Embedding-cosine near-duplicate pairs (dedup by vector space):
    * LSH-bucketed, exact-cosine verified. `probeRadius = 1` enables
    * the same radius-1 multi-probe as [[lshCosine]] on the left leg
    * (a pair within bucket-Hamming 1 is reached through the smaller
    * id's probe, so the a<b dedup keeps coverage complete) — more
    * planes + probing holds expected recall while shrinking buckets,
    * the fat-bucket fix for low-threshold regimes.
    */
  def embeddingNearDup(corpus: DataFrame, threshold: Double = 0.95, planes: Int = 8, tables: Int = 3,
                       maxBucket: Int = 1000, probeRadius: Int = 0): DataFrame = {
    require(probeRadius == 0 || probeRadius == 1, s"probeRadius must be 0 or 1, got $probeRadius")
    // ids through the bucket join, distinct pairs, then the relational
    // quantized-cosine verify (array-lambda cosine is interpreted,
    // ~50us/pair — see relationalCosine)
    val sketched = suppressHot(sketch(corpus, planes, tables), maxBucket)
    val ids = sketched.select(col("table"), col("bucket"), col("vec_id"))
    val l =
      if (probeRadius == 0) ids.select(col("table"), col("bucket"), col("vec_id").as("a"))
      else {
        val flips = lit(0L) +: (0 until planes).map(i => lit(1L << i))
        ids.select(col("table"), explode(array(flips: _*)).as("flip"), col("bucket"), col("vec_id"))
          .select(col("table"), col("bucket").bitwiseXOR(col("flip")).as("bucket"),
            col("vec_id").as("a"))
      }
    val r = ids.select(col("table"), col("bucket"), col("vec_id").as("b"))
    val candIds = l.join(r, Seq("table", "bucket"))
      .where(col("a") < col("b"))
      .select(col("a"), col("b"))
      .distinct()
    relationalCosine(candIds, corpus, "a", "b")
      .where(col("cos") >= threshold)
  }

  /** Symmetric int8 quantization census — the pre-flight report for
    * shipping an embedding corpus at 1/4 the bytes (the PQ/ADC
    * companion at the vector level, q46's memory story without the
    * codebook): per vector the max-abs scale, the total and worst
    * reconstruction error, and the underflow count (non-zero
    * components that quantize to 0 — the signal that one hot
    * dimension is crushing the rest and per-channel scales are
    * needed). All arithmetic in the established micro-unit regime
    * (round(e·10⁶) — the q18/q27 proven cross-engine quantize), then
    * integer-only: q = a·127 div scale and recon = q·scale div 127
    * on NON-NEGATIVE operands throughout (abs first, the q62 div
    * regime), so recon ≤ a and every error is a non-negative BIGINT.
    *
    * Shape: once-per-row array lambdas over the small embedding
    * array (the sanctioned once-per-row HOF case — CLAUDE.md's
    * measured exception; nothing here is per-pair), no shuffle at
    * all: the census is embarrassingly row-local, one map over the
    * vectors. Output: (vec_id, dim, scale_us, sum_err_us,
    * max_err_us, n_underflow).
    */
  def int8QuantCensus(embeddings: DataFrame): DataFrame =
    // size >= 1 filter (r6, ADVICE-r5 #2): an empty embedding array
    // previously emitted a (dim=0, scale=1) row the q212 oracle's
    // unnest formulation cannot produce — align by dropping the lane
    // on the Spark side too (components are non-null by generator
    // contract; a NULL component would diverge the same way)
    embeddings.where(size(col("embedding")) >= 1)
      .select(col("vec_id"),
        expr("transform(embedding, e -> abs(CAST(round(CAST(e AS double) * 1000000) AS bigint)))").as("a"))
      .select(col("vec_id"),
        expr("CAST(size(a) AS bigint)").as("dim"),
        expr("greatest(array_max(a), 1L)").as("scale_us"),
        col("a"))
      .select(col("vec_id"), col("dim"), col("scale_us"),
        expr("aggregate(a, 0L, (s, x) -> s + (x - ((x * 127) div scale_us) * scale_us div 127))").as("sum_err_us"),
        expr("aggregate(a, 0L, (s, x) -> greatest(s, x - ((x * 127) div scale_us) * scale_us div 127))").as("max_err_us"),
        expr("aggregate(a, 0L, (s, x) -> s + IF(x > 0 AND (x * 127) div scale_us = 0, 1L, 0L))").as("n_underflow"))
}
