package graft.pipeline

import org.apache.spark.sql.{DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import BroadcastGate.broadcastIfSmall

/** Graph analytics beyond connected components: PageRank in exact
  * integer arithmetic, so a fixed-iteration run replays value-for-value
  * in DuckDB (unrolled CTEs) — the q26 discipline applied to the other
  * classic iterative graph workload.
  */
object GraphOps {

  /** Per-node triangle counts via degree-ordered edge orientation
    * (the node-iterator++ / Schank-Wagner recipe): orient each
    * undirected edge from the endpoint with the lower (degree, node)
    * key to the higher, enumerate wedges as pairs of out-neighbors
    * ordered by the same key, and close each wedge against the
    * oriented edge set. Every triangle is counted exactly once — at
    * its minimum-key vertex — then attributed to all three corners.
    *
    * Scale shape: orientation bounds the wedge count by
    * Σ C(outdeg, 2) with outdeg ≤ O(√m) on any graph (arboricity
    * bound) — the skew guard that makes triangle enumeration feasible
    * when the raw degree distribution is power-law (a celebrity node
    * of degree d would otherwise contribute C(d,2) wedges). Three
    * equi-joins, no cartesian; the oriented edge list is materialized
    * once (eager localCheckpoint — it feeds both wedge legs and the
    * closing join, and its input lineage is typically an expensive
    * LSH pair pipeline).
    *
    * Input: (a, b) undirected unique edges. Output: (node, n_tri) for
    * every node on ≥1 triangle.
    */
  def triangles(pairs: DataFrame): DataFrame = {
    val e = canonEdges(pairs)
    triCorners(e, degrees(e))
  }

  /** Local clustering coefficient per node, integer ppm:
    * `lcc = 2·n_tri / (d·(d−1))` — the per-node transitivity behind
    * community/quality audits of a near-dup graph. Shares the
    * degree-oriented triangle enumeration with [[triangles]] over ONE
    * materialized canonical edge set; nodes of degree 1 (lcc
    * undefined) report 0, triangle-free nodes report 0 with their true
    * degree. Ratio in truncating integer ppm (the q47/q62 discipline:
    * no FP in an oracle-checked value; 2·n_tri·1e6 stays in BIGINT up
    * to ~10^8 triangles per node).
    */
  def clusteringCoeff(pairs: DataFrame): DataFrame = {
    val e = canonEdges(pairs)
    // deg feeds both orientation joins AND the final lcc join; it is
    // node-sized — checkpoint rather than re-aggregate the edge list 3×
    val deg = degrees(e).localCheckpoint(true)
    val tri = triCorners(e, deg)
    deg.join(tri, Seq("node"), "left")
      .select(col("node"), col("d").cast("bigint").as("degree"),
        coalesce(col("n_tri"), lit(0L)).cast("bigint").as("n_tri"),
        when(col("d") >= 2,
          expr("2 * coalesce(n_tri, 0) * 1000000 div (d * (d - 1))"))
          .otherwise(lit(0L)).cast("bigint").as("lcc_ppm"))
  }

  /** Canonical undirected edge set: orientation-normalized BEFORE
    * distinct — a reversed duplicate (2,1)+(1,2) would otherwise
    * survive as a parallel edge and inflate counts. Self-loops drop.
    */
  private def canonEdges(pairs: DataFrame): DataFrame =
    pairs.select(
      least(col("a"), col("b")).cast("bigint").as("u"),
      greatest(col("a"), col("b")).cast("bigint").as("v"))
      .where(col("u") =!= col("v")).distinct()
      .localCheckpoint(true) // consumed by degrees + both orientation joins

  private def degrees(e: DataFrame): DataFrame =
    e.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))

  /** (node, n_tri) for every node on ≥1 triangle — the oriented wedge
    * enumeration documented on [[triangles]]. `deg` must be the degree
    * table of `e`.
    */
  private def triCorners(e: DataFrame, deg: DataFrame): DataFrame =
    triangleList(e, deg)
      .select(explode(array(col("ta"), col("tb"), col("tc"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).cast("bigint").as("n_tri"))

  /** Every triangle exactly once as (ta, tb, tc) — the oriented wedge
    * enumeration (orientation semantics documented on [[triangles]]).
    * `deg` must be the degree table of `e`. The corner order follows
    * the (degree, node) orientation key, NOT numeric order.
    */
  private def triangleList(e: DataFrame, deg: DataFrame): DataFrame = {
    val uFirst = col("du") < col("dv") ||
      (col("du") === col("dv") && col("u") < col("v"))
    val oriented = e
      .join(deg.select(col("node").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("d").as("dv")), Seq("v"))
      .select(
        when(uFirst, col("u")).otherwise(col("v")).as("src"),
        when(uFirst, col("v")).otherwise(col("u")).as("dst"),
        when(uFirst, col("dv")).otherwise(col("du")).as("dd"))
      .localCheckpoint(true) // feeds two wedge legs + the closing join
    val l = oriented.select(col("src"), col("dst").as("x"), col("dd").as("dx"))
    val r = oriented.select(col("src"), col("dst").as("y"), col("dd").as("dy"))
    val wedges = l.join(r, Seq("src"))
      .where(col("dx") < col("dy") || (col("dx") === col("dy") && col("x") < col("y")))
      .select(col("src"), col("x"), col("y"))
    wedges
      .join(oriented.select(col("src").as("x"), col("dst").as("y")), Seq("x", "y"))
      .select(col("src").as("ta"), col("x").as("tb"), col("y").as("tc"))
  }

  /** Per-edge triangle support over a canonical (u < v) edge set —
    * shares the oriented enumeration, then attributes each triangle to
    * its three edges (re-canonicalized: corner order is the
    * orientation key's, not numeric).
    */
  private def edgeSupport(e: DataFrame): DataFrame =
    triangleList(e, degrees(e))
      .select(explode(array(
        struct(least(col("ta"), col("tb")).as("u"), greatest(col("ta"), col("tb")).as("v")),
        struct(least(col("ta"), col("tc")).as("u"), greatest(col("ta"), col("tc")).as("v")),
        struct(least(col("tb"), col("tc")).as("u"), greatest(col("tb"), col("tc")).as("v")))).as("ed"))
      .select(col("ed.u").as("u"), col("ed.v").as("v"))
      .groupBy(col("u"), col("v")).agg(count(lit(1)).cast("bigint").as("sup"))

  /** k-truss: the maximal subgraph in which every EDGE sits on ≥ k−2
    * triangles among surviving edges — the edge-level density floor
    * one notch stronger than [[kCore]] (a k-truss is a (k−1)-core, not
    * vice versa): it keeps triangle-cemented near-dup/citation
    * communities while shedding the bridges and chains a node-degree
    * rule cannot tell apart from cluster interior.
    *
    * Iterative peeling: each round recomputes per-edge support within
    * the surviving set via the degree-oriented triangle enumeration
    * (arboricity-bounded wedges — the [[triangles]] skew guard applies
    * per round) and drops edges below k−2, to a fixpoint. Rounds are
    * capped and non-convergence THROWS (the q26 rule); a DuckDB twin
    * unrolls the full cap as CTEs — sound because peeling is monotone,
    * so post-fixpoint rounds are identities. Per-round checkpoint
    * keeps lineage flat; convergence = edge-count equality, valid
    * because peeling only removes.
    *
    * Input: (a, b) undirected pairs (duplicates/orientations/loops
    * normalized away). Output: (u, v, sup) per surviving edge with its
    * in-truss support; k ≥ 3 (k = 2 is "every edge", not a peel).
    */
  def kTruss(pairs: DataFrame, k: Int = 4, maxRounds: Int = 8): DataFrame = {
    require(k >= 3 && k <= 64, "k in [3,64]")
    require(maxRounds >= 1 && maxRounds <= 16, "maxRounds in [1,16]")
    val minSup = (k - 2).toLong
    var e = canonEdges(pairs)
    var m = e.count()
    var lastSup: DataFrame = null
    var converged = false
    var r = 0
    while (r < maxRounds && !converged) {
      lastSup = edgeSupport(e).localCheckpoint(true)
      val next = e.join(lastSup, Seq("u", "v"))
        .where(col("sup") >= minSup)
        .select(col("u"), col("v"))
        .localCheckpoint(true)
      val m2 = next.count()
      converged = m2 == m // peeling only removes: equal count == equal set
      e = next
      m = m2
      r += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"kTruss(k=$k) did not converge in $maxRounds peel rounds " +
          "(still shrinking); raise maxRounds — shipping a half-peeled set would be wrong")
    // on convergence the last support table was computed over a set
    // equal to the final one — no extra enumeration pass needed
    e.join(lastSup, Seq("u", "v"))
      .select(col("u").cast("bigint").as("u"), col("v").cast("bigint").as("v"),
        col("sup").cast("bigint").as("sup"))
  }

  /** Common-neighbor link prediction: for every NON-adjacent pair at
    * distance 2, the common-neighbor count plus an integer
    * Adamic-Adar surrogate — the classic missing-link / KG-completion
    * scorer (Liben-Nowell & Kleinberg 2003). The AA weight per shared
    * neighbor z is `1e6 div (⌊log2 deg(z)⌋ + 1)` — the q70 whole-bit
    * quantization (`length(bin(d))` in both engines), so high-degree
    * hubs contribute less, with zero FP anywhere.
    *
    * Scale shape: candidate pairs are wedges, Σ C(deg(z), 2) — a
    * power-law hub would explode that, so wedge centers above
    * `maxHubDegree` are EXCLUDED (the [[triangles]] hot-node cap
    * applied to prediction: a celebrity neighbor carries ~no signal
    * and quadratic cost; the cap is part of the operator's contract,
    * replayed by any twin). One wedge self-join on the capped
    * adjacency, a map-side-combinable pair groupBy, and an anti-join
    * against the edge set — no cartesian anywhere.
    *
    * Input: (a, b) undirected pairs. Output: (x, y, cn, aa_micro) for
    * non-adjacent x < y with cn ≥ minCommon.
    */
  def linkPrediction(pairs: DataFrame, maxHubDegree: Int = 64,
                     minCommon: Int = 1): DataFrame = {
    require(maxHubDegree >= 1, "maxHubDegree >= 1")
    val e = canonEdges(pairs)
    val deg = degrees(e)
    val adj = e.select(col("u").as("z"), col("v").as("n"))
      .unionByName(e.select(col("v").as("z"), col("u").as("n")))
      .join(deg.where(col("d") <= maxHubDegree)
        .select(col("node").as("z"), col("d")), Seq("z"))
      .localCheckpoint(true) // feeds both wedge legs
    val w = adj.select(col("z"), col("n").as("x"),
      expr("CAST(1000000 div length(bin(d)) AS BIGINT)").as("aa"))
    val scored = w.join(adj.select(col("z"), col("n").as("y")), Seq("z"))
      .where(col("x") < col("y"))
      .groupBy(col("x"), col("y"))
      .agg(count(lit(1)).cast("bigint").as("cn"), sum(col("aa")).cast("bigint").as("aa_micro"))
      .where(col("cn") >= minCommon)
    scored.join(e, scored("x") === e("u") && scored("y") === e("v"), "left_anti")
      .select(col("x").cast("bigint").as("x"), col("y").cast("bigint").as("y"),
        col("cn"), col("aa_micro"))
  }

  /** Multi-source BFS hop distance, capped at `maxHops` — the
    * reachability/link-distance primitive (distance-to-seed-set
    * features, contamination blast radius around flagged documents,
    * crawl-frontier depth) that CC (no distances) and PageRank
    * (stationary weights) don't express.
    *
    * Exact BFS frontier discipline: after each round's min-fold a
    * node's dist is its true hop count, so `dist == r−1` selects
    * precisely the nodes FIRST reached last round — each node expands
    * once, total join work is O(edges · 1) across all rounds, not
    * O(edges · rounds). Rounds are FIXED (the q56/q68 unrolled-replay
    * discipline; a hop cap is also what the feature semantics want),
    * each round one frontier⋈edges equi-join plus a min groupBy, the
    * doubled edge list materialized ONCE and the dist frame
    * checkpointed per round (bounded lineage, the q26 lesson).
    *
    * Input: (a, b) undirected unique pairs + a (node) seed frame.
    * Output: (node, dist ≤ maxHops) for every reached node; seeds not
    * in the graph report dist 0 (isolated seeds are still "at" the
    * seed set). Oracle twin: hop-capped recursive CTE (q66's shape)
    * with a min fold.
    */
  def hopDistance(pairs: DataFrame, seeds: DataFrame, maxHops: Int = 3): DataFrame = {
    require(maxHops >= 1 && maxHops <= 20, "maxHops in [1,20]")
    val e = canonEdges(pairs)
    val edges0 = e.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(e.select(col("v").as("src"), col("u").as("dst")))
      .localCheckpoint(true) // consumed every round
    val edges = broadcastIfSmall(edges0, BroadcastGate.MaxRows) // §3.1: one exchange per round
    var dist = seeds.select(col("node").cast("bigint").as("node"), lit(0L).as("dist"))
      .distinct().localCheckpoint(true)
    for (r <- 1 to maxHops) {
      val frontier = dist.where(col("dist") === lit(r - 1).cast("bigint"))
      val next = frontier
        .join(edges, col("node") === col("src"))
        .select(col("dst").as("node"), lit(r.toLong).as("dist"))
      dist = dist.unionByName(next)
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .localCheckpoint(true)
    }
    dist
  }

  /** Per-seed eccentricity — the longest shortest path from each seed
    * (radius/diameter estimation over landmark seeds, the standard
    * web-graph technique: exact all-pairs is quadratic, a seed panel
    * is linear per seed). Multi-source BFS with a (seed, node) state
    * so every seed's frontier advances in the same per-round join;
    * the [[hopDistance]] frontier discipline (only nodes FIRST
    * reached last round expand) keeps total join work O(seeds ×
    * edges). BFS runs to exhaustion and THROWS if the hop cap cuts
    * it short (the q26 rule — a truncated eccentricity is silently
    * wrong; the post-cap probe distinguishes "frontier at exactly
    * ecc" from "unexplored neighbors remain").
    *
    * Input: (a, b) undirected pairs + a (node) seed frame. Output:
    * (src, ecc, n_reached) per seed — n_reached counts the seed's
    * connected component, ecc its true eccentricity within it.
    *
    * Precondition for the three-hop rounds: max degree at most
    * [[EccentricityMultiHopMaxDegree]]. A round streams up to
    * frontier·deg³ rows, so a graph with a larger max degree expands
    * one hop per round instead. The eccentricities are the same either
    * way. The max degree comes from the aggregate that also gives the
    * broadcast gate its row count.
    */
  def eccentricity(pairs: DataFrame, seeds: DataFrame, maxHops: Int = 30): DataFrame =
    eccentricityUnderHubCap(pairs, seeds, maxHops, EccentricityMultiHopMaxDegree)

  /** Max degree up to which [[eccentricity]] expands three BFS hops per
    * round: at most 32³ = 32,768 streamed rows per frontier node.
    */
  private[pipeline] val EccentricityMultiHopMaxDegree = 32L

  /** [[eccentricity]] with the multi-hop degree bound as a parameter
    * (specs force the one-hop fallback with it).
    */
  private[pipeline] def eccentricityUnderHubCap(pairs: DataFrame, seeds: DataFrame,
      maxHops: Int, multiHopMaxDegree: Long): DataFrame = {
    require(maxHops >= 1 && maxHops <= 32, "maxHops in [1,32]")
    val e = canonEdges(pairs)
    val edges0 = e.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(e.select(col("v").as("src"), col("u").as("dst")))
      .localCheckpoint(true) // consumed every round
    // one aggregate serves both gates: edges0 is a distinct pair set,
    // so a node's row count is its degree and the degrees sum to the
    // row count. coalesce(1) spares the global aggregate its own
    // exchange, so this takes the two Spark jobs a count() would.
    val degrees = edges0.groupBy(col("src")).agg(count(lit(1)).as("d")).coalesce(1)
      .agg(coalesce(sum(col("d")), lit(0L)), coalesce(max(col("d")), lit(0L))).head()
    val (rows, maxDegree) = (degrees.getLong(0), degrees.getLong(1))
    val edges = broadcastIfSmall(edges0, rows, BroadcastGate.MaxRows) // §3.1: one Exchange per round, not three
    val hopsPerRound = if (maxDegree <= multiHopMaxDegree) 3 else 1
    var dist = seeds.select(col("node").cast("bigint").as("seed")).distinct()
      .select(col("seed"), col("seed").as("node"), lit(0L).as("dist"))
      .localCheckpoint(true)
    // deepestCount = |level r| — the frontier of the NEXT expansion
    var deepestCount = dist.count()
    var r = 0
    while (r < maxHops && deepestCount > 0) {
      // expand up to THREE hops per driver round (verdict-r5 #7): the
      // blocking checkpoint+count round-trip — not the join work —
      // dominates a 30-round BFS, and the min fold's map-side partial
      // aggregation dedups the extra fanout before the single
      // exchange. Correctness by induction on h: with frontier =
      // level r, next_h ⊇ neighbors of next_{h-1} ⊇ level r+h (plus
      // revisits at label r+h ≥ their true dist — min-folded away),
      // so the merge is complete through level r+hops and only that
      // level expands next. The hop cap bounds in-stage fanout at
      // frontier·deg³ rows STREAMED through the partial aggregate
      // (never materialized) — hence the max-degree gate above; a
      // deeper unroll would trade that bound for little (the rounds
      // are already ≤ ⌈maxHops/3⌉).
      val hops = math.min(hopsPerRound, maxHops - r)
      val frontier = dist.where(col("dist") === lit(r).cast("bigint"))
      var hopFrames = Vector(frontier.join(edges, col("node") === col("src"))
        .select(col("seed"), col("dst").as("node"), lit((r + 1).toLong).as("dist")))
      for (h <- 2 to hops)
        hopFrames = hopFrames :+ hopFrames.last.join(edges, col("node") === col("src"))
          .select(col("seed"), col("dst").as("node"), lit((r + h).toLong).as("dist"))
      val merged = dist.unionByName(hopFrames.reduceLeft(_ unionByName _))
        .groupBy(col("seed"), col("node")).agg(min(col("dist")).as("dist"))
        .localCheckpoint(true) // bounded lineage across rounds
      r += hops
      // if the deepest level is empty, the level below it was already
      // fully expanded inside this round — BFS is exhausted
      deepestCount = merged.where(col("dist") === lit(r.toLong)).count()
      dist = merged
    }
    val frontierCount = deepestCount
    if (frontierCount > 0) {
      // cap reached with a live frontier: legal iff that frontier has
      // no unvisited neighbors (ecc == maxHops exactly)
      val frontier = dist.where(col("dist") === lit(maxHops.toLong))
      val unexplored = frontier.join(edges, col("node") === col("src"))
        .select(col("seed"), col("dst").as("node"))
        .join(dist.select(col("seed"), col("node")), Seq("seed", "node"), "left_anti")
      if (unexplored.limit(1).count() > 0)
        throw new IllegalStateException(
          s"eccentricity BFS did not exhaust within $maxHops hops — " +
            "raise maxHops; a truncated eccentricity must never ship")
    }
    dist.groupBy(col("seed"))
      .agg(max(col("dist")).cast("bigint").as("ecc"),
        count(lit(1)).cast("bigint").as("n_reached"))
      .select(col("seed").as("src"), col("ecc"), col("n_reached"))
  }

  /** Degree census in whole-bit buckets — the power-law tail report
    * every web-graph pipeline wants before choosing salting/hub-cap
    * thresholds: per ⌊log₂ degree⌋ bucket (`length(bin(d)) − 1`, the
    * q70 whole-bit rule — exact in both engines, no FP log), the node
    * count, degree min/max and degree mass. One doubled-edge groupBy
    * plus one map-side-combinable bucket aggregation.
    */
  def degreeCensus(pairs: DataFrame): DataFrame = {
    val e = canonEdges(pairs)
    degrees(e)
      .groupBy(expr("CAST(length(bin(d)) - 1 AS BIGINT)").as("bucket"))
      .agg(count(lit(1)).cast("bigint").as("n_nodes"),
        min(col("d")).cast("bigint").as("min_deg"),
        max(col("d")).cast("bigint").as("max_deg"),
        sum(col("d")).cast("bigint").as("sum_deg"))
  }

  /** Degree-assortativity sufficient statistics — the EXACT integer
    * sums behind Newman's degree-correlation coefficient r (the
    * hub-connects-to-hub vs hub-connects-to-leaf diagnostic that
    * decides whether hub-capping strategies compound or cancel):
    * over the canonical undirected edge set, m plus
    * Σ dᵤ·dᵥ, Σ (dᵤ+dᵥ), Σ (dᵤ²+dᵥ²) — r is then
    * [S₁/m − (S₂/2m)²] / [S₃/2m − (S₂/2m)²], a quotient of exact
    * integers the CONSUMER forms (kept as raw sums, the q210
    * no-FP-no-quotient discipline; every sum is BIGINT-safe while
    * m·d² < 2⁶³). One degree shuffle, two node-keyed equi-joins,
    * one global aggregate — no windows, no quadratic anything.
    * Output: one row (m, s_prod, s_sum, s_sq).
    */
  def assortativityStats(pairs: DataFrame): DataFrame = {
    val e = pairs.select(
        least(col("a").cast("string"), col("b").cast("string")).as("u"),
        greatest(col("a").cast("string"), col("b").cast("string")).as("v"))
      .where(col("u") =!= col("v")).distinct()
      .localCheckpoint(true) // consumed by degrees AND the stats join
    val deg = e.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    e.join(deg.select(col("node").as("u"), col("d").as("du")), Seq("u"))
      .join(deg.select(col("node").as("v"), col("d").as("dv")), Seq("v"))
      .agg(count(lit(1)).cast("bigint").as("m"),
        sum(col("du") * col("dv")).cast("bigint").as("s_prod"),
        sum(col("du") + col("dv")).cast("bigint").as("s_sum"),
        sum(col("du") * col("du") + col("dv") * col("dv")).cast("bigint").as("s_sq"))
  }

  /** Newman-Girvan modularity census of an externally supplied node
    * partition — the community-QUALITY report the label-assignment
    * operators (q106 LPA, q26 CC) don't produce: per community c,
    * the internal edge count e_c, degree mass d_c, and the EXACT
    * integer modularity numerator `4·m·e_c − d_c²` (modularity's
    * per-community term e_c/m − (d_c/2m)² times the common
    * denominator 4m²; Σ num_c / 4m² is Newman's Q). Kept as the
    * exact numerator, never a quotient: a ppm division would need
    * 4m²·10⁶ intermediates (BIGINT-unsafe beyond m ≈ 48k), while the
    * numerator stays BIGINT-exact to m·e_c < 2⁶¹ — the q133-style
    * widen-before-trusting bound, here ~10⁹ edges per run.
    *
    * Scale shape: canonical undirected distinct edges materialized
    * once (consumed by the edge-count scalar, the degree explode and
    * the internal-edge join), labels attach via two node-keyed
    * equi-joins, every aggregate map-side-combinable on community
    * keys, and the single global m rides the sanctioned 1-row
    * broadcast scalar frame (the q47/q62 shape) — an unpartitioned
    * window would funnel the census through one partition.
    *
    * Input: `pairs` (a, b) undirected; `labels` (node, community) —
    * unlabeled endpoints drop from the census by the inner join (the
    * caller owns label totality). Output: (community, n_nodes,
    * n_internal, degree_sum, mod_num).
    */
  def modularityCensus(pairs: DataFrame, labels: DataFrame): DataFrame = {
    val e = pairs.select(
        least(col("a").cast("string"), col("b").cast("string")).as("u"),
        greatest(col("a").cast("string"), col("b").cast("string")).as("v"))
      .where(col("u") =!= col("v")).distinct()
      .localCheckpoint(true) // consumed by m, degrees, internal join
    val lab = labels.select(col("node").cast("string").as("node"),
      col("community").cast("bigint").as("community")).distinct()
    val m = e.select(count(lit(1)).cast("bigint").as("m"))
    val deg = e.select(explode(array(col("u"), col("v"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    val dsum = deg.join(lab, Seq("node"))
      .groupBy(col("community"))
      .agg(count(lit(1)).cast("bigint").as("n_nodes"),
        sum(col("d")).cast("bigint").as("degree_sum"))
    val lu = lab.select(col("node").as("u"), col("community").as("cu"))
    val lv = lab.select(col("node").as("v"), col("community").as("cv"))
    val ein = e.join(lu, Seq("u")).join(lv, Seq("v"))
      .where(col("cu") === col("cv"))
      .groupBy(col("cu").as("community"))
      .agg(count(lit(1)).cast("bigint").as("n_internal"))
    dsum.join(ein, Seq("community"), "left")
      .crossJoin(broadcast(m))
      .select(col("community"), col("n_nodes"),
        coalesce(col("n_internal"), lit(0L)).as("n_internal"),
        col("degree_sum"),
        (col("m") * 4L * coalesce(col("n_internal"), lit(0L))
          - col("degree_sum") * col("degree_sum")).cast("bigint").as("mod_num"))
  }

  /** k-core: the maximal subgraph in which every node keeps degree
    * ≥ k — the density floor that separates "real" near-dup clusters
    * from incidental chains and stars (a k-core survives losing any
    * single edge; a chain does not), the standard prefilter before
    * community detection or cluster-representative election.
    *
    * Iterative peeling: each round drops every node whose degree
    * WITHIN the surviving set is < k, until a fixpoint. Rounds are
    * capped and non-convergence THROWS (the q26 rule — never ship a
    * half-peeled set into an oracle-gated result); the DuckDB oracle
    * unrolls the full cap as CTEs, sound because peeling is monotone
    * and rounds past the fixpoint are identities.
    *
    * Scale shape: the doubled edge list is materialized once and each
    * round is one edges⋈alive⋈alive equi-join + a map-side-combinable
    * HAVING groupBy on a node-sized frame; the alive set only shrinks.
    * Per-round checkpoint keeps lineage flat (the q26 lesson);
    * convergence = node-count equality, valid because peeling only
    * removes.
    *
    * Input: (a, b) undirected unique pairs. Output: (node, core_deg)
    * for surviving nodes, core_deg = degree inside the k-core.
    */
  def kCore(pairs: DataFrame, k: Int = 2, maxRounds: Int = 8): DataFrame = {
    require(k >= 1 && k <= 64, "k in [1,64]")
    val e = canonEdges(pairs)
    val edges = e.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(e.select(col("v").as("src"), col("u").as("dst")))
      .localCheckpoint(true) // consumed every round
    var alive = edges.select(col("src").as("node")).distinct()
      .localCheckpoint(true)
    var n = alive.count()
    var converged = false
    var r = 0
    // §3.1, decided once from the initial node count (alive only
    // shrinks): the peel round becomes scan → BHJ → BHJ → one
    // exchange (the groupBy key); falls back to shuffle joins at scale
    val n0 = n
    val bState: DataFrame => DataFrame = broadcastIfSmall(_, n0, BroadcastGate.MaxRows)
    while (r < maxRounds && !converged) {
      val next = edges
        .join(bState(alive.select(col("node").as("src"))), Seq("src"))
        .join(bState(alive.select(col("node").as("dst"))), Seq("dst"))
        .groupBy(col("src")).agg(count(lit(1)).as("dw"))
        .where(col("dw") >= k)
        .select(col("src").as("node"))
        .localCheckpoint(true)
      val m = next.count()
      converged = m == n // peeling only removes: equal count == equal set
      alive = next
      n = m
      r += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"kCore(k=$k) did not converge in $maxRounds peel rounds " +
          "(still shrinking); raise maxRounds — shipping a half-peeled set would be wrong")
    edges
      .join(alive.select(col("node").as("src")), Seq("src"))
      .join(alive.select(col("node").as("dst")), Seq("dst"))
      .groupBy(col("src")).agg(count(lit(1)).cast("bigint").as("core_deg"))
      .select(col("src").cast("bigint").as("node"), col("core_deg"))
  }

  /** Integer-exact PageRank: ranks start at 1e6 micro-units per node;
    * each iteration is `r' = 150000 + 85 * S div 100` with
    * `S = Σ_in (r div out_deg)` — damping 0.85 with every division a
    * truncating integer div, so any engine reproduces the exact
    * values (no FP summation order anywhere). Fixed `iters`
    * iterations, top-`k` by final rank.
    *
    * Scale shape: the edge list (with out-degree attached) is
    * materialized ONCE (eager localCheckpoint — it is consumed every
    * iteration, and per-iteration checkpoints keep the rank frame's
    * lineage bounded, the q26 lesson); each iteration is one
    * ranks⇄edges equi-join plus a map-side-combinable groupBy on dst.
    * Ranks are node-sized, edges edge-sized, nothing grows with
    * iteration count. Top-k is sort-limit, not a global window.
    *
    * Input: (src bigint, dst bigint) directed edges. Dangling nodes
    * (no out-edges) keep receiving the base term only — for an
    * undirected graph feed both directions, where none exist.
    */
  def pageRank(edges0: DataFrame, iters: Int = 5, k: Int = 20): DataFrame =
    pageRankKeyed(edges0.select(col("src").cast("bigint").as("src"),
      col("dst").cast("bigint").as("dst")), iters, k)

  /** The [[pageRank]] recurrence over ARBITRARY (orderable) node keys
    * — a web graph's natural node id is the domain string, and mapping
    * strings to dense ints first costs either a global sorted window
    * (one-partition funnel at scale) or hashed ids (not oracle-exact).
    * The integer rank math only ever JOINS on the key, so the key type
    * is free; rank ties order by the key's native ordering (binary
    * lexicographic for ASCII strings — identical in both engines).
    * Recurrence semantics (q56): directed flow src→dst over
    * out-degree; seeds are nodes WITH outlinks; the 150000 teleport
    * floor applies to nodes receiving inflow — the oracle replays the
    * same recurrence, so the variant is pinned, not accidental.
    */
  def pageRankKeyed(edges0: DataFrame, iters: Int = 5, k: Int = 20): DataFrame = {
    require(iters >= 1 && iters <= 20, "iterations in [1,20]")
    // edges feeds THREE consumers (deg census, the withDeg join leg,
    // the initial rank seed) and its lineage is typically an expensive
    // upstream join — checkpoint once or that subtree runs 3x before
    // the first iteration (the q26 lesson, same failure measured here:
    // q56 warm 9.8s -> 7.0s at sf0.1 from this line, -> 4.3s once the
    // caller also materializes its two-leg direction union input)
    val edges = edges0.select(col("src"), col("dst")).distinct()
      .localCheckpoint(true)
    // out-degree as a count window over the src partition (r6): same
    // value as the former groupBy+self-join, one edge scan and two
    // exchanges fewer (the frequency window needs no ordering)
    val withDeg = edges
      .withColumn("deg", count(lit(1)).over(Window.partitionBy(col("src"))))
      .localCheckpoint(true)
    var ranks = edges.select(col("src").as("node")).distinct()
      .withColumn("r", lit(1000000L))
      .localCheckpoint(true)
    // NOT broadcast: an explicit per-iteration broadcast of the rank
    // state re-collects and re-ships it every round, while AQE's
    // runtime SMJ→BHJ conversion already exploits the small shuffle
    // with local reads — A/B'd at sf0.1 (q56/q87/q104 flat to slightly
    // worse with explicit state broadcasts, within ambient noise)
    for (_ <- 1 to iters) {
      ranks = withDeg.join(ranks, withDeg("src") === col("node"))
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
        .select(col("dst").as("node"),
          expr("CAST(150000 + 85 * s div 100 AS BIGINT)").as("r"))
        .localCheckpoint(true) // bounded lineage across iterations
    }
    ranks.orderBy(col("r").desc, col("node").asc).limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("r").desc, col("node").asc)))
      .select(col("node"), col("r"), col("rank").cast("bigint").as("rank"))
  }

  /** TrustRank (Gyöngyi/Garcia-Molina/Pedersen, VLDB 2004) — the
    * web-spam containment variant of [[pageRankKeyed]]: teleport mass
    * returns ONLY to a trusted seed set, so trust decays with link
    * distance from the seeds and spam farms that merely cite each
    * other accumulate nothing. Same exact-integer recurrence
    * discipline as q56/q84 (truncating `div` on non-negative
    * operands, fixed iterations, unrolled-CTE oracle):
    * t₀ = 1_000_000 on seeds, 0 elsewhere;
    * tᵢ(v) = [v ∈ seeds]·150_000 + 85·Σ_{u→v} tᵢ₋₁(u) div deg(u) div 100.
    * Each round's row set is (inflow-receiving nodes) ∪ seeds — the
    * full-outer teleport join — so both engines carry identical rows.
    *
    * Scale shape: identical to [[pageRankKeyed]] — the edge frame is
    * materialized once for its three consumers, the seed frame once
    * for its per-round teleport join, and per-round lineage is
    * truncated (the q26 lesson). `seeds` must be a (node) frame, a
    * subset of the graph's node set, small or large — it is only ever
    * equi-joined on the key.
    */
  def trustRank(edges0: DataFrame, seeds0: DataFrame, iters: Int = 3, k: Int = 20): DataFrame = {
    require(iters >= 1 && iters <= 20, "iterations in [1,20]")
    val edges = edges0.select(col("src"), col("dst")).distinct()
      .localCheckpoint(true)
    // out-degree as a count window over the src partition (r6): same
    // value as the former groupBy+self-join, one edge scan and two
    // exchanges fewer (the frequency window needs no ordering)
    val withDeg = edges
      .withColumn("deg", count(lit(1)).over(Window.partitionBy(col("src"))))
      .localCheckpoint(true)
    val seeds = seeds0.select(col("node")).distinct().localCheckpoint(true)
    var t = seeds.withColumn("t", lit(1000000L))
    for (_ <- 1 to iters) {
      // no explicit state broadcast: the pageRankKeyed AQE note applies
      val flow = withDeg.join(t, withDeg("src") === col("node"))
        .select(col("dst"), expr("t div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("s"))
        .select(col("dst").as("node"), col("s"))
      t = flow
        .join(seeds.withColumn("bonus", lit(150000L)), Seq("node"), "full_outer")
        .select(col("node"),
          expr("CAST(coalesce(bonus, 0) + 85 * coalesce(s, 0) div 100 AS BIGINT)").as("t"))
        .localCheckpoint(true) // bounded lineage across iterations
    }
    t.orderBy(col("t").desc, col("node").asc).limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("t").desc, col("node").asc)))
      .select(col("node"), col("t"), col("rank").cast("bigint").as("rank"))
  }

  /** Synchronous label-propagation communities (Raghavan et al. 2007,
    * Phys. Rev. E 76) — the near-linear community detector: each
    * round every node adopts the most frequent label among its
    * neighbors, ties broken by the lexicographically least label.
    * FIXED rounds, not run-to-convergence: sync LPA can oscillate
    * (period-2 on bipartite regions — a property of the algorithm,
    * not a bug), so "converged" is undefined in general; a pinned
    * round count is what makes the result an exact cross-engine
    * replay. The argmax is deterministic: (count DESC, label ASC) is
    * total per node because equal-count rows differ in label.
    *
    * Scale shape: per round ONE edge⋈labels equi-join into a
    * map-side-combinable (node, label) count, then a per-node window
    * argmax (partition key = node — no funnel); per-round lineage
    * truncated (the q26 rule). Edges are symmetrized ONCE and
    * materialized.
    */
  def labelPropagation(edges0: DataFrame, iters: Int = 4): DataFrame = {
    require(iters >= 1 && iters <= 10, "iterations in [1,10]")
    val fwd = edges0
      .select(col("src").cast("string").as("src"), col("dst").cast("string").as("dst"))
      .where(col("src") =!= col("dst"))
    val edges = fwd.unionByName(fwd.select(col("dst").as("src"), col("src").as("dst")))
      .distinct().localCheckpoint(true)
    var labels = edges.select(col("src").as("node")).distinct()
      .withColumn("lab", col("node"))
      .localCheckpoint(true)
    // §3.1, decided once (label state is node-sized every round)
    val nLabels = labels.count()
    val bState: DataFrame => DataFrame = broadcastIfSmall(_, nLabels, BroadcastGate.MaxRows)
    for (_ <- 1 to iters) {
      // argmax by (count DESC, label ASC) as a map-side-combinable
      // min over the (-count, label) struct — same total order the
      // former per-node row_number window encoded, without the
      // window's extra Exchange+Sort on node; label state broadcasts
      // into the edge join when it fits (§3.1, scale-adaptive)
      labels = edges
        .join(bState(labels.select(col("node").as("dst"), col("lab"))), Seq("dst"))
        .groupBy(col("src"), col("lab")).agg(count(lit(1)).as("c"))
        .groupBy(col("src"))
        .agg(min(struct((-col("c")).as("nc"), col("lab"))).as("best"))
        .select(col("src").as("node"), col("best.lab").as("lab"))
        .localCheckpoint(true) // bounded lineage across iterations
    }
    labels.select(col("node"), col("lab").as("community"))
  }

  /** Co-citation pairs (Small, JASIS 24(4) 1973): two targets are
    * co-cited when the same source links to both; `n_common` counts
    * the distinct co-citing sources. The bipartite self-join shape:
    * edges ⋈ edges on src with dst < dst2, then a map-side-combinable
    * pair count — the relatedness signal citation/link analysis uses
    * where direct edges are sparse (bibliographic coupling is the
    * same op on the transposed edge set). Skew note: a hub SOURCE
    * with out-degree d emits d² pairs — web pages cite tens of
    * domains so the quadratic is bounded per row; for adversarial
    * hubs apply the LSH hot-bucket suppression rule upstream.
    */
  def coCitation(edges: DataFrame, minCommon: Long = 2L): DataFrame = {
    val e = edges.select(col("src").cast("string").as("src"),
      col("dst").cast("string").as("dst")).distinct()
    e.join(e.select(col("src"), col("dst").as("dst2")), Seq("src"))
      .where(col("dst") < col("dst2"))
      .groupBy(col("dst").as("a"), col("dst2").as("b"))
      .agg(count(lit(1)).cast("bigint").as("n_common"))
      .where(col("n_common") >= minCommon)
  }

  /** Strongly connected components of a DIRECTED graph — the coloring
    * / forward-backward decomposition (Orzan 2004; Slota-Rajamanickam-
    * Madduri 2014), the Pregel-style SCC recipe for graphs whose
    * condensation is shallow (web link graphs, citation networks):
    *
    *  1. COLOR: propagate c(v) = max node id reachable forward from v
    *     to fixpoint (max-label propagation — monotone, so rounds =
    *     remaining graph's forward diameter);
    *  2. CLAIM: every v with c(v) = v is a root; BFS forward from all
    *     roots simultaneously along edges staying INSIDE the root's
    *     color; reached nodes form the root's SCC (color(u) = c proves
    *     u→c, in-color forward reach proves c→u — mutual);
    *  3. PEEL claimed nodes/edges; repeat on the remainder.
    *
    * Every round claims at least the max-id remaining node, and claim
    * work shrinks with the graph; outer rounds are bounded by the
    * longest ascending-id chain in the condensation — O(1)-ish on id
    * assignments that don't adversarially ascend along edges, n on a
    * pathological ascending chain, which is why the cap THROWS (the
    * q26/q71 rule: oracle-gated labels must never ship a truncated
    * decomposition). Each SCC is labeled by its MAXIMUM member (the
    * root's id — the natural label of the coloring family; the
    * min-label mirror is a relabel away).
    *
    * Scale shape: per inner round one edge⋈label join + one map-side-
    * combinable max per src (color) or one frontier extension +
    * anti-join (claim); labels/frontiers checkpoint eagerly (lineage
    * truncation, the q26 rule); self-loops drop (never change SCCs);
    * isolated nodes are their own root and claim themselves in round
    * one. `nodes` carries every vertex (including edge-free ones).
    */
  def scc(nodes0: DataFrame, edges0: DataFrame,
      maxOuter: Int = 16, maxInner: Int = 128): DataFrame = {
    var nodes = nodes0.select(col("node").cast("string").as("node"))
      .distinct().localCheckpoint(true)
    var edges = edges0
      .select(col("src").cast("string").as("src"), col("dst").cast("string").as("dst"))
      .where(col("src") =!= col("dst")).distinct().localCheckpoint(true)
    var done = nodes.limit(0).withColumn("scc", col("node"))
    // §3.1, decided once: every loop state below (colors, neighbor
    // maxima, claim frontiers, claimed sets) is bounded by the initial
    // node set, which only shrinks across outer rounds — one count
    // gates them all, with the shuffle-join fallback at scale
    val nNodes = nodes.count()
    val bState: DataFrame => DataFrame = broadcastIfSmall(_, nNodes, BroadcastGate.MaxRows)
    var outer = 0
    while (outer < maxOuter) {
      if (nodes.isEmpty) return done
      // 1. color fixpoint: c(v) = max id forward-reachable from v
      var colors = nodes.select(col("node"), col("node").as("color"))
      var colorRounds = 0
      var changed = 1L
      while (changed > 0) {
        if (colorRounds >= maxInner) throw new IllegalStateException(
          s"scc color propagation did not converge in $maxInner rounds")
        // the node-sized color state broadcasts into the edge join,
        // and the aggregated neighbor-max into the left merge — the
        // whole round is one action with a single groupBy exchange
        val nbrMax = edges
          .join(bState(colors.select(col("node").as("dst"), col("color").as("dc"))),
            Seq("dst"))
          .groupBy(col("src")).agg(max(col("dc")).as("nm"))
        val merged = colors
          .join(bState(nbrMax.select(col("src").as("node"), col("nm"))),
            Seq("node"), "left")
          .select(col("node"), col("color"),
            greatest(col("color"), coalesce(col("nm"), col("color"))).as("nc"))
          .localCheckpoint(true)
        changed = merged.where(col("nc") =!= col("color")).count()
        colors = merged.select(col("node"), col("nc").as("color"))
        colorRounds += 1
      }
      // 2. claim: forward BFS from the roots, restricted to the color
      val roots = colors.where(col("node") === col("color"))
        .select(col("node"), col("color").as("scc")).localCheckpoint(true)
      var claimed = roots
      var frontier = roots
      var claimRounds = 0
      while (!frontier.isEmpty) {
        if (claimRounds >= maxInner) throw new IllegalStateException(
          s"scc claim BFS did not terminate in $maxInner rounds")
        // frontier, color table and claimed set are all node-bounded —
        // broadcast each so the claim step's only exchange is the distinct
        val step = bState(frontier).join(edges, frontier("node") === edges("src"))
          .select(col("dst").as("node"), col("scc")).distinct()
          .join(bState(colors), Seq("node"))
          .where(col("color") === col("scc"))
          .select(col("node"), col("scc"))
          .join(bState(claimed), Seq("node"), "left_anti")
          .localCheckpoint(true)
        claimed = claimed.unionByName(step).localCheckpoint(true)
        frontier = step
        claimRounds += 1
      }
      // 3. peel and recurse on the remainder
      done = done.unionByName(claimed).localCheckpoint(true)
      nodes = nodes.join(claimed, Seq("node"), "left_anti").localCheckpoint(true)
      edges = edges
        .join(claimed.select(col("node").as("src")), Seq("src"), "left_anti")
        .join(claimed.select(col("node").as("dst")), Seq("dst"), "left_anti")
        .localCheckpoint(true)
      outer += 1
    }
    if (nodes.isEmpty) done
    else throw new IllegalStateException(
      s"scc did not decompose the graph in $maxOuter outer rounds — " +
        "refusing to return a partial decomposition")
  }

  /** HITS hubs & authorities (Kleinberg, JACM 46(5) 1999) — the
    * mutually-reinforcing bipartite scoring PageRank can't express:
    * a(v) = Σ_{u→v} h(u), h(u) = Σ_{u→v} a(v), alternating, each
    * half-step rescaled. On the crawl's DIRECTED site→content graph
    * this needs no symmetrization (the q84 workaround) — directories
    * score as hubs, cited domains as authorities.
    *
    * Exact-integer normalization: in place of the usual FP L2 norm,
    * each half-step divides by `greatest(max(s) div 1_000_000, 1)` —
    * truncating div on non-negative operands, identical both engines
    * (the q68 non-negative regime), and overflow-free: scores stay
    * ≤ ~1e6 so a degree-d sum is ≤ d·1e6, never multiplied back up.
    * The max is a 1-row broadcast scalar frame (the sanctioned
    * q47/q62/q70 shape — a global constant attached map-side, not an
    * unpartitioned window funnel).
    *
    * Scale shape: per round, two edge-keyed equi-join + map-side-
    * combinable groupBy passes (one per direction) and two scalar
    * maxes; edges/nodes materialized once, per-round lineage
    * truncated (the q26 rule). Nodes missing a side coalesce to 0 —
    * both engines carry the full node set every round.
    */
  def hits(edges0: DataFrame, iters: Int = 3, k: Int = 20): DataFrame = {
    require(iters >= 1 && iters <= 10, "iterations in [1,10]")
    val edges = edges0
      .select(col("src").cast("string").as("src"), col("dst").cast("string").as("dst"))
      .where(col("src") =!= col("dst")).distinct().localCheckpoint(true)
    val nodes = edges.select(col("src").as("node"))
      .unionByName(edges.select(col("dst").as("node"))).distinct()
      .localCheckpoint(true)
    // no explicit state broadcasts: the pageRankKeyed AQE note applies
    def rescale(raw0: DataFrame, out: String): DataFrame = {
      // one materialization per half-step (r6): the sum feeds BOTH the
      // scalar max subquery and the outer join — unmaterialized, the
      // edge join + aggregation ran twice per half-step
      val raw = raw0.localCheckpoint(true)
      val scale = raw.agg(greatest(expr("max(s) div 1000000"), lit(1L)).as("scale"))
      nodes.join(raw, Seq("node"), "left")
        .crossJoin(broadcast(scale))
        .select(col("node"),
          expr("CAST(coalesce(s, 0) div scale AS BIGINT)").as(out))
        .localCheckpoint(true) // bounded lineage across iterations
    }
    var hub = nodes.withColumn("h", lit(1000000L))
    var auth = nodes.withColumn("a", lit(0L))
    for (_ <- 1 to iters) {
      auth = rescale(
        edges.join(hub.select(col("node").as("src"), col("h")), Seq("src"))
          .groupBy(col("dst")).agg(sum(col("h")).as("s"))
          .select(col("dst").as("node"), col("s")), "a")
      hub = rescale(
        edges.join(auth.select(col("node").as("dst"), col("a")), Seq("dst"))
          .groupBy(col("src")).agg(sum(col("a")).as("s"))
          .select(col("src").as("node"), col("s")), "h")
    }
    auth.join(hub, Seq("node"))
      .orderBy(col("a").desc, col("node").asc).limit(k)
      .withColumn("rank",
        row_number().over(Window.orderBy(col("a").desc, col("node").asc)))
      .select(col("node"), col("a").as("auth"), col("h").as("hub"),
        col("rank").cast("bigint").as("rank"))
  }

  /** Deterministic "random" walks — the DeepWalk/node2vec training-
    * corpus generator with the engine's no-RNG discipline: the step
    * taken at (start, pos, cur) is
    * `md5("<tag>|start|pos|cur")`'s first-6-nibble integer mod
    * out-degree(cur) into the POSITIONAL adjacency (row_number over
    * dst order, so node ids must make lexicographic == numeric — the
    * q98 zero-pad rule). Fully replayable cross-engine (the q30
    * nibble decode); same-start walks differ per position because the
    * hash input carries pos.
    *
    * Scale shape: adjacency+degree build once (two shuffles on src),
    * then `len` equi-joins of the walk frontier against the indexed
    * adjacency — the frontier stays one row per start, never
    * multiplies; the per-step choice filter rides the join. Sinks
    * (nodes with no out-edge) end their walk early — inner-join drop,
    * shorter walk, never an error.
    *
    * Input: (src, dst) directed edges (any column names). Output:
    * (start, pos, node), pos 0..len.
    */
  def deterministicWalks(edges: DataFrame, len: Int, tag: String = "rw"): DataFrame = {
    require(len >= 1, "walk length must be >= 1")
    val e = edges.select(
      col(edges.columns(0)).cast("string").as("src"),
      col(edges.columns(1)).cast("string").as("dst")).distinct()
    val adj = e
      .withColumn("idx",
        (row_number().over(Window.partitionBy(col("src")).orderBy(col("dst"))) - 1)
          .cast("bigint"))
      .withColumn("deg",
        count(lit(1)).over(Window.partitionBy(col("src"))).cast("bigint"))
    def nibble6(h: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      def nib(i: Int) = {
        val c = substring(h, i, 1)
        (ascii(c) - when(c <= "9", lit(48)).otherwise(lit(87))).cast("bigint")
      }
      (1 to 6).map(i => nib(i) * lit(1L << (4 * (6 - i)))).reduce(_ + _)
    }
    val starts = e.select(col("src").as("start")).distinct()
    var frontier = starts.select(col("start"), col("start").as("node"))
    var out = frontier.select(col("start"), lit(0L).as("pos"), col("node"))
    (1 to len).foreach { p =>
      val h = md5(concat_ws("|", lit(tag), col("start"), lit(p.toString), col("src")))
      frontier = frontier
        .join(adj, frontier("node") === adj("src"))
        .where(col("idx") === pmod(nibble6(h), col("deg")))
        .select(col("start"), col("dst").as("node"))
      out = out.unionByName(frontier.select(col("start"), lit(p.toLong).as("pos"), col("node")))
    }
    out
  }
}
