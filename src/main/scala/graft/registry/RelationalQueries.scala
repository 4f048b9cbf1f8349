package graft.registry

import org.apache.spark.sql.functions._
import graft.pipeline._

import QueryKit._

/** The relational core: TPC-H-shaped aggregates and joins over lineitem,
  * orders, customer, part and nation, plus the plain group-by, rollup,
  * bloom semi-join, price-quantile and z-order layout queries.
  */
private[graft] object RelationalQueries {

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

  val queries: Seq[Query] = Seq(
    Query("q1_pricing_summary", (s, d) => {
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
    },
      Some("""SELECT l_returnflag, l_linestatus,
        |  CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS sum_qty_c,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_base_price_c,
        |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT) * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS sum_disc_price_cc,
        |  count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin)),
    Query("q2_revenue_by_nation", (s, d) => {
      val orders = t(s, d, "orders")
      val customer = t(s, d, "customer")
      val nation = t(s, d, "nation")
      orders.join(customer, orders("o_custkey") === customer("c_custkey"))
        .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
        .groupBy(col("n_name"))
        .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("revenue_c"),
          count(lit(1)).as("n_orders"))
    },
      Some("""SELECT n_name, CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS revenue_c, count(*) AS n_orders
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |JOIN nation ON c_nationkey = n_nationkey
        |GROUP BY n_name""".stripMargin)),
    Query("q3_priority_counts", (s, d) => {
      t(s, d, "orders")
        .where(col("o_totalprice") > 100.0)
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n"))
    },
      Some("SELECT o_orderpriority, count(*) AS n FROM orders WHERE o_totalprice > 100.0 GROUP BY o_orderpriority")),
    Query("q4_anti_join", (s, d) => {
      val customer = t(s, d, "customer")
      val bigOrders = t(s, d, "orders").where(col("o_totalprice") > 300000.0)
      customer.join(bigOrders, customer("c_custkey") === bigOrders("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_name"))
    },
      Some("""SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey AND o_totalprice > 300000.0)""".stripMargin)),
    Query("q5_brand_volume", (s, d) => {
      val li = t(s, d, "lineitem")
      val part = t(s, d, "part")
      li.join(part, li("l_partkey") === part("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(sum(round(col("l_quantity") * 100).cast("bigint")).as("total_qty_c"),
          count(lit(1)).as("n_items"))
    },
      Some("""SELECT p_brand, CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS total_qty_c, count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand""".stripMargin)),
    Query("q14_embedding_label_stats", (s, d) => {
      t(s, d, "embeddings")
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n"),
          round(max(element_at(col("embedding"), 1)).cast("double"), 4).as("max_first"))
    },
      Some("""SELECT label, count(*) AS n, round(CAST(max(embedding[1]) AS DOUBLE), 4) AS max_first
        |FROM embeddings GROUP BY label""".stripMargin)),
    // Z-order layout vs ingest-order layout, judged by the zone-map
    // pruning audit: 10-bit (x, y) coordinates from doc_id residues,
    // Morton z-value tiles of 128x128 (z div 16384) against
    // 8-consecutive-doc "files" — the aligned query box lands in ONE
    // z tile while every rowid bucket spans the full coordinate range;
    // rows_matched is layout-invariant by construction and the oracle
    // restates the whole bit-interleave ladder in BIGINT shifts
    Query("q179_zorder_layout", (s, d) => {
      val docs = t(s, d, "documents")
      val pts = docs.select(col("doc_id"),
        pmod(col("doc_id") * 37, lit(1024)).as("x"),
        pmod(col("doc_id") * 101, lit(1024)).as("y"))
        .withColumn("zv", Layout.zValue(col("x"), col("y")))
      Layout.zoneMapAudit(pts, "x", "y",
          expr("CAST(zv div 16384 AS BIGINT)"), "zorder", 128, 255, 512, 639)
        .unionByName(Layout.zoneMapAudit(pts, "x", "y",
          expr("CAST(doc_id div 8 AS BIGINT)"), "rowid", 128, 255, 512, 639))
    },
      // DuckDB twin of q179 (Z-order layout): the Morton spread ladder
      // restated step by step in BIGINT shift/AND CTEs (identical
      // operators both engines — every intermediate is non-negative and
      // < 2^32), the same two bucketings, the same zone-map fold. The
      // column `by` would be a keyword — the ladder uses mx/my names.
      Some("""WITH pts AS (
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
        |SELECT * FROM za UNION ALL SELECT * FROM ra""".stripMargin)),
    // multi-granularity corpus census via ROLLUP (source, lang):
    // Spark's rollup == SQL GROUP BY ROLLUP — subtotal rows carry
    // NULL group keys in both engines, and the data's keys are never
    // null so the marker is unambiguous; integer sums only
    Query("q196_rollup_census", (s, d) => {
      val docs = t(s, d, "documents")
      docs.rollup(col("source"), col("lang"))
        .agg(count(lit(1)).cast("bigint").as("n_docs"),
          sum(col("n_chars")).cast("bigint").as("chars_sum"))
        .select("source", "lang", "n_docs", "chars_sum")
    },
      // q196: GROUP BY ROLLUP — subtotal NULL markers match Spark's
      // rollup; HUGEINT sum cast back to BIGINT (q70 rule).
      Some("""SELECT source, lang, CAST(count(*) AS BIGINT) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS chars_sum
        |FROM documents GROUP BY ROLLUP (source, lang)""".stripMargin)),
    // Bloom-filter semi-join pruning audit: md5-prefix partitioned
    // bloom (k=4 × 256-bucket slices) built from one brand's part keys,
    // probed by lineitem's distinct partkeys; output = the
    // (bloom_pass, is_member) confusion cells — false positives
    // observable, the pass=0/member=1 cell provably absent
    Query("q61_bloom_prune", (s, d) =>
      BloomOps.semiJoinAudit(
        t(s, d, "part").where(col("p_brand") === "Brand#12"), "p_partkey",
        t(s, d, "lineitem"), "l_partkey")
        .groupBy(col("bloom_pass"), col("is_member"))
        .agg(count(lit(1)).cast("bigint").as("n_keys")),
      Some(q61Sql())),
    // histogram quantile estimation: the percentile-at-scale pattern —
    // ONE map-side-combinable groupBy into $100 price bins, then
    // cumulative/total windows + conditional aggregation over the
    // BOUNDED histogram (~1k rows; an exact percentile would sort the
    // full corpus). p50/p90/p99 as bin lower bounds in integer cents.
    Query("q52_price_quantiles", (s, d) => {
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
    },
      // DuckDB twin of q52: same integer-cent binning (both engines'
      // round() agrees on these data — the q1 idiom), same cumulative /
      // total windows and threshold rule.
      Some("""WITH h AS (
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
        |FROM c""".stripMargin))
  )
}
