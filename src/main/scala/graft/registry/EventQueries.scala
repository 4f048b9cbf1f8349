package graft.registry

import org.apache.spark.sql.functions._
import graft.pipeline._

import QueryKit._

/** Event-stream analytics over `events`: latest-per-key, windows,
  * sessions, funnels, cohorts, growth, bursts and Markov transitions,
  * plus the as-of join and the interval join and coalescing operators.
  */
private[graft] object EventQueries {

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

  val queries: Seq[Query] = Seq(
    Query("q6_events_latest", (s, d) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id"), col("event_type"))
        .orderBy(col("ts").desc, col("event_id").desc)
      t(s, d, "events")
        .withColumn("rn", row_number().over(w))
        .where(col("rn") === 1)
        .select(col("user_id"), col("event_type"), col("event_id").as("latest_event"))
    },
      Some("""SELECT user_id, event_type, event_id AS latest_event FROM (
        |  SELECT user_id, event_type, event_id,
        |         row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts DESC, event_id DESC) AS rn
        |  FROM events) WHERE rn = 1""".stripMargin)),
    Query("q7_events_by_type", (s, d) => {
      t(s, d, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          round(min(col("value")), 4).as("min_value"),
          round(max(col("value")), 4).as("max_value"))
    },
      Some("""SELECT event_type, count(*) AS n, round(min(value), 4) AS min_value, round(max(value), 4) AS max_value
        |FROM events GROUP BY event_type""".stripMargin)),
    Query("q15_events_window", (s, d) => {
      t(s, d, "events")
        .groupBy(date_trunc("hour", col("ts")).as("hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(max(col("value")), 4).as("max_value"))
    },
      Some("""SELECT date_trunc('hour', ts) AS hour, event_type, count(*) AS n, round(max(value), 4) AS max_value
        |FROM events GROUP BY 1, 2""".stripMargin)),
    // validity-interval coalescing over 37 keys: gaps-and-islands with
    // gap=1 adjacency merge, duplicate (key, lo, hi) rows collapse
    // first (the q73 rule), and the oracle is the independent
    // endpoint formulation (starts no earlier interval reaches,
    // ends no later interval extends)
    Query("q188_interval_coalesce", (s, d) => {
      val docs = t(s, d, "documents")
      val iv = docs.select(
        concat(lit("k"), pmod(col("doc_id"), lit(37))).as("key"),
        pmod(col("doc_id") * 7, lit(500)).as("lo"),
        (pmod(col("doc_id") * 7, lit(500)) + pmod(col("doc_id"), lit(25))).as("hi"))
      EventOps.coalesceIntervals(iv, gap = 1L)
        .select("key", "lo", "hi", "n_merged")
    },
      // DuckDB twin of q188 (interval coalescing): the INDEPENDENT
      // endpoint formulation — island starts are los no earlier interval
      // reaches within the gap, island ends are his no later-reaching
      // interval extends; exactly one of each per island, paired
      // start → min(end ≥ start), members counted by lo containment.
      // Deliberately not a replay of the gaps-and-islands window plan.
      Some("""WITH iv AS MATERIALIZED (
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
        |GROUP BY i.key, i.lo, i.hi""".stripMargin)),
    // Interval-overlap join via timeline binning — the scale-safe
    // range join: intervals expand to width-64 bins, sides EQUI-join
    // on the bin, the exact overlap predicate prunes, pair-distinct
    // removes multi-bin duplicates; the oracle is the NAIVE overlap
    // join (safe at test SFs), deliberately independent of the
    // binning
    Query("q172_interval_join", (s, d) => {
      val docs = t(s, d, "documents")
      val aa = docs.select(concat(lit("a"), col("doc_id")).as("id"),
        pmod(col("doc_id") * 13, lit(1000)).as("lo"),
        (pmod(col("doc_id") * 13, lit(1000)) + pmod(col("doc_id"), lit(50))).as("hi"))
      val bb = docs.where(pmod(col("doc_id"), lit(5)) === 0)
        .select(concat(lit("b"), col("doc_id")).as("id"),
          pmod(col("doc_id") * 7, lit(1000)).as("lo"),
          (pmod(col("doc_id") * 7, lit(1000)) + pmod(col("doc_id"), lit(30))).as("hi"))
      EventOps.intervalOverlapJoin(aa, bb, binWidth = 64L).select("ida", "idb")
    },
      // DuckDB twin of q172 (interval join): the NAIVE overlap join —
      // O(|a|·|b|) but safe at test SFs — independent of the Spark
      // binning plan (which must be exactly candidate-complete: a bin
      // width can never lose a pair, only duplicate candidates).
      Some("""WITH a AS (
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
        |SELECT DISTINCT ida, idb FROM a JOIN b ON a.lo <= b.hi AND b.lo <= a.hi""".stripMargin)),
    // daily growth accounting: new / returning / resurrected actives
    // + churn attributed to the day after — all equi-joins over the
    // distinct (user, day) grid, full calendar spine
    Query("q82_growth_accounting", (s, d) => EventOps.growthAccounting(t(s, d, "events")),
      // DuckDB twin of q82: same (user, day) grid, same day+1 shift for
      // returning/churned, same full calendar spine via range(lo, hi+1).
      Some("""WITH du AS (
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
        |LEFT JOIN ch ON ch.day = spine.day""".stripMargin)),
    // rolling 7-day distinct active users: distinct (day, user) grid
    // exploded to its trailing-window target days — sliding count
    // distinct without a window sort or per-day self-join
    Query("q80_rolling_actives", (s, d) => EventOps.rollingActives(t(s, d, "events")),
      Some(q80Sql())),
    // first-order Markov transition census over per-user event
    // sequences (behavioral modeling input): counts + row-normalized
    // ppm per (prev, next) type pair; (user, ts) ordering is unique
    // (the q49 rule), ppm is truncating (q62)
    Query("q207_markov_transitions", (s, d) => EventOps.markovTransitions(t(s, d, "events")),
      // q207: lag over (user, ts) — unique ordering key (q49 rule);
      // row-normalized ppm via the window sum, truncating // (q62).
      Some("""WITH seq AS (
        |  SELECT user_id, event_type,
        |         lag(event_type) OVER (PARTITION BY user_id ORDER BY ts) AS prev_type
        |  FROM events),
        |c AS (SELECT prev_type, event_type AS next_type, count(*) AS n
        |      FROM seq WHERE prev_type IS NOT NULL GROUP BY 1, 2)
        |SELECT prev_type, next_type, CAST(n AS BIGINT) AS n,
        |  CAST(n * 1000000 // sum(n) OVER (PARTITION BY prev_type) AS BIGINT) AS p_ppm
        |FROM c""".stripMargin)),
    // burst detection: daily per-type volume vs the trailing 3-day
    // total via a value-RANGE window (calendar gaps shrink the
    // baseline, never widen the frame); ratio-to-trailing-mean in
    // truncating ppm with the burst flag at 1.5x
    Query("q208_burst_detect", (s, d) => EventOps.burstDays(t(s, d, "events")),
      // q208: the q80 NTZ-epoch day, value-RANGE trailing frame (both
      // engines frame by DAY VALUE, so gaps behave identically),
      // ratio-to-trailing-mean in truncating ppm.
      Some("""WITH daily AS (
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
        |FROM tr WHERE trail IS NOT NULL AND trail > 0""".stripMargin)),
    // temporal AS-OF join (click ← latest view at-or-before, per user):
    // union + ordered window carry-forward, ONE user-key shuffle; the
    // oracle is DuckDB's NATIVE ASOF JOIN — an independent
    // implementation of the semantics, not a replay
    Query("q49_asof_join", (s, d) => EventOps.asofJoin(t(s, d, "events")),
      // DuckDB twin of q49 — deliberately an INDEPENDENT implementation:
      // DuckDB's native ASOF LEFT JOIN (greatest right ts <= left ts per
      // key) against our union+window carry-forward. Deterministic
      // because (user_id, ts) is unique in the synthetic events table.
      Some("""WITH clicks AS (
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
        |  ON c.user_id = v.user_id AND c.ts >= v.ts""".stripMargin)),
    // gap-based sessionization: gaps-and-islands window + same-key
    // rollup without a second exchange
    Query("q50_sessionize", (s, d) => EventOps.sessionize(t(s, d, "events")),
      Some(q50Sql())),
    // salted two-phase aggregation over the 5-key skewed event_type —
    // oracle is the PLAIN group-by (salting must be value-invisible)
    Query("q63_salted_agg", (s, d) => EventOps.saltedTypeStats(t(s, d, "events")),
      // DuckDB twin of q63 is the PLAIN group-by — the whole point of the
      // salted two-phase plan is that the salt cancels exactly.
      Some("""SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS sum_value_c,
        |  CAST(min(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS min_value_c,
        |  CAST(max(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS max_value_c
        |FROM events GROUP BY event_type""".stripMargin)),
    // funnel analysis: greedy ordered view→click→purchase conversion,
    // per-stage user-keyed MIN aggregates chained by reduced joins
    Query("q53_funnel", (s, d) => EventOps.funnel(t(s, d, "events")),
      // DuckDB twin of q53: same greedy per-stage MIN chain, same strict
      // ordering rule and stage derivation.
      Some("""WITH base AS (
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
        |FROM u LEFT JOIN t1 USING (user_id) LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id)""".stripMargin)),
    // cohort retention triangle: first-activity-day cohorts × whole-day
    // offsets, exact integer epoch-day arithmetic
    Query("q54_cohort_retention", (s, d) => EventOps.cohortRetention(t(s, d, "events")),
      // DuckDB twin of q54: same (user, day)-distinct activity, same
      // min-day cohorts and integer epoch-day offsets.
      Some("""WITH activity AS (
        |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events
        |), f AS (
        |  SELECT user_id, min(day) AS cohort_day FROM activity GROUP BY user_id
        |)
        |SELECT CAST(cohort_day AS BIGINT) AS cohort_day,
        |  CAST(day - cohort_day AS BIGINT) AS day_offset,
        |  CAST(count(*) AS BIGINT) AS n_users
        |FROM activity JOIN f USING (user_id)
        |GROUP BY cohort_day, day - cohort_day""".stripMargin))
  )
}
