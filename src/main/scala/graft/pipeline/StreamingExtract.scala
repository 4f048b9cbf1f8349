package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}

/** Streaming ingestion: the pipeline's Structured Streaming face
  * (the cluster-scale analogue of the reference's chunked
  * `decode_from_stream`, decoder.ex:50-53 — there a lazy enumerable,
  * here an unbounded page table).
  *
  *   pages (stream) ─flatMap extract→ triples, appended to a parquet
  *   sink.
  *
  * The extraction core is the same row-local state machine as batch —
  * streaming only changes the source/sink contract, not the operator.
  */
object StreamingExtract {

  /** Streaming pages → streaming triples (append mode, stateless). */
  def triples(pages: DataFrame): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages
      .select(col("url"), col("warc_ts"), col("html"))
      .as[(String, java.sql.Timestamp, Array[Byte])]
      .flatMap { case (url, ts, html) =>
        Extract.triplesOf(url, html) match {
          case Right(ts2) => ts2.iterator.map(t => (t.url, ts, t.subj, t.pred, t.obj, t.objKind, t.lang, t.datatype))
          case Left(_) => Iterator.empty
        }
      }
      .toDF("url", "warc_ts", "subj", "pred", "obj", "objKind", "lang", "datatype")
  }

  /** Online exact dedup over an unbounded document stream — custom
    * state via flatMapGroupsWithState: the stream is keyed by content
    * fingerprint, per-key state records whether the fingerprint was
    * already seen, and only the FIRST document per fingerprint is
    * emitted downstream (training pipelines dedup at ingest so
    * duplicates never reach storage). State per key is one boolean +
    * the keeper's id; event-time timeout bounds state on streams where
    * re-crawls stop recurring after `stateTtl`.
    *
    * Input columns: (doc_id bigint, text string, event_ts timestamp).
    * Output: (fp, keep_id, first emission only).
    */
  def streamingExactDedup(docs: DataFrame,
                          stateTtl: scala.concurrent.duration.FiniteDuration =
                            scala.concurrent.duration.Duration(1, "hour")): Dataset[(String, Long)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // ONE ttl drives both the watermark and the state timeout — two
    // independent knobs could silently disagree (state living 12x the
    // requested window, or early re-emission)
    val ttlMs = stateTtl.toMillis
    docs
      .select(col("doc_id"), col("text"), col("event_ts"))
      .withColumn("fp", TextOps.fingerprint(col("text")))
      .withWatermark("event_ts", s"${stateTtl.toSeconds} seconds")
      .as[(Long, String, java.sql.Timestamp, String)]
      .groupByKey(_._4)
      .flatMapGroupsWithState[Long, (String, Long)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (fp, rows, state: GroupState[Long]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // per-fingerprint batch is bounded by same-content docs in
            // one micro-batch — safe to materialize
            val batch = rows.toArray
            if (batch.isEmpty) Iterator.empty
            else {
              // TTL slides from the latest sighting's EVENT time (a
              // watermark-relative timeout would expire dormant state
              // as soon as the watermark advances past one batch)
              val maxTs = batch.iterator.map(_._3.getTime).max
              val timeoutAt = math.max(maxTs + ttlMs, state.getCurrentWatermarkMs() + 1)
              if (state.exists) {
                state.setTimeoutTimestamp(timeoutAt)
                Iterator.empty // fingerprint already emitted earlier
              } else {
                // deterministic keeper within the batch: smallest doc_id
                val keeper = batch.iterator.map(_._1).min
                state.update(keeper)
                state.setTimeoutTimestamp(timeoutAt)
                Iterator.single((fp, keeper))
              }
            }
          }
      }
  }

  /** Online MinHash-LSH NEAR-dup over an unbounded document stream —
    * the streaming twin of [[Dedup.minhashLsh]]. Each document's
    * signature is a pure per-row function (no shuffle, no streaming
    * aggregation): word w-shingle set → 64-bit hashes → bands×rows
    * minhash minima → one bucket id per band. The stream is keyed by
    * (band, bucket); per-bucket state holds up to `maxExemplars` recent
    * documents' SORTED shingle-hash sets, so arriving documents verify
    * EXACT Jaccard against candidates that may have arrived in earlier
    * micro-batches. Event-time TTL bounds state exactly like
    * [[streamingExactDedup]]; hot buckets are bounded by the exemplar
    * cap instead of the batch path's hot-bucket anti-join (state can
    * never exceed maxExemplars per bucket, the streaming analogue of
    * the |bucket|² guard).
    *
    * A pair sharing several bands can be emitted once per shared band
    * (bucket states are independent) — consumers dedupe with
    * `.distinct()`, the same discipline as the batch path's
    * dedup-before-verify but applied after, since cross-bucket state
    * cannot be consulted mid-stream.
    *
    * Input columns: (doc_id bigint, text string, event_ts timestamp).
    * Output: (a, b, jaccard) with a < b and jaccard >= threshold.
    */
  def streamingNearDup(docs: DataFrame,
                       threshold: Double = 0.5,
                       bands: Int = 4,
                       rowsPerBand: Int = 3,
                       shingleWidth: Int = 3,
                       maxExemplars: Int = 16,
                       stateTtl: scala.concurrent.duration.FiniteDuration =
                         scala.concurrent.duration.Duration(1, "hour")): Dataset[(Long, Long, Double)] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val ttlMs = stateTtl.toMillis

    // FNV-1a 64-bit: deterministic, dependency-free per-row hashing
    def fnv(s: String): Long = {
      var h = 0xcbf29ce484222325L
      var i = 0
      while (i < s.length) { h ^= s.charAt(i); h *= 0x100000001b3L; i += 1 }
      h
    }
    def mix(h: Long, seed: Int): Long = {
      var z = h + 0x9e3779b97f4a7c15L * (seed + 1)
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    def shingleHashes(text: String): Array[Long] = {
      if (text == null) return Array.empty
      val words = text.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
      if (words.isEmpty) return Array.empty
      val n = math.max(words.length - (shingleWidth - 1), 1)
      val set = new java.util.TreeSet[java.lang.Long]()
      var i = 0
      while (i < n) {
        set.add(fnv(words.slice(i, i + shingleWidth).mkString(" ")))
        i += 1
      }
      val out = new Array[Long](set.size)
      val it = set.iterator(); var j = 0
      while (it.hasNext) { out(j) = it.next(); j += 1 }
      out // sorted ascending — intersection below is a linear merge
    }
    def buckets(hs: Array[Long]): Array[Long] = {
      if (hs.isEmpty) return Array.empty
      (0 until bands).map { b =>
        var acc = 0xcbf29ce484222325L ^ b
        var r = 0
        while (r < rowsPerBand) {
          val seed = b * rowsPerBand + r
          var m = Long.MaxValue
          var i = 0
          while (i < hs.length) { val v = mix(hs(i), seed); if (v < m) m = v; i += 1 }
          acc = (acc ^ m) * 0x100000001b3L
          r += 1
        }
        acc
      }.toArray
    }
    def jaccard(a: Array[Long], b: Array[Long]): Double = {
      var i = 0; var j = 0; var inter = 0
      while (i < a.length && j < b.length) {
        if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
        else if (a(i) < b(j)) i += 1 else j += 1
      }
      val union = a.length + b.length - inter
      if (union == 0) 0.0 else inter.toDouble / union
    }

    docs
      .select(col("doc_id"), col("text"), col("event_ts"))
      .as[(Long, String, java.sql.Timestamp)]
      .flatMap { case (id, text, ts) =>
        val hs = shingleHashes(text)
        buckets(hs).zipWithIndex.iterator.map { case (bk, band) =>
          (band.toLong << 56 | (bk & 0x00ffffffffffffffL), id, hs, ts)
        }
      }
      // the watermark must be (re)declared on the flat-mapped frame: a
      // typed flatMap re-serializes its output, erasing the upstream
      // watermark marker the event-time timeout needs
      .toDF("bucket", "doc_id", "hs", "event_ts")
      .withWatermark("event_ts", s"${stateTtl.toSeconds} seconds")
      .as[(Long, Long, Array[Long], java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[List[(Long, Array[Long], Long)], (Long, Long, Double)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (_, rows, state: GroupState[List[(Long, Array[Long], Long)]]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            // micro-batch arrivals for this bucket, deterministic order
            val batch = rows.toArray.sortBy(_._2)
            if (batch.isEmpty) Iterator.empty
            else {
              var exemplars = state.getOption.getOrElse(Nil)
              val out = List.newBuilder[(Long, Long, Double)]
              batch.foreach { case (_, id, hs, ts) =>
                exemplars.foreach { case (eid, ehs, _) =>
                  if (eid != id) {
                    val j = jaccard(hs, ehs)
                    if (j >= threshold)
                      out += ((math.min(id, eid), math.max(id, eid),
                        math.rint(j * 10000) / 10000))
                  }
                }
                // newest-first; cap bounds both state size and pair fanout
                exemplars = ((id, hs, ts.getTime) :: exemplars.filterNot(_._1 == id)).take(maxExemplars)
              }
              val maxTs = batch.iterator.map(_._4.getTime).max
              state.update(exemplars)
              state.setTimeoutTimestamp(math.max(maxTs + ttlMs, state.getCurrentWatermarkMs() + 1))
              out.result().iterator
            }
          }
      }
  }

  /** Streaming funnel — the online twin of [[EventOps.funnel]]: per
    * user, custom state tracks the conversion stage reached (one
    * (stage, last_ts) pair per user — bounded, TTL-expired), and a row
    * (user_id, stage, ts_us) is emitted the moment a user ADVANCES a
    * stage. Within a micro-batch, arrivals replay in event-time order;
    * the greedy chain rule matches batch (each stage strictly after
    * the previous). Semantics caveat, documented: an event arriving in
    * a LATER micro-batch but with an EARLIER timestamp than the
    * current state cannot retroactively rebuild the chain — streaming
    * funnels are prefix-greedy over arrival order, exact when sources
    * deliver per-user events in order (the Kafka-per-key contract).
    *
    * Input columns: (event_id bigint, ts timestamp, user_id bigint,
    * event_type string).
    */
  def streamingFunnel(events: DataFrame,
                      steps: Seq[String] = Seq("view", "click", "purchase"),
                      stateTtl: scala.concurrent.duration.FiniteDuration =
                        scala.concurrent.duration.Duration(1, "hour")): Dataset[(Long, Int, Long)] = {
    val spark = events.sparkSession
    import spark.implicits._
    val ttlMs = stateTtl.toMillis
    val stepIdx = steps.zipWithIndex.toMap
    events
      .select(col("event_id"), col("ts"), col("user_id"), col("event_type"))
      .withWatermark("ts", s"${stateTtl.toSeconds} seconds")
      .as[(Long, java.sql.Timestamp, Long, String)]
      .groupByKey(_._3)
      .flatMapGroupsWithState[(Int, Long), (Long, Int, Long)](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        case (userId, rows, state: GroupState[(Int, Long)]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val batch = rows.toArray.sortBy(r => (r._2.getTime, r._1))
            if (batch.isEmpty) Iterator.empty
            else {
              var (stage, lastUs) = state.getOption.getOrElse((0, Long.MinValue))
              val out = List.newBuilder[(Long, Int, Long)]
              batch.foreach { case (_, ts, _, ty) =>
                val us = ts.getTime * 1000L
                if (stage < steps.length && stepIdx.get(ty).contains(stage) &&
                  (stage == 0 || us > lastUs)) {
                  stage += 1
                  lastUs = us
                  out += ((userId, stage, us))
                }
              }
              state.update((stage, lastUs))
              val maxTs = batch.iterator.map(_._2.getTime).max
              state.setTimeoutTimestamp(math.max(maxTs + ttlMs, state.getCurrentWatermarkMs() + 1))
              out.result().iterator
            }
          }
      }
  }

  /** Streaming sessionization — the Structured Streaming twin of
    * [[EventOps.sessionize]], built on Spark's NATIVE session_window
    * (not custom flatMapGroupsWithState): the engine's session-window
    * state store handles window merging, spill and expiry, and each
    * session emits exactly once when the watermark passes its close
    * (append mode) — the right primitive when the semantics fit, per
    * the same preference order as batch (compose built-ins before
    * custom state). Boundary note: session_window merges events with
    * gap < gapMinutes where the batch gaps-and-islands keeps
    * gap <= gapMinutes together — the two differ only at an
    * exactly-equal gap.
    *
    * Input columns: (event_id bigint, ts timestamp, user_id bigint,
    * event_type string). Output per CLOSED session: user_id,
    * start/end epoch micros of the observed events, duration,
    * n_events and per-type counts — same rollup columns as q50.
    *
    * Scale shape: one stateful exchange on user_id; state per open
    * session is the aggregate row only (no event buffering), bounded
    * by the watermark lateness.
    */
  def streamingSessionize(events: DataFrame, gapMinutes: Int = 240,
                          lateness: scala.concurrent.duration.FiniteDuration =
                            scala.concurrent.duration.Duration(10, "seconds")): DataFrame =
    events
      .withWatermark("ts", s"${lateness.toSeconds} seconds")
      .groupBy(col("user_id"), session_window(col("ts"), s"$gapMinutes minutes"))
      .agg(
        count(lit(1)).as("n_events"),
        min(unix_micros(col("ts"))).as("start_us"),
        max(unix_micros(col("ts"))).as("end_us"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L)).as("n_clicks"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"))
      .select(col("user_id"), col("n_events"), col("start_us"), col("end_us"),
        (col("end_us") - col("start_us")).as("duration_us"),
        col("n_clicks"), col("n_purchases"))

  /** Watermarked stream-stream INNER join — the click→view attribution
    * shape (each click joined to the same user's views in the
    * preceding `windowMinutes`), the one Structured Streaming join
    * capability the batch operators can't emulate incrementally.
    * Built on the engine's native stream-stream join: BOTH sides carry
    * a watermark and the join predicate carries a two-sided event-time
    * range, which is exactly what the state store needs to EVICT
    * buffered rows — a view row is dropped once the click-side
    * watermark passes `view_ts + windowMinutes`, so state is bounded
    * by (rate × window), not by stream length.
    *
    * Input: two event frames with (event_id, ts, user_id) — callers
    * pre-filter event_type (e.g. views vs clicks). Output per matched
    * pair: user_id, click_id, view_id, click/view epoch micros and the
    * gap — micros via the NTZ rule (never session-tz timestamps).
    *
    * Scale shape: one user-keyed stateful exchange per side (the
    * stream-stream join co-partitions both on the equi-key);
    * evictable range state as above. The batch twin is the same join
    * expressed statically — pinned equal by test.
    */
  def streamingAttribution(views: DataFrame, clicks: DataFrame,
                           windowMinutes: Int = 30,
                           lateness: scala.concurrent.duration.FiniteDuration =
                             scala.concurrent.duration.Duration(10, "seconds")): DataFrame = {
    val v = views
      .select(col("event_id").as("view_id"), col("ts").as("view_ts"),
        col("user_id").as("v_user_id"))
      .withWatermark("view_ts", s"${lateness.toSeconds} seconds")
    val c = clicks
      .select(col("event_id").as("click_id"), col("ts").as("click_ts"),
        col("user_id"))
      .withWatermark("click_ts", s"${lateness.toSeconds} seconds")
    c.join(v,
        col("user_id") === col("v_user_id") &&
          col("view_ts") <= col("click_ts") &&
          col("view_ts") >= col("click_ts") - expr(s"INTERVAL $windowMinutes MINUTES"),
        "inner")
      .select(col("user_id"), col("click_id"), col("view_id"),
        unix_micros(col("click_ts")).as("click_us"),
        unix_micros(col("view_ts")).as("view_us"),
        (unix_micros(col("click_ts")) - unix_micros(col("view_ts"))).as("gap_us"))
  }

  /** Streaming HyperLogLog registers per source — the incremental
    * corpus-cardinality monitor (distinct-trigram volume per feed as
    * the crawl streams in). The register table IS the sketch's merge
    * state: each micro-batch folds its trigrams into the per-(source,
    * bucket) `max(rho)` — max is associative/commutative, so the
    * streaming aggregation state equals the batch sketch over
    * everything seen (pinned equal by test). State is bounded at
    * 256 registers × sources regardless of stream length — the
    * mergeable-sketch property doing exactly its job.
    *
    * Derivation (md5 bucket/rho) is CorpusOps.hllRhoStream, the same
    * code path the q48/q58 batch oracles prove; the exact-distinct
    * companion column is omitted (distinct aggregation is not
    * streamable — it is the thing the sketch replaces). Finalization
    * to an estimate stays a cheap batch step over the 256×sources
    * register table (q58's hllFinalize).
    *
    * Run with outputMode Complete (register table is tiny) or Update.
    */
  def streamingHllBySource(docs: DataFrame): DataFrame =
    CorpusOps.hllRhoStream(docs, Seq("source"))
      .groupBy(col("source"), col("bucket"))
      .agg(max(col("rho")).as("max_rho"))

  /** Streaming count-min sketch registers — the q51 batch sketch's
    * streaming twin, same mergeable-register discipline as
    * [[streamingHllBySource]]: counts are SUMS, so the micro-batch
    * increment IS the merge and the register table is servable at any
    * time (point-estimate a term by min over its d row buckets; the
    * rank/top-k readout stays a batch pass by design — a global
    * ordering is not incrementally maintainable, the HLL
    * exact-distinct rule). Same md5 bucket derivation as the batch
    * sketch (the shared-core rule: a change there re-derives q51 AND
    * this stream). State bounded at depth × 16^hexLen rows, event
    * volume never retained.
    */
  def streamingCountMin(docs: DataFrame, depth: Int = 4, hexLen: Int = 3): DataFrame = {
    require(depth >= 1 && depth <= 8, "depth in [1,8]")
    require(hexLen >= 1 && hexLen <= 8, "bucket hex length in [1,8]")
    docs.select(explode(TextOps.words(col("text"))).as("term"))
      .select(col("term"), explode(sequence(lit(0), lit(depth - 1))).as("r"))
      .withColumn("bucket",
        substring(md5(concat(col("r").cast("string"), lit(":"), col("term"))), 1, hexLen))
      .groupBy(col("r"), col("bucket"))
      .agg(count(lit(1)).as("bcnt"))
  }

  /** Streaming incremental BGP view maintenance — the
    * [[TripleOps.bgpDelta]] telescoping applied per micro-batch via
    * foreachBatch: the state is the accumulated base triple SET (here
    * a checkpointed frame; in production a Delta/Iceberg table the
    * batch side of foreachBatch reads), and each micro-batch emits to
    * `sink` exactly the solutions the view GAINS from that batch's
    * genuinely-new triples. Invariants (spec-pinned):
    * per-batch emissions are pairwise DISJOINT (a solution is
    * reported once, by the batch whose triples complete it — BGP
    * views are monotone) and their union equals the batch
    * [[TripleOps.bgp]] over the whole stream so far. Work per trigger
    * scales with the increment, never the view — the streaming
    * answer to "re-run the SPARQL query over the whole KG after
    * every crawl increment".
    *
    * foreachBatch (not a stateful operator) is the right engine
    * surface: the maintenance step is a multi-way JOIN against a
    * table-sized base, which mapGroupsWithState cannot express and a
    * stream-static join cannot update.
    */
  def streamingBgpMaintain(triples: DataFrame,
      patterns: Seq[(String, String, String)],
      sink: DataFrame => Unit): StreamingQuery = {
    val spark = triples.sparkSession
    import spark.implicits._
    var base = Seq.empty[(String, String, String)].toDF("s", "p", "o")
    val step: (Dataset[org.apache.spark.sql.Row], Long) => Unit = (batch, _) => {
      val b = batch.select(col("s").cast("string").as("s"),
        col("p").cast("string").as("p"), col("o").cast("string").as("o"))
        .distinct().localCheckpoint(true)
      sink(TripleOps.bgpDelta(base, b, patterns))
      base = base.unionByName(b).distinct().localCheckpoint(true)
    }
    triples.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch(step)
      .start()
  }

  /** Incremental connected-components maintenance as a streaming
    * face — the canonicalization-upkeep twin of q184
    * ([[KgPipeline.connectedComponentsDelta]]) under Structured
    * Streaming: each micro-batch of new sameAs/near-dup edges merges
    * touched components through the delta-sized label-graph
    * contraction, and the sink receives ONLY the rows that changed —
    * nodes first seen this batch plus nodes whose component label
    * moved. Replaying the emissions as upserts reconstructs the batch
    * CC of the whole edge stream (spec-pinned), so a downstream table
    * maintained by these deltas is always the full canonical map.
    *
    * foreachBatch, not a stateful operator (the streamingBgpMaintain
    * argument): the maintenance step joins against the table-sized
    * label state, which mapGroupsWithState cannot express; in
    * production the state frame is the snapshot table the batch side
    * of foreachBatch reads and upserts.
    */
  def streamingCcMaintain(edges: DataFrame,
      sink: DataFrame => Unit): StreamingQuery = {
    val spark = edges.sparkSession
    import spark.implicits._
    var labels = Seq.empty[(String, String)].toDF("node", "component")
    val step: (Dataset[org.apache.spark.sql.Row], Long) => Unit = (batch, _) => {
      val b = batch.select(col("a").cast("string").as("a"),
        col("b").cast("string").as("b")).distinct().localCheckpoint(true)
      val updated = KgPipeline.connectedComponentsDelta(labels, b)
        .localCheckpoint(true)
      sink(updated.join(labels, Seq("node", "component"), "left_anti"))
      labels = updated
    }
    edges.writeStream
      .outputMode(OutputMode.Append())
      .foreachBatch(step)
      .start()
  }

  /** Wire a streaming page source to a parquet triple sink. */
  def start(pages: DataFrame, outDir: String, checkpointDir: String): StreamingQuery =
    triples(pages).writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .start()
}
