package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import scala.collection.mutable

/** Session-scoped materialized-stage sharing — the "components are
  * computed once" discipline of a real pipeline, expressed as a
  * library-level stage cache (round-4 verdict #3: q26/q32/q65/q66 each
  * re-derived the same MinHash-LSH pair graph and CC labels from
  * scratch because every registered query is self-contained by driver
  * contract; a production DAG materializes shared stages once).
  *
  * Lookup is the CacheManager pattern: entries are keyed by a stage
  * name + parameter string, then matched by Catalyst `sameResult` over
  * the ANALYZED input plan (canonicalized comparison — robust to
  * attribute-id renumbering across separate `spark.read.parquet` calls
  * of the same path). A hit returns the previously-built frame — for
  * eagerly-checkpointed stages (LSH shingle sets, CC labels) that means
  * zero recomputation; the checkpoint blocks stay alive exactly as long
  * as the cache holds the frame.
  *
  * Correctness is unaffected: every cached stage is a deterministic
  * pure function of its input plan + params (the engine-wide
  * determinism rule), so a hit is value-identical to a recompute — the
  * driver's per-query oracle gate sees the same rows either way.
  *
  * The cache is cleared whenever the active SparkSession changes
  * (checkpoint blocks die with their session) and is bounded per key;
  * `clear()` is exposed for tests.
  */
object StageCache {
  private final case class Entry(plan: LogicalPlan, result: DataFrame, gen: Long)
  private val entries = mutable.LinkedHashMap.empty[(String, String), mutable.ArrayBuffer[Entry]]
  private var session: SparkSession = null
  private var gen = 0L
  // r6: 4 was too tight for the full 239-query bench order — the
  // connectedComponents bucket collects one entry per distinct edge
  // graph (q26's w=3 corpus, q66's w=1, every sameAsCanonicalize
  // fixture, the cc-delta label graph, ...) and FIFO-evicted q26's
  // entry before q201 re-asked for it (measured: q201 0.5s on a hit,
  // 1.7s on the forced rebuild). Entries are checkpoint-block-backed
  // label/pair tables, or — for connectedComponents over at most
  // KgPipeline.LocalComponentsMaxEdges edges — label tables held on the
  // driver as local relations (at most 2 × the cap rows each, so the
  // bucket's driver memory is bounded by 8 × that). 8 keeps every
  // same-session consumer warm with bounded memory.
  private val maxPerKey = 8

  def clear(): Unit = synchronized { entries.clear(); session = null }

  /** Generation watermark for [[evictSince]] — the
    * bench's honesty hook: a RETRIED cache-building query must not hit
    * the entries its rejected attempt built (it would publish a
    * consumer-grade time that hides the build cost), so the bench
    * marks before each attempt and evicts the attempt's additions
    * before re-running.
    */
  def mark(): Long = synchronized { gen }

  /** Drop entries added after the watermark (memoization only — any
    * already-handed-out frames stay valid; their checkpoint blocks are
    * reference-tracked).
    */
  def evictSince(m: Long): Unit = synchronized {
    entries.valuesIterator.foreach(b => b.filterInPlace(_.gen <= m))
  }

  def getOrCompute(stage: String, params: String, input: DataFrame)
                  (compute: => DataFrame): DataFrame = synchronized {
    val spark = input.sparkSession
    if (!(spark eq session)) { entries.clear(); session = spark }
    val plan = input.queryExecution.analyzed
    val bucket = entries.getOrElseUpdate((stage, params), mutable.ArrayBuffer.empty)
    bucket.find(_.plan.sameResult(plan)) match {
      case Some(e) => e.result
      case None =>
        val r = compute
        if (bucket.size >= maxPerKey) bucket.remove(0)
        gen += 1
        bucket += Entry(plan, r, gen)
        r
    }
  }
}
