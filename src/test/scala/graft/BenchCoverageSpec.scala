package graft

import org.scalatest.funsuite.AnyFunSuite

/** The round-4 verdict's top finding was 46 registered queries with
  * ZERO timing coverage — a perf regression there was invisible. This
  * pin makes the gap structural: every SparkEntry query must be in the
  * bench list (and vice versa), with the deliberately fenced
  * formulations enumerated here by name, each with its rationale. The
  * registry maps are keyed by name, so a name declared twice would
  * silently drop a query; SparkEntry refuses that at initialization and
  * the last test pins it.
  */
class BenchCoverageSpec extends AnyFunSuite {

  /** Oracle-only reference formulations excluded from timing ON
    * PURPOSE — each needs a written reason and a registered scale twin.
    */
  private val fenced = Map(
    // quadratic by construction (all-pairs n-gram Jaccard), fenced to
    // sf0.01 correctness duty; x_ngram_jaccard_lsh is the scale twin
    "q13_ngram_jaccard" -> "x_ngram_jaccard_lsh"
  )

  test("every registered query is timed by Bench (or fenced by name with a scale twin)") {
    val registered = SparkEntry.queries.keySet
    val timed = Bench.benchQueries.toSet
    val untimed = registered -- timed -- fenced.keySet
    assert(untimed.isEmpty, s"registered but untimed and not fenced: ${untimed.toSeq.sorted}")
    val stale = timed -- registered
    assert(stale.isEmpty, s"timed but not registered: ${stale.toSeq.sorted}")
    fenced.foreach { case (q, twin) =>
      assert(registered.contains(q), s"fenced query $q is not registered")
      assert(timed.contains(twin), s"fence twin $twin of $q is not timed")
    }
  }

  test("every declared query name is unique") {
    val names = SparkEntry.declared.map(_.name)
    assert(names.size == names.distinct.size,
      s"declared twice: ${names.diff(names.distinct).distinct.sorted}")
  }
}
