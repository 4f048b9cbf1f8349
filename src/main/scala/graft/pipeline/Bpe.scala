package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Byte-pair-encoding (Sennrich et al. 2016, ACL — public algorithm):
  * a distributed trainer and a real merge-order encoder, the tokenizer
  * stage of a training-data pipeline.
  *
  * Scale design: the ONLY corpus-sized pass is the word-frequency
  * aggregation — one map-side-combinable groupBy shuffle. The merge
  * loop itself runs on the top-`maxTypes` word types (a bounded table:
  * standard practice — BPE statistics saturate long before the type
  * tail), so driver memory and time are independent of corpus size.
  * Encoding is a pure per-row function over a broadcast merge-rank map
  * (small arrays, once per word — not a per-element hot-path lambda).
  *
  * Everything is deterministic: ties in pair counts break on the
  * lexicographically smallest (left, right), so the merges table is a
  * pure function of the corpus.
  */
object Bpe {

  /** Distributed word-type frequency table over `[a-z]+` runs of the
    * lowercased text. One shuffle, map-side combinable.
    */
  def wordFreq(docs: DataFrame): DataFrame =
    docs.select(explode(filter(split(lower(col("text")), "[^a-z]+"), w => w =!= "")).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))

  /** Train `numMerges` BPE merges from a corpus. The word-type table is
    * capped at the `maxTypes` most frequent types (ties broken
    * lexicographically) before the driver-side merge loop — the cap is
    * what keeps this safe at 100 TB.
    */
  def train(docs: DataFrame, numMerges: Int, maxTypes: Int = 50000): Seq[(String, String)] = {
    val types = wordFreq(docs)
      .orderBy(col("freq").desc, col("word"))
      .limit(maxTypes)
      .collect()
      .map(r => (r.getString(0), r.getLong(1)))
      .toSeq
    trainFromTypes(types, numMerges)
  }

  /** The classic merge loop over a (word type → frequency) table:
    * repeatedly merge the most frequent adjacent symbol pair.
    */
  def trainFromTypes(types: Seq[(String, Long)], numMerges: Int): Seq[(String, String)] = {
    var words: Array[(Array[String], Long)] =
      types.map { case (w, f) => (w.map(_.toString).toArray, f) }.toArray
    val merges = mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (merges.size < numMerges && !done) {
      val counts = mutable.HashMap.empty[(String, String), Long]
      words.foreach { case (syms, f) =>
        var i = 0
        while (i < syms.length - 1) {
          val k = (syms(i), syms(i + 1))
          counts.update(k, counts.getOrElse(k, 0L) + f)
          i += 1
        }
      }
      if (counts.isEmpty) done = true
      else {
        // deterministic argmax: max count, then smallest (left, right)
        val best = counts.foldLeft(null.asInstanceOf[((String, String), Long)]) {
          case (acc, kv) =>
            if (acc == null) kv
            else if (kv._2 > acc._2) kv
            else if (kv._2 == acc._2 &&
              (kv._1._1 < acc._1._1 || (kv._1._1 == acc._1._1 && kv._1._2 < acc._1._2))) kv
            else acc
        }
        merges += best._1
        words = words.map { case (syms, f) => (mergePair(syms, best._1._1, best._1._2), f) }
      }
    }
    merges.toSeq
  }

  private def mergePair(syms: Array[String], l: String, r: String): Array[String] = {
    val out = mutable.ArrayBuffer.empty[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == l && syms(i + 1) == r) {
        out += l + r
        i += 2
      } else {
        out += syms(i)
        i += 1
      }
    }
    out.toArray
  }

  /** Encode one word with the trained merges — the real BPE algorithm
    * (lowest-rank pair first), not greedy longest-match.
    */
  def encodeWord(word: String, rank: collection.Map[(String, String), Int]): Array[String] = {
    if (word.isEmpty) return Array.empty
    var syms: Array[String] = word.map(_.toString).toArray
    var improved = true
    while (improved && syms.length > 1) {
      var bestRank = Int.MaxValue
      var bestAt = -1
      var i = 0
      while (i < syms.length - 1) {
        rank.get((syms(i), syms(i + 1))).foreach { rk =>
          if (rk < bestRank) { bestRank = rk; bestAt = i }
        }
        i += 1
      }
      if (bestAt < 0) improved = false
      else syms = mergePair(syms, syms(bestAt), syms(bestAt + 1))
    }
    syms
  }

  /** Per-document BPE token count with a broadcast merge-rank map:
    * `(doc_id, bpe_tokens)`. The encode is a pure function per word —
    * bounded work, no shuffle beyond the scan.
    */
  def tokenCounts(docs: DataFrame, merges: Seq[(String, String)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val rankB = spark.sparkContext.broadcast(merges.zipWithIndex.toMap)
    docs.select(col("doc_id"), lower(col("text")).as("text"))
      .as[(Long, String)]
      .mapPartitions { it =>
        val rank = rankB.value
        val wordRe = "[a-z]+".r
        it.map { case (id, text) =>
          val n =
            if (text == null) 0L
            else wordRe.findAllIn(text).foldLeft(0L)((acc, w) => acc + encodeWord(w, rank).length)
          (id, n)
        }
      }
      .toDF("doc_id", "bpe_tokens")
  }

  /** The merges table as a DataFrame `(rank, left, right)` — the
    * trainer's registered-query surface.
    */
  def mergesTable(spark: SparkSession, merges: Seq[(String, String)]): DataFrame = {
    import spark.implicits._
    merges.zipWithIndex.map { case ((l, r), i) => (i.toLong, l, r) }
      .toDF("rank", "left", "right")
  }

  // -------------------------------------------- shipped merges resource

  /** Merges trained by [[graft.tools.BpeTrainCli]] on the sf0.1
    * documents corpus (60 merges — capped below the tiny synthetic
    * vocabulary's saturation point so encoding still subdivides words)
    * and checked in as `graft/bpe_merges.txt`. A pure function of the
    * corpus: retraining reproduces the file byte-for-byte.
    */
  lazy val shippedMerges: Seq[(String, String)] = {
    val in = getClass.getResourceAsStream("/graft/bpe_merges.txt")
    require(in != null, "bpe_merges.txt resource missing")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().map { line =>
      val t = line.split("\t", 2)
      (t(0), t(1))
    }.toVector
    finally in.close()
  }

  /** Subword vocabulary induced by [[shippedMerges]] (every merge
    * product), ordered longest-first then lexicographic — the ordering
    * that makes a leftmost-first regex alternation implement greedy
    * longest-match identically in java.util.regex (Spark) and RE2
    * (DuckDB), the same cross-engine contract as
    * [[TextOps.subwordVocab]].
    */
  lazy val trainedVocab: Seq[String] =
    shippedMerges.map { case (l, r) => l + r }.distinct.sortBy(p => (-p.length, p))

  /** Greedy longest-match alternation over the trained vocabulary with
    * a single-char fallback. Vocab tokens are `[a-z]+` only — no regex
    * metacharacters to escape. [[TextOps.subwordCount]] over it is the
    * oracle-checkable twin of [[tokenCounts]] (merge-order BPE is not SQL).
    */
  lazy val trainedVocabPattern: String =
    "(" + (trainedVocab :+ "[a-z0-9]").mkString("|") + ")"

  /** Fixed multi-character unit inventory for [[wordpieceSegment]] —
    * shared verbatim with the q189 oracle's VALUES list (the q36
    * shared-constant rule: lowercase ASCII only, no quoting hazard).
    */
  val WordpieceUnits: Seq[String] = Seq(
    "th", "he", "in", "er", "an", "re", "on", "at", "en", "nd", "ti",
    "es", "or", "te", "of", "ed", "is", "it", "al", "ar", "st", "to",
    "ng", "se", "ha", "as", "ou", "io", "le", "ve", "co", "me", "de",
    "hi", "ri", "ro", "ic", "ne", "ea", "ra", "ce", "li", "ch", "ll",
    "be", "ma", "si", "om", "ur", "ing", "ion", "tio", "ent", "ati")

  /** Single-quoted SQL array literal over a unit inventory — units are
    * restricted to lowercase ASCII alphanumerics (the q189 invariant)
    * so splicing into generated expressions is quote-safe, the same
    * discipline as the q36 URL constants.
    */
  private def unitArrayLit(units: Seq[String], l: Int): String =
    units.filter(_.length == l).sorted.map(u => s"'$u'").mkString("array(", ",", ")")

  private def requireSpliceSafeUnits(units: Seq[String]): Unit =
    require(units.forall(_.matches("[a-z0-9]+")),
      "units must be lowercase ASCII alphanumerics (spliced into generated SQL)")

  /** WordPiece-style greedy longest-match-first segmentation — the
    * INFERENCE tokenizer (BERT's rule: at each position take the
    * longest vocabulary unit that matches; every single character is
    * implicitly in the vocabulary, so the walk always advances).
    * Differs from the regex alternation of [[TextOps.subwordCount]], which
    * is leftmost-FIRST priority, not longest.
    *
    * Shape: ONE row-local `aggregate` walk per DISTINCT word type —
    * the greedy cursor advances through the word inside a single
    * expression (longest unit membership per position via
    * `array_contains` over the per-length inventory arrays), so the
    * whole tokenizer is a projection: no step table, no composition
    * joins, no per-round checkpoints. This is the sanctioned
    * once-per-row small-array lambda regime (words are ≤ maxWordLen
    * chars and DISTINCT'd first — the production trick: tokenize each
    * type once, join back by occurrence when needed); the r6 A/B
    * against the former 5-round doubling-composition plan measured
    * 2.1s → 0.4s for q189 at sf0.1 with identical output. Per-word
    * work is corpus-independent either way; the row-local form also
    * removes the 6 driver-blocking checkpoint actions per call.
    *
    * Input: a (word) frame. Output: (word, tokens, ntok) with tokens
    * comma-joined in order (the q79 array-as-string rule).
    */
  def wordpieceSegment(wordsDf: DataFrame, units: Seq[String] = WordpieceUnits,
      maxWordLen: Int = 32): DataFrame = {
    require(units.nonEmpty && units.forall(_.length >= 2),
      "units must be multi-character (single chars are implicit)")
    require(maxWordLen >= 1 && maxWordLen <= 32, "maxWordLen in [1,32]")
    requireSpliceSafeUnits(units)
    val words = wordsDf.select(col("word").cast("string").as("word")).distinct()
      .where(length(col("word")).between(1, maxWordLen))
    // longest-match length at the cursor: nested IFs descending by
    // unit length (max-match == first hit in descending order), the
    // single-char fallback closing the chain
    val lensDesc = units.map(_.length).distinct.sorted.reverse
    val lExpr = lensDesc.foldRight("1") { (l, rest) =>
      s"IF(array_contains(${unitArrayLit(units, l)}, substring(word, acc.p + 1, $l)), $l, $rest)"
    }
    // acc = (p: chars consumed, t: comma-joined tokens, n: token count);
    // one iteration per char position, but only the iteration landing
    // exactly on the cursor advances (the walk consumes >= 1 char per
    // visited position, so len iterations always finish the word)
    val walk =
      s"""aggregate(
         |  sequence(1, length(word)),
         |  named_struct('p', 0, 't', '', 'n', CAST(0 AS BIGINT)),
         |  (acc, step) -> IF(step - 1 != acc.p, acc,
         |    named_struct(
         |      'p', acc.p + $lExpr,
         |      't', IF(acc.n = 0, substring(word, acc.p + 1, $lExpr),
         |               concat(acc.t, ',', substring(word, acc.p + 1, $lExpr))),
         |      'n', acc.n + CAST(1 AS BIGINT))))""".stripMargin
    words.select(col("word"), expr(walk).as("fin"))
      .select(col("word"), col("fin.t").as("tokens"), col("fin.n").as("ntok"))
  }

  /** Integer unit costs for [[viterbiSegmentCensus]] — a pure
    * function of unit LENGTH (70·len + 10: bigrams 150, trigrams
    * 220) so the oracle needs no per-unit cost table, just the
    * shared [[WordpieceUnits]] VALUES list and literal per-length
    * costs; single characters (the implicit universal fallback) cost
    * [[ViterbiCharCost]]. Two singles (200) beat nothing a bigram
    * (150) covers, three singles (300) lose to any trigram (220) or
    * bigram+single (250) — real min-cost structure with reachable
    * ties (two unit tilings at equal cost), which is what `n_best`
    * counts.
    */
  val ViterbiCharCost = 100L
  // the linear form's coefficients, exposed so SQL-expression callers
  // (q213's greedy-cost lambda) can splice the SAME cost model instead
  // of repeating literals that could silently desync (ADVICE-r5 #4)
  val ViterbiUnitSlope = 70L
  val ViterbiUnitIntercept = 10L
  def viterbiUnitCost(len: Int): Long = ViterbiUnitSlope * len + ViterbiUnitIntercept

  /** Unigram-LM Viterbi segmentation census — the OPTIMAL min-cost
    * segmentation per word type under an additive unit-cost model
    * (what SentencePiece's unigram tokenizer computes at inference
    * with costs = −log p), completing the subword triad: q25 BPE
    * (merge replay), q189 WordPiece (greedy longest-match), q211
    * Viterbi (global optimum — greedy is suboptimal exactly where
    * these two reports disagree). Output per word type: (word, len,
    * min_cost, n_best) where n_best counts the distinct optimal
    * segmentations (the tie census — a training-data tokenizer wants
    * to know where its segmentation is non-unique).
    *
    * Row-local DP, ONE `aggregate` expression per DISTINCT word type:
    * the accumulator is the layer array [(cost, ways)] for positions
    * 0..j, each step folds the single-char fallback against one
    * `array_contains` membership probe per distinct unit length
    * (constant substring start/length per lane, exactly the lanes the
    * former relational plan joined). The whole census is a projection
    * — no per-position rounds, no joins, no checkpoints, no scalar
    * collect for the data max (the expression is bounded by each
    * row's own length). This is the sanctioned once-per-row
    * small-array lambda regime: words are ≤ maxWordLen chars and
    * DISTINCT'd first (tokenize each type once — the production
    * trick), so per-word work is corpus-independent; the r6 A/B
    * against the 16-round relational DP measured q211 3.4s → 0.5s at
    * sf0.1 with identical output (the round structure was pure
    * driver/job overhead at every scale — layer rows are per-word
    * state either way).
    * Words longer than maxWordLen are excluded from the census on
    * BOTH engine sides (a documented filter, not a truncation).
    */
  def viterbiSegmentCensus(wordsDf: DataFrame, units: Seq[String] = WordpieceUnits,
      maxWordLen: Int = 16): DataFrame = {
    require(units.nonEmpty && units.forall(u => u.length >= 2 && u.length <= 8),
      "units must be multi-character (single chars are implicit), len <= 8")
    require(maxWordLen >= 1 && maxWordLen <= 32, "maxWordLen in [1,32]")
    requireSpliceSafeUnits(units)
    val words = wordsDf.select(col("word").cast("string").as("word")).distinct()
      .where(length(col("word")).between(1, maxWordLen))
    val unitLens = units.map(_.length).distinct.sorted
    // layer i lives at element i+1 of the accumulator; at position j
    // the candidate reaching back over a length-l unit reads layer
    // j-l (element j-l+1) — the IF guard keeps element_at indices >= 1
    // and is what makes the lane lazy (never evaluated when j < l or
    // the substring is not in the inventory)
    val candSingle = s"element_at(acc, step).c + ${ViterbiCharCost}L"
    val waySingle = "element_at(acc, step).w"
    val unitCands = unitLens.map { l =>
      val cond = s"step >= $l AND array_contains(${unitArrayLit(units, l)}, " +
        s"substring(word, step - ${l - 1}, $l))"
      val c = s"IF($cond, element_at(acc, step - ${l - 1}).c + ${viterbiUnitCost(l)}L, " +
        "CAST(NULL AS BIGINT))"
      val w = s"element_at(acc, step - ${l - 1}).w"
      (c, w, cond)
    }
    val minExpr = (candSingle +: unitCands.map(_._1)).mkString("least(", ", ", ")")
    // ways = Σ ways over argmin candidates; a NULL (inapplicable) lane
    // compares NULL = min -> false branch, contributing 0
    val waysExpr = (s"IF($candSingle = $minExpr, $waySingle, 0L)" +:
      unitCands.map { case (c, w, _) => s"IF($c = $minExpr, $w, 0L)" })
      .mkString(" + ")
    val dp =
      s"""aggregate(
         |  sequence(1, length(word)),
         |  array(named_struct('c', CAST(0 AS BIGINT), 'w', CAST(1 AS BIGINT))),
         |  (acc, step) -> concat(acc, array(named_struct('c', $minExpr, 'w', $waysExpr))),
         |  acc -> element_at(acc, -1))""".stripMargin
    words.select(col("word"), expr(dp).as("fin"))
      .select(col("word"), length(col("word")).cast("bigint").as("len"),
        col("fin.c").as("min_cost"), col("fin.w").as("n_best"))
  }
}
