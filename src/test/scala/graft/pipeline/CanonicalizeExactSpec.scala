package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

/** [[KgPipeline.canonicalize]] against a brute-force exact merge: every
  * pair of aliases whose char-3-gram sets reach Jaccard 9/10 merges, and
  * no other, on seeded aliases that sit right at the threshold and just
  * under it.
  */
class CanonicalizeExactSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def grams(alias: String): Set[String] = alias.sliding(3).filter(_.length == 3).toSet

  /** |a∩b| / |a∪b| as an exact fraction (numerator, denominator). */
  private def jaccard(a: String, b: String): (Int, Int) = {
    val (x, y) = (grams(a), grams(b))
    ((x & y).size, (x | y).size)
  }

  /** entity → least entity of its component, over every pair at Jaccard >= 9/10. */
  private def bruteForce(dict: Seq[(String, String)]): Map[String, String] = {
    val es = dict.map(_._1).toIndexedSeq
    val gs = dict.map(d => grams(d._2)).toIndexedSeq
    val parent = mutable.Map(es.map(e => e -> e): _*)
    def find(e: String): String = if (parent(e) == e) e else { val r = find(parent(e)); parent(e) = r; r }
    for (i <- es.indices; j <- i + 1 until es.size) {
      val (inter, union) = ((gs(i) & gs(j)).size, (gs(i) | gs(j)).size)
      if (union > 0 && 10 * inter >= 9 * union) {
        val Seq(lo, hi) = Seq(find(es(i)), find(es(j))).sorted
        parent(hi) = lo
      }
    }
    es.map(e => e -> find(e)).toMap
  }

  private def canonical(dict: Seq[(String, String)]): Map[String, String] = {
    val s = spark
    import s.implicits._
    StageCache.clear()
    val rows = KgPipeline.canonicalize(dict.toDF("entity", "alias")).collect()
    val m = rows.map(r => r.getString(0) -> r.getString(1)).toMap
    assert(m.size == rows.length && m.keySet == dict.map(_._1).toSet)
    m
  }

  /** `n` pairs (alias of `len` letters, the alias plus one letter) whose
    * 3-gram Jaccard is exactly (len - 2) / (len - 1).
    */
  private def pairs(rng: scala.util.Random, n: Int, len: Int, ns: String): Seq[((String, String), (String, String))] =
    Iterator.continually {
      val a = Seq.fill(len)(('a' + rng.nextInt(26)).toChar).mkString
      (a, a + ('a' + rng.nextInt(26)).toChar)
    }.filter { case (a, b) => jaccard(a, b) == (len - 2, len - 1) }
      .take(n).zipWithIndex.map { case ((a, b), i) =>
        ((s"http://$ns.example/$i/a", a), (s"http://$ns.example/$i/b", b))
      }.toSeq

  test("pairs at Jaccard exactly 9/10 merge, pairs at 8/9 do not, as the brute-force merge says") {
    val rng = new scala.util.Random(20261020L)
    val at = pairs(rng, 400, 11, "at")
    val under = pairs(rng, 400, 10, "under")
    // an alias without 3-grams and one alias under two namespaces
    val extra = Seq("http://x.example/ab" -> "ab",
      "http://x.example/berlin" -> "berlin", "http://y.example/berlin" -> "berlin")
    val dict = at.flatMap(p => Seq(p._1, p._2)) ++ under.flatMap(p => Seq(p._1, p._2)) ++ extra
    val got = canonical(dict)
    val missed = at.filter { case ((e1, _), (e2, _)) => got(e1) != got(e2) }
    assert(missed.isEmpty, s"${missed.size} pairs at 9/10 left unmerged, e.g. ${missed.take(3)}")
    val merged = under.filter { case ((e1, _), (e2, _)) => got(e1) == got(e2) }
    assert(merged.isEmpty, s"${merged.size} pairs at 8/9 merged, e.g. ${merged.take(3)}")
    assert(got("http://x.example/ab") == "http://x.example/ab")
    assert(got("http://y.example/berlin") == "http://x.example/berlin")
    assert(got == bruteForce(dict))
  }

  test("a lone pair at 9/10 merges: wjtsvspexbv / wjtsvspexbvp") {
    assert(jaccard("wjtsvspexbv", "wjtsvspexbvp") == (9, 10))
    val dict = Seq("http://a.example/wjtsvspexbv" -> "wjtsvspexbv",
      "http://b.example/wjtsvspexbvp" -> "wjtsvspexbvp")
    assert(canonical(dict) == Map(
      "http://a.example/wjtsvspexbv" -> "http://a.example/wjtsvspexbv",
      "http://b.example/wjtsvspexbvp" -> "http://a.example/wjtsvspexbv"))
  }
}
