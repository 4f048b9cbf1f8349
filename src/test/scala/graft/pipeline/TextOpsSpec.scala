package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** The corpus word tokenizer's contract ([[TextOps.words]]): every
  * word-based operator and, through [[TextOps.wordsSql]], every
  * word-based DuckDB oracle relies on these cases.
  */
class TextOpsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[1]")
    .config("spark.sql.shuffle.partitions", 1)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def words(text: String): Option[Seq[String]] = {
    val s = spark
    import s.implicits._
    val row = Seq(Option(text)).toDF("text").select(TextOps.words(col("text"))).head()
    if (row.isNullAt(0)) None else Some(row.getSeq[String](0))
  }

  test("words lower-cases, splits on [^a-z0-9]+ and drops the empty tokens") {
    assert(words("Hello WORLD MiXeD").contains(Seq("hello", "world", "mixed")))
    assert(words("abc123 4x 2026").contains(Seq("abc123", "4x", "2026")))
    assert(words("Café naïve").contains(Seq("caf", "na", "ve")))
    assert(words("a,,,b!!--c...d").contains(Seq("a", "b", "c", "d")))
    assert(words("  --lead trail--  ").contains(Seq("lead", "trail")))
    assert(words("?!").contains(Seq.empty))
    assert(words("").contains(Seq.empty))
    assert(words(null).isEmpty)
  }
}
