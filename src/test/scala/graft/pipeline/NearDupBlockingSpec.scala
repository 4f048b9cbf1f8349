package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Completeness of the chunk-pigeonhole Hamming join
  * ([[Dedup.hammingPairs]]) against a brute-force all-pairs scan on
  * seeded random hashes: with no bucket over `maxBucket`, every pair
  * within hamming k must come back, with its exact distance, and
  * nothing else, also for k ≥ chunks; a planted hot bucket must drop
  * exactly the pairs whose only shared chunks lie in it.
  */
class NearDupBlockingSpec extends AnyFunSuite with BeforeAndAfterAll {

  private var spark: SparkSession = _

  override def beforeAll(): Unit = {
    spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-neardup-blocking")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
  }

  override def afterAll(): Unit = if (spark != null) spark.stop()

  /** Clusters of near-identical hashes: `bases` random `bits`-bit roots,
    * each with `perBase` variants that flip 0..maxFlips random bits, so
    * every distance 0..k occurs among the pairs.
    */
  private def clustered(seed: Long, bits: Int, bases: Int, perBase: Int, maxFlips: Int): Seq[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    val mask = if (bits == 64) -1L else (1L << bits) - 1
    (0 until bases).flatMap { _ =>
      val root = rnd.nextLong() & mask
      (0 until perBase).map { _ =>
        (0 until rnd.nextInt(maxFlips + 1)).foldLeft(root)((h, _) => h ^ (1L << rnd.nextInt(bits)))
      }
    }.zipWithIndex.map { case (h, i) => (i.toLong, h) }
  }

  private def frame(rows: Seq[(Long, Long)]): DataFrame = {
    val s = spark
    import s.implicits._
    rows.toDF("id", "h")
  }

  private def chunk(h: Long, c: Int): Long = (h >>> (c * 8)) & 255L

  /** Every pair a < b within hamming k, by a nested scan. */
  private def allPairs(rows: Seq[(Long, Long)], k: Int): Set[(Long, Long, Int)] =
    (for {
      (a, ha) <- rows
      (b, hb) <- rows
      if a < b
      d = java.lang.Long.bitCount(ha ^ hb)
      if d <= k
    } yield (a, b, d)).toSet

  private def joined(rows: Seq[(Long, Long)], chunks: Int, k: Int, maxBucket: Int): Set[(Long, Long, Int)] =
    Dedup.hammingPairs(frame(rows), "id", "h", chunks, k, maxBucket).collect()
      .map(r => (r.getAs[Long]("a"), r.getAs[Long]("b"), r.getAs[Int]("hamming"))).toSet

  private def assertSame(got: Set[(Long, Long, Int)], want: Set[(Long, Long, Int)], what: String): Unit =
    assert(got == want, s"$what: missing=${want -- got} extra=${got -- want}")

  test("32-bit hashes, 4 chunks: the bucketed join equals all-pairs hamming <= k for k <= 3") {
    val rows = clustered(seed = 11L, bits = 32, bases = 40, perBase = 6, maxFlips = 5)
    (0 to 3).foreach { k =>
      val want = allPairs(rows, k)
      assert(want.exists(_._3 == k), s"no pair at distance $k")
      assertSame(joined(rows, 4, k, maxBucket = rows.size), want, s"k=$k")
    }
  }

  test("64-bit hashes, 8 chunks: the bucketed join equals all-pairs hamming <= k for k <= 7") {
    // full 64-bit range: about half the hashes are negative, so the
    // top chunk carries the sign bit
    val rows = clustered(seed = 23L, bits = 64, bases = 30, perBase = 5, maxFlips = 9)
    assert(rows.exists(_._2 < 0))
    Seq(0, 1, 3, 5, 7).foreach { k =>
      val want = allPairs(rows, k)
      assert(want.exists(_._3 == k), s"no pair at distance $k")
      assertSame(joined(rows, 8, k, maxBucket = rows.size), want, s"k=$k")
    }
  }

  test("k >= chunks: 4 chunks at k = 6 still find pairs that differ in every byte") {
    // 0x01010101 differs from both others in all four bytes, so 4 byte
    // chunks alone would only recover (1, 3)
    val rows = Seq((1L, 0x00000000L), (2L, 0x01010101L), (3L, 0x00000003L))
    assertSame(joined(rows, 4, 6, maxBucket = rows.size),
      Set((1L, 2L, 4), (1L, 3L, 2), (2L, 3L, 4)), "fixed")
    val random = clustered(seed = 31L, bits = 32, bases = 40, perBase = 6, maxFlips = 8)
    (4 to 7).foreach { k =>
      val want = allPairs(random, k)
      assert(want.exists(_._3 == k), s"no pair at distance $k")
      assertSame(joined(random, 4, k, maxBucket = random.size), want, s"k=$k")
    }
  }

  test("a planted hot bucket is suppressed: pairs whose only shared chunk is hot drop out") {
    val rnd = new scala.util.Random(5L)
    // 12 hashes whose low chunk is 0 and whose other chunks are random:
    // (chunk 0, value 0) holds at least 12 rows, over maxBucket = 8
    val hotRows = (0 until 12).map(i => (1000L + i, rnd.nextLong() & 0xFFFFFF00L))
    // a planted pair inside the hot bucket, one bit apart in each of
    // chunks 1..3: hamming 3, sharing only the hot chunk
    val planted = Seq((2000L, 0x5A3C7100L), (2001L, 0x5A3C7100L ^ 0x01010100L))
    val rows = clustered(seed = 7L, bits = 32, bases = 20, perBase = 4, maxFlips = 4) ++ hotRows ++ planted
    val maxBucket = 8
    val sizes = rows.flatMap { case (_, h) => (0 until 4).map(c => (c, chunk(h, c))) }
      .groupBy(identity).map { case (key, v) => key -> v.size }
    val hot = sizes.collect { case (key, n) if n > maxBucket => key }.toSet
    assert(hot.contains((0, 0L)))
    val byId = rows.toMap
    // a pair survives iff it shares some (chunk, value) bucket that is not hot
    val want = allPairs(rows, 3).filter { case (a, b, _) =>
      val (ha, hb) = (byId(a), byId(b))
      (0 until 4).exists(c => chunk(ha, c) == chunk(hb, c) && !hot((c, chunk(ha, c))))
    }
    assert(allPairs(rows, 3).contains((2000L, 2001L, 3)) && !want.contains((2000L, 2001L, 3)))
    assertSame(joined(rows, 4, 3, maxBucket), want, "hot-suppressed")
  }
}
