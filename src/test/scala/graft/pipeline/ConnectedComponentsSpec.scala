package graft.pipeline

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.scalacheck.{Gen, Prop, Test => Check}
import org.scalacheck.Prop.propBoolean
import org.scalacheck.rng.Seed
import org.scalatest.funsuite.AnyFunSuite
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable

/** Both paths of [[KgPipeline.connectedComponents]] — driver union-find
  * for small edge sets, distributed large-star/small-star rounds for
  * large ones — against a naive BFS oracle, the Spark-job budget of
  * canonicalization, and [[GraphOps.eccentricity]]'s one-hop fallback
  * on hub graphs.
  */
class ConnectedComponentsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def local(edges: DataFrame): DataFrame =
    KgPipeline.connectedComponentsUncached(edges, 50, localMaxEdges = Long.MaxValue)
  private def distributed(edges: DataFrame, maxIters: Int = 50): DataFrame =
    KgPipeline.connectedComponentsUncached(edges, maxIters, localMaxEdges = -1L)

  /** (node → component) rows, failing on a node labelled twice. */
  private def labels(cc: DataFrame): Map[Any, Any] = {
    val rows = cc.collect().map(r => r.get(0) -> r.get(1))
    val m = rows.toMap
    assert(m.size == rows.length, s"a node carries two labels: ${rows.toSeq}")
    m
  }

  /** Per node, the least node reachable from it (by `lt`), found by a
    * plain BFS over the undirected edges — the definition of the label.
    */
  private def bfsOracle[A](edges: Seq[(A, A)], lt: (A, A) => Boolean): Map[Any, Any] = {
    val adj = edges.filter { case (a, b) => a != b }
      .flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupMap(_._1)(_._2)
    adj.keys.map { start =>
      val seen = mutable.LinkedHashSet(start)
      val queue = mutable.Queue(start)
      while (queue.nonEmpty) adj(queue.dequeue()).foreach(n => if (seen.add(n)) queue.enqueue(n))
      (start: Any) -> (seen.reduce((x, y) => if (lt(y, x)) y else x): Any)
    }.toMap
  }

  // Spark orders strings by UTF-8 bytes, i.e. by code point
  private def codePointLt(x: String, y: String): Boolean =
    java.util.Arrays.compare(x.codePoints.toArray, y.codePoints.toArray) < 0

  /** Random edge lists with self-loops, duplicate and reversed edges. */
  private def graphs[A](node: Gen[A]): Gen[List[(A, A)]] = {
    val edge = for {
      a <- node
      b <- Gen.frequency(1 -> Gen.const(a), 6 -> node)
    } yield (a, b)
    for {
      base <- Gen.listOf(edge)
      dups <- Gen.someOf(base)
      revs <- Gen.someOf(base)
    } yield base ++ dups ++ revs.map(_.swap)
  }

  private def bothPathsMatchOracle[A](g: Gen[List[(A, A)]], toDf: List[(A, A)] => DataFrame,
      lt: (A, A) => Boolean): Unit = {
    val prop = Prop.forAll(g) { edges =>
      val df = toDf(edges)
      val (l, d) = (local(df), distributed(df))
      val (want, gotL, gotD) = (bfsOracle(edges, lt), labels(l), labels(d))
      (l.schema == d.schema) :| s"schemas ${l.schema} vs ${d.schema}" &&
        (gotL == want) :| s"local $gotL vs oracle $want" &&
        (gotD == want) :| s"distributed $gotD vs oracle $want"
    }
    val params = Check.Parameters.default.withMinSuccessfulTests(8).withInitialSeed(Seed(20261017L))
    val result = Check.check(params, prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }

  test("local and distributed labels equal a BFS oracle on random Long-id graphs") {
    val s = spark
    import s.implicits._
    // negative ids: labels must follow numeric order, not string order
    bothPathsMatchOracle[Long](graphs(Gen.choose(-15L, 40L)), _.toDF("a", "b"), _ < _)
  }

  test("local and distributed labels equal a BFS oracle on random String-id graphs") {
    val s = spark
    import s.implicits._
    // U+FFFD and U+E000 sort below U+1F600 by code point (Spark's order)
    // but above it by UTF-16 unit (String.compareTo). Ids starting at
    // U+E000 or above are drawn 3 times in 4, so many components have
    // no lower id that would hide a wrong order.
    val high = Gen.oneOf("\ue000", "\ufffd", "\ufffda", "\ud83d\ude00", "\ud83d\ude01", "\ud83d\ude00a")
    val low = Gen.oneOf("", "a", "aa", "B", "z", "\u00e9", "x\ud83d\ude00", "x\ufffd")
    bothPathsMatchOracle[String](graphs(Gen.frequency(3 -> high, 1 -> low)), _.toDF("a", "b"), codePointLt)
  }

  test("U+FFFD next to U+1F600 is labelled by code point order on both paths") {
    val s = spark
    import s.implicits._
    val edges = Seq(("\ud83d\ude00", "\ufffd"), ("\ue000", "\ud83d\ude01")).toDF("a", "b")
    val want = Map[Any, Any]("\ufffd" -> "\ufffd", "\ud83d\ude00" -> "\ufffd",
      "\ue000" -> "\ue000", "\ud83d\ude01" -> "\ue000")
    assert(labels(local(edges)) == want)
    assert(labels(distributed(edges)) == want)
  }

  test("small edge sets are labelled on the driver as a local relation") {
    val s = spark
    import s.implicits._
    val edges = Seq((2L, 1L), (3L, 2L), (9L, 8L)).toDF("a", "b")
    def isLocal(cc: DataFrame): Boolean = cc.queryExecution.analyzed.isInstanceOf[LocalRelation]
    assert(isLocal(KgPipeline.connectedComponents(edges)))
    assert(!isLocal(distributed(edges)))
    // a type without driver-side value equality takes the rounds
    assert(!isLocal(local(Seq((Array[Byte](2), Array[Byte](1))).toDF("a", "b"))))
  }

  test("distributed rounds close a 60-node path and throw when maxIters is too small") {
    val s = spark
    import s.implicits._
    val chain = (1L until 60L).map(i => (i + 1, i)).toDF("a", "b")
    val out = labels(distributed(chain))
    assert(out.keySet == (1L to 60L).toSet[Any])
    assert(out.values.forall(_ == 1L), out.toString)
    // non-convergence throws rather than shipping unstable labels
    intercept[IllegalStateException](distributed(chain, maxIters = 1))
  }

  /** Spark jobs started while `body` runs. */
  private def jobsOf[A](body: => A): (A, Int) = {
    val sc = spark.sparkContext
    val n = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = n.incrementAndGet()
    }
    TestListenerBus.drain(sc)
    sc.addSparkListener(listener)
    try {
      val a = body
      TestListenerBus.drain(sc)
      (a, n.get)
    } finally sc.removeSparkListener(listener)
  }

  // measured with the driver-side labelling (stable over repeated runs)
  private val CanonicalizeJobBudget = 6

  test("canonicalize stays within its Spark-job budget on a small alias dictionary") {
    val s = spark
    import s.implicits._
    // three alias groups (same local name under different namespaces)
    // and two singletons
    val dict = Seq(
      "http://a.example/berlin", "http://b.example/berlin", "http://c.example/berlin",
      "http://a.example/paris", "http://b.example/paris",
      "http://a.example/london", "http://d.example/london",
      "http://a.example/madrid", "http://a.example/vienna")
      .map(e => (e, e.substring(e.lastIndexOf('/') + 1))).toDF("entity", "alias")
    StageCache.clear()
    val (rows, jobs) = jobsOf(KgPipeline.canonicalize(dict).collect())
    val canon = rows.map(r => r.getString(0) -> r.getString(1)).toMap
    assert(canon == Map(
      "http://a.example/berlin" -> "http://a.example/berlin",
      "http://b.example/berlin" -> "http://a.example/berlin",
      "http://c.example/berlin" -> "http://a.example/berlin",
      "http://a.example/paris" -> "http://a.example/paris",
      "http://b.example/paris" -> "http://a.example/paris",
      "http://a.example/london" -> "http://a.example/london",
      "http://d.example/london" -> "http://a.example/london",
      "http://a.example/madrid" -> "http://a.example/madrid",
      "http://a.example/vienna" -> "http://a.example/vienna"), canon.toString)
    assert(jobs <= CanonicalizeJobBudget, s"canonicalize ran $jobs Spark jobs, budget $CanonicalizeJobBudget")
  }

  test("eccentricity on a hub graph: the one-hop fallback equals three-hop rounds and BFS") {
    val s = spark
    import s.implicits._
    // hub 0 with 40 leaves (degree above the multi-hop bound), one
    // leaf continuing into a 4-node tail, plus a separate short path
    val hubEdges = (1L to 40L).map(i => (0L, i)) ++
      Seq((40L, 41L), (41L, 42L), (42L, 43L), (43L, 44L), (100L, 101L), (101L, 102L))
    assert(40L > GraphOps.EccentricityMultiHopMaxDegree)
    val pairs = hubEdges.toDF("a", "b")
    val seeds = Seq(0L, 1L, 44L, 100L, 101L).toDF("node")
    def ecc(df: DataFrame): Set[(Long, Long, Long)] =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val (fallback, fallbackJobs) = jobsOf(ecc(GraphOps.eccentricity(pairs, seeds, maxHops = 10)))
    val (threeHop, threeHopJobs) = jobsOf(ecc(
      GraphOps.eccentricityUnderHubCap(pairs, seeds, maxHops = 10, multiHopMaxDegree = Long.MaxValue)))
    // driver BFS: (seed, max distance, component size)
    val adj = hubEdges.flatMap { case (a, b) => Seq(a -> b, b -> a) }.groupMap(_._1)(_._2)
    val want = Seq(0L, 1L, 44L, 100L, 101L).map { seed =>
      val dist = mutable.Map(seed -> 0L)
      val queue = mutable.Queue(seed)
      while (queue.nonEmpty) {
        val x = queue.dequeue()
        adj(x).foreach(y => if (!dist.contains(y)) { dist(y) = dist(x) + 1; queue.enqueue(y) })
      }
      (seed, dist.values.max, dist.size.toLong)
    }.toSet
    assert(want.contains((1L, 6L, 45L)) && want.contains((100L, 2L, 3L)))
    assert(fallback == want, s"fallback $fallback vs BFS $want")
    assert(threeHop == want, s"three-hop $threeHop vs BFS $want")
    // one hop per round takes more rounds, hence more jobs
    assert(fallbackJobs > threeHopJobs, s"fallback $fallbackJobs jobs vs three-hop $threeHopJobs")
  }
}
