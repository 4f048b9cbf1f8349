package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

/** The snapshot table format: atomic versioned commits, append chains,
  * time travel, rollback, expiry, and the versioned pipeline's
  * cold / resumed / refreshed runs.
  */
class SnapTableSpec extends AnyFunSuite with graft.TempRoots {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def tmpRoot(): String = freshRoot("graft_snap").toString

  test("commit/read round trip; overwrite bumps the version; time travel reads the old snapshot") {
    val s = spark
    import s.implicits._
    val root = tmpRoot()
    assert(!SnapTable.exists(root, "t"))
    val s1 = SnapTable.commit(s, root, "t", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    assert(s1.version == 1 && s1.recordCount == 2 && s1.op == "overwrite")
    assert(SnapTable.read(s, root, "t").collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    val s2 = SnapTable.commit(s, root, "t", Seq((3L, "c")).toDF("id", "v"))
    assert(s2.version == 2 && SnapTable.currentVersion(root, "t") == 2)
    // HEAD reads the overwrite; v1 stays readable (time travel)
    assert(SnapTable.read(s, root, "t").count() == 1)
    assert(SnapTable.read(s, root, "t", version = 1).count() == 2)
    assert(SnapTable.snapshots(root, "t").map(_.version) == Seq(1, 2))
  }

  test("append chains the parent's data dirs; rollback is a metadata-only HEAD swing") {
    val s = spark
    import s.implicits._
    val root = tmpRoot()
    SnapTable.commit(s, root, "m", Seq((1L, 10L)).toDF("part", "n"), op = "append")
    SnapTable.commit(s, root, "m", Seq((2L, 20L)).toDF("part", "n"), op = "append")
    val s3 = SnapTable.commit(s, root, "m", Seq((3L, 30L)).toDF("part", "n"), op = "append")
    assert(s3.dataDirs.size == 3)
    assert(SnapTable.read(s, root, "m").agg(org.apache.spark.sql.functions.sum("n"))
      .head().getLong(0) == 60L)
    SnapTable.rollback(root, "m", 2)
    assert(SnapTable.currentVersion(root, "m") == 2)
    assert(SnapTable.read(s, root, "m").count() == 2)
  }

  test("expireSnapshots drops old manifests and unreferenced data dirs; HEAD stays readable") {
    val s = spark
    import s.implicits._
    val root = tmpRoot()
    (1 to 4).foreach(i => SnapTable.commit(s, root, "t", Seq((i.toLong, i.toLong)).toDF("a", "b")))
    val v1dir = SnapTable.snapshot(root, "t", 1).get.dataDirs.head
    SnapTable.expireSnapshots(root, "t", keepLast = 2)
    assert(SnapTable.snapshot(root, "t", 1).isEmpty && SnapTable.snapshot(root, "t", 2).isEmpty)
    assert(!Files.exists(java.nio.file.Paths.get(v1dir)))
    assert(SnapTable.read(s, root, "t").count() == 1)
    assert(SnapTable.read(s, root, "t", version = 3).count() == 1) // kept version still time-travels
  }

  test("expire on an append chain keeps data dirs still referenced by surviving snapshots") {
    val s = spark
    import s.implicits._
    val root = tmpRoot()
    (1 to 3).foreach(i => SnapTable.commit(s, root, "m", Seq((i.toLong, i.toLong)).toDF("a", "b"), op = "append"))
    SnapTable.expireSnapshots(root, "m", keepLast = 1)
    // v3 references ALL three data dirs — every row must survive expiry
    assert(SnapTable.read(s, root, "m").count() == 3)
    assert(SnapTable.snapshot(root, "m", 1).isEmpty)
  }

  test("versioned pipeline: cold run commits v1 everywhere, rerun resumes (no new versions), refresh commits v2 with v1 readable") {
    val s = spark
    val root = tmpRoot()
    val pages = SyntheticPages.pages(s, copies = 1, numPartitions = 4)
    val cold = KgPipeline.runVersioned(s, pages, root)
    val stages = Seq("triples", "alias_dict", "links", "canonical_map", "edges", "nodes", "adjacency")
    stages.foreach(t => assert(SnapTable.currentVersion(root, t) == 1, t))
    assert(SnapTable.currentVersion(root, "metrics") == 1)
    val coldTriples = cold("triples").count()
    assert(coldTriples > 0)

    // resume: every stage is read back, no version moves
    val resumed = KgPipeline.runVersioned(s, pages, root)
    stages.foreach(t => assert(SnapTable.currentVersion(root, t) == 1, s"$t advanced on resume"))
    assert(resumed("triples").count() == coldTriples)

    // refresh: new snapshots; metrics APPENDS (v2 chains v1's rows)
    KgPipeline.runVersioned(s, pages, root, refresh = true)
    stages.foreach(t => assert(SnapTable.currentVersion(root, t) == 2, t))
    assert(SnapTable.read(s, root, "triples", version = 1).count() == coldTriples)
    val m1 = SnapTable.read(s, root, "metrics", version = 1).count()
    assert(SnapTable.read(s, root, "metrics").count() == 2 * m1)
  }
}
