package graft.pipeline

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import com.fasterxml.jackson.databind.ObjectMapper
import scala.jdk.CollectionConverters._

/** A minimal snapshot table format over parquet — the Iceberg-shaped
  * storage contract the north_rule specifies (snapshot isolation,
  * atomic commits, time travel, append vs overwrite, snapshot expiry),
  * self-implemented because the sandbox ships no Iceberg runtime jar
  * (zero egress; nothing beyond /opt/spark/jars resolves). The layout:
  *
  * {{{
  *   <root>/<table>/data/v<N>/part-*.parquet   immutable snapshot data
  *   <root>/<table>/meta/v<N>.json             manifest: op, parent,
  *                                             dataDirs, recordCount,
  *                                             schema
  *   <root>/<table>/meta/HEAD                  current version (atomic)
  * }}}
  *
  * Commit protocol (single writer, the Spark batch model): write the
  * new data dir, write the manifest `v<N>.json` via temp-file +
  * ATOMIC_MOVE, then swing `HEAD` the same way. Readers resolve HEAD →
  * manifest → data dirs, so they only ever see fully-committed
  * snapshots; a crash mid-commit leaves an orphan data dir the next
  * commit of that version overwrites. `op = "append"` chains the
  * parent's data dirs (delta-style fast append — no rewrite of
  * existing data, the lineage/metrics-table shape); `op = "overwrite"`
  * replaces them (the stage-recompute shape). Old snapshots stay
  * readable until [[expireSnapshots]] drops them — which is what makes
  * a 100-TB pipeline RESUMABLE AND AUDITABLE: a restarted job reads
  * the last committed snapshot, a debugging session time-travels to
  * the version a regression shipped in.
  *
  * Manifests are deterministic (no wall-clock, no RNG — the engine
  * rule): identity is the monotonically-increasing version number.
  */
object SnapTable {

  final case class Snapshot(table: String, version: Int, op: String, parent: Int,
                            dataDirs: Seq[String], recordCount: Long, schemaJson: String)

  private val mapper = new ObjectMapper()

  private def metaDir(root: String, table: String): Path = Paths.get(root, table, "meta")
  private def headPath(root: String, table: String): Path = metaDir(root, table).resolve("HEAD")

  private def atomicWrite(target: Path, content: String): Unit = {
    Files.createDirectories(target.getParent)
    val tmp = target.getParent.resolve(target.getFileName.toString + ".tmp")
    Files.writeString(tmp, content)
    try Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
      Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING) }
  }

  /** Current committed version; 0 = table does not exist yet. */
  def currentVersion(root: String, table: String): Int = {
    val h = headPath(root, table)
    if (Files.exists(h)) Files.readString(h).trim.toInt else 0
  }

  def exists(root: String, table: String): Boolean = currentVersion(root, table) > 0

  /** Read one manifest. */
  def snapshot(root: String, table: String, version: Int): Option[Snapshot] = {
    val p = metaDir(root, table).resolve(s"v$version.json")
    if (!Files.exists(p)) None
    else {
      val n = mapper.readTree(Files.readString(p))
      Some(Snapshot(table, n.get("version").asInt, n.get("op").asText, n.get("parent").asInt,
        n.get("dataDirs").elements().asScala.map(_.asText).toSeq,
        n.get("recordCount").asLong, n.get("schema").asText))
    }
  }

  /** All committed snapshots, oldest first. */
  def snapshots(root: String, table: String): Seq[Snapshot] =
    (1 to currentVersion(root, table)).flatMap(v => snapshot(root, table, v))

  /** Commit `df` as the next snapshot. `op` is "overwrite" (data dirs
    * replace the parent's) or "append" (they chain after the
    * parent's). Returns the committed snapshot.
    */
  def commit(spark: SparkSession, root: String, table: String, df: DataFrame,
             op: String = "overwrite"): Snapshot = {
    require(op == "overwrite" || op == "append", s"unknown op $op")
    val parent = currentVersion(root, table)
    val version = parent + 1
    val dataDir = Paths.get(root, table, "data", s"v$version").toString
    NioLocalFileSystem.writer(df).mode(SaveMode.Overwrite).parquet(dataDir)
    // footer-stats count of just-written files — no recompute of df
    val count = spark.read.parquet(dataDir).count()
    val parentDirs =
      if (op == "append" && parent > 0) snapshot(root, table, parent).map(_.dataDirs).getOrElse(Nil)
      else Nil
    val snap = Snapshot(table, version, op, parent, parentDirs :+ dataDir, count, df.schema.json)
    val m = mapper.createObjectNode()
    m.put("version", snap.version); m.put("op", snap.op); m.put("parent", snap.parent)
    val arr = m.putArray("dataDirs"); snap.dataDirs.foreach(arr.add)
    m.put("recordCount", snap.recordCount); m.put("schema", snap.schemaJson)
    atomicWrite(metaDir(root, table).resolve(s"v$version.json"), m.toString)
    atomicWrite(headPath(root, table), version.toString)
    snap
  }

  /** Read the table at HEAD (or a pinned `version` — time travel). */
  def read(spark: SparkSession, root: String, table: String, version: Int = 0): DataFrame = {
    val v = if (version > 0) version else currentVersion(root, table)
    val s = snapshot(root, table, v).getOrElse(
      throw new IllegalArgumentException(s"no snapshot v$v of $table under $root"))
    spark.read.parquet(s.dataDirs: _*)
  }

  /** Metadata-only rollback: swing HEAD to an existing older version.
    * Later manifests stay on disk (re-committing after a rollback
    * overwrites them, the single-writer linear-history rule).
    */
  def rollback(root: String, table: String, version: Int): Unit = {
    require(snapshot(root, table, version).isDefined, s"version $version not committed")
    atomicWrite(headPath(root, table), version.toString)
  }

  /** Drop all snapshots older than `keepLast` versions before HEAD and
    * delete data dirs no surviving manifest references.
    */
  def expireSnapshots(root: String, table: String, keepLast: Int): Unit = {
    val head = currentVersion(root, table)
    val cutoff = head - keepLast + 1
    if (cutoff <= 1) return
    val keepDirs = (cutoff to head).flatMap(v => snapshot(root, table, v)).flatMap(_.dataDirs).toSet
    (1 until cutoff).foreach { v =>
      snapshot(root, table, v).foreach { s =>
        s.dataDirs.filterNot(keepDirs).foreach { d =>
          val p = Paths.get(d)
          if (Files.exists(p)) NioLocalFileSystem.deleteTree(p)
        }
      }
      Files.deleteIfExists(metaDir(root, table).resolve(s"v$v.json"))
    }
  }
}
