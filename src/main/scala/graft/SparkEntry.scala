package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.pipeline._
import graft.registry._

/** Driver contract — the operator registry of the engine.
  *
  * Each query is one [[graft.registry.Query]] declaration in its
  * family's object under `graft.registry`, with its Spark function and
  * its DuckDB oracle SQL side by side. Oracle-checked queries
  * (SQL-expressible, DuckDB-replayable) carry an `oracleSql` twin with
  * identical column names; extraction/LSH/ANN operators register
  * without one (driver falls back to a rows>0 check) and are instead
  * gated by the fixture suites in `sbt test`.
  */
object SparkEntry {

  private[graft] val declared: Seq[Query] = Seq(
    RelationalQueries.queries, EventQueries.queries, CorpusQueries.queries,
    DedupQueries.queries, GraphQueries.queries, SparqlQueries.queries,
    ExtractQueries.queries, MultimodalQueries.queries).flatten

  private val duplicates = declared.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
  require(duplicates.isEmpty, s"query names declared twice: ${duplicates.toSeq.sorted.mkString(", ")}")

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    declared.map(q => q.name -> q.run).toMap

  val oracleSql: Map[String, String] =
    declared.flatMap(q => q.oracle.map(q.name -> _)).toMap

  /** Flagship: full extraction over the synthetic page corpus. */
  def entry(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val pages = SyntheticPages.pages(spark, copies = 2, numPartitions = 8)
    Extract.run(pages).flatMap(_.triple).toDF()
  }

  /** Deletes the temporary directories of the queries run so far that
    * write files; call it once their outputs are written. */
  def deleteTempRoots(): Unit = QueryKit.deleteTempRoots()
}
