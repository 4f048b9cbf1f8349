package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One registered query: its name, its Spark function over a
  * scale-factor directory, and its DuckDB oracle SQL (same column
  * names) when the query is SQL-expressible. A query without an oracle
  * is checked for rows > 0 and by the fixture suites instead.
  */
final case class Query(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String] = None)
