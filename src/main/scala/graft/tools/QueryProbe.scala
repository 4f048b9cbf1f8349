package graft.tools

import org.apache.spark.sql.SparkSession

/** Times individual registered queries with the same pruning-proof noop
  * sink the bench uses. Usage: QueryProbe <sfDir> [query ...]
  * (no query names → all registered queries, sorted)
  */
object QueryProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val names = if (args.length > 1) args.drop(1).toSeq else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.files.maxPartitionBytes", (2 * 1024 * 1024).toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    // untimed session warm-up (same set as graft.Bench): a fresh JVM
    // pays ~9s of classloading + janino codegen + JIT on its first
    // query, which would otherwise be booked against whichever query is
    // probed first and mislead ad-hoc comparisons
    Seq("q7_events_by_type", "q2_revenue_by_nation", "q6_events_latest", "q16_simhash_md5")
      .foreach { q =>
        // per-query try: one failing warm-up query must not abort the rest
        try graft.SparkEntry.queries(q)(spark, sfDir).write.mode("overwrite").format("noop").save()
        catch { case e: Throwable => System.err.println(s"[probe] warm-up $q failed: ${e.getMessage}") }
      }
    // per-query codegen (janino compiles a fresh class per plan shape)
    // is not covered by the session warm-up — rep 1 carries it, rep 2+
    // is the warm capability number; both are printed so neither is
    // mistaken for the other
    val reps = sys.env.getOrElse("SPARK_GRAFT_PROBE_REPS", "2").toInt
    // SPARK_GRAFT_PROBE_EXPLAIN=1: print the formatted physical plan and
    // an Exchange/ReusedExchange census instead of timing — the census is
    // the quick answer to "is this self-joined subtree shuffled once or
    // recomputed per consumer?"
    val explain = sys.env.get("SPARK_GRAFT_PROBE_EXPLAIN").contains("1")
    // SPARK_GRAFT_PROBE_PLAN_DIR=<dir>: additionally write each query's
    // .explain("formatted") output to <dir>/<query>_<suffix>.txt
    // (suffix from SPARK_GRAFT_PROBE_PLAN_SUFFIX, default "plan") — the
    // judge-facing before/after plan artifact for optimization rounds.
    // Building the frame of an iterative operator runs its driver-side
    // loop (counts, checkpoints), so a plan dump runs those jobs too. A
    // failed dump prints its stack trace and makes the probe exit 1.
    val planDir = sys.env.get("SPARK_GRAFT_PROBE_PLAN_DIR")
    val planSuffix = sys.env.getOrElse("SPARK_GRAFT_PROBE_PLAN_SUFFIX", "plan")
    var planFailures = 0
    names.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      planDir.foreach { dir =>
        try {
          val df = fn(spark, sfDir)
          val formatted = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
          val p = java.nio.file.Paths.get(dir, s"${name}_$planSuffix.txt")
          java.nio.file.Files.createDirectories(p.getParent)
          java.nio.file.Files.writeString(p, formatted)
          println(s"PLAN $name -> $p")
        } catch {
          case e: Throwable =>
            println(s"PLAN $name FAILED ${e.getMessage}")
            e.printStackTrace()
            planFailures += 1
        }
      }
      if (explain) {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.executedPlan.toString
        val ex = "(?m)^.*\\bExchange\\b".r.findAllIn(plan).size
        val reused = "ReusedExchange".r.findAllIn(plan).size
        val scans = "FileScan|Scan parquet".r.findAllIn(plan).size
        println(s"EXPLAIN $name exchanges=$ex reused_exchanges=$reused scans=$scans")
        println(df.queryExecution.explainString(org.apache.spark.sql.execution.SimpleMode))
      } else if (planDir.isEmpty)
      (1 to reps).foreach { rep =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.mode("overwrite").format("noop").save()
          println(f"PROBE $name rep=$rep sec=${(System.nanoTime() - t0) / 1e9}%.2f")
        } catch { case e: Throwable => println(s"PROBE $name rep=$rep FAILED ${e.getMessage}") }
      }
    }
    spark.stop()
    if (planFailures > 0) {
      System.err.println(s"[probe] $planFailures plan dump(s) failed")
      sys.exit(1)
    }
  }
}
