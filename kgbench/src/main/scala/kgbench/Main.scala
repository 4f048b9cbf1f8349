package kgbench

import graft.pipeline.{KgPipeline, Page, StageCache}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import com.sun.management.GarbageCollectionNotificationInfo
import java.lang.management.{ManagementFactory, MemoryType}
import javax.management.openmbean.CompositeData
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

object Stats {
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
  }
}

/** Benchmark entry point: one workload, one seed, one mode.
  *
  *   --workload crawl_sparse|rdf_dense
  *   --seed <n> --seconds <n> --trace 0|1 --work <scratch dir>
  *
  * Untraced mode times `KgPipeline.run` and `writeRdfXml` on
  * local[cores] (half the processors the JVM sees, at least 1: see
  * README) for `--seconds` and prints the end-to-end metrics.
  * Traced mode prints the per-layer ledger: single-thread layer busy
  * times, per-stage Spark counts, and the local[1] run that gives the
  * scaling ratio. Every run's outputs are checked against the
  * generator's truth; a mismatch prints the result with
  * `"correct": false` and exits 1. The last stdout line is the JSON
  * result.
  */
object Main {

  // the first set-up pays JVM and Spark start; the median of five is
  // one of the four warm ones
  private val setupReps = 5
  private val pageFiles = 16
  // timed runs go on until --seconds have passed, at least this many.
  // The benchmark's 12 s always ends after two (one takes 7.5-12 s),
  // so every run takes the median of the same number of samples
  private val minSamples = 2
  private val exportsPerRun = 5

  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean, work: Path)

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      Paths.get(need("work")).toAbsolutePath)
  }

  def log(s: String): Unit = System.err.println(s"[kgbench] $s")

  def session(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("kgbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val all = Files.walk(p).iterator().asScala.toVector.reverse
      all.foreach(Files.deleteIfExists)
    }

  private var runCounter = 0
  def freshRoot(work: Path): Path = { runCounter += 1; work.resolve(s"run-$runCounter") }

  final case class Sample(wallS: Double, exportS: Double, heapMb: Double, root: Path, out: Map[String, DataFrame])

  /** One untraced run: `KgPipeline.run` into a fresh root, then
    * `exports` exports of its edges (the export is short, so its time is
    * the median of several). The stage cache is cleared first, so the
    * connected-components stage computes instead of hitting a plan
    * cached by the previous run.
    */
  def runOnce(spark: SparkSession, pages: Dataset[Page], root: Path, exports: Int = 1): Sample = {
    require(!Files.exists(root), s"output root $root is not fresh: stages would resume")
    StageCache.clear()
    HeapPeak.reset()
    val t0 = System.nanoTime()
    val out = KgPipeline.run(spark, pages, root.toString)
    val wall = (System.nanoTime() - t0) / 1e9
    val exportS = (0 until exports).map { i =>
      val t1 = System.nanoTime()
      KgPipeline.writeRdfXml(out("edges"), root.resolve(if (i == 0) "export" else s"export-$i").toString)
      (System.nanoTime() - t1) / 1e9
    }
    Sample(wall, Stats.median(exportS), HeapPeak.peakMb(), root, out)
  }

  def outputs(out: Map[String, DataFrame], root: Path): RunOutputs =
    RunOutputs(out("triples"), out("links"), out("canonical_map"), out("edges"), out("nodes"), out("adjacency"),
      out("metrics"), root.resolve("export"))

  val tables: Seq[String] = Seq("triples", "alias_dict", "links", "canonical_map", "edges", "nodes", "adjacency")

  def rowCounts(out: Map[String, DataFrame]): Map[String, Long] = tables.map(t => t -> out(t).count()).toMap

  /** Largest heap occupancy left after any collection between
    * `reset()` and `peakMb()`: the peak of what a run kept reachable
    * (plus old-generation garbage not yet collected), independent of
    * how large the young generation was sized. `reset()` starts from a
    * full collection, so every run begins from the same clean heap;
    * `peakMb()` ends with one, so a run that never filled the young
    * generation still reports what it retained.
    */
  object HeapPeak extends javax.management.NotificationListener {
    @volatile private var armed = false
    @volatile private var peakBytes = 0L
    def reset(): Unit = { armed = false; System.gc(); peakBytes = 0L; armed = true }
    def peakMb(): Double = {
      armed = false
      System.gc()
      val retained = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      math.max(peakBytes, retained) / (1024.0 * 1024.0)
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: javax.management.NotificationEmitter => e.addNotificationListener(this, null, null)
      case _ =>
    }
    def handleNotification(n: javax.management.Notification, hb: AnyRef): Unit =
      if (armed && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala.collect {
          case (pool, u) if heapPoolNames(pool) => u.getUsed
        }.sum
        synchronized { peakBytes = math.max(peakBytes, used) }
      }
    private val heapPoolNames: Set[String] =
      ManagementFactory.getMemoryPoolMXBeans.asScala.filter(_.getType == MemoryType.HEAP).map(_.getName).toSet
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val started = System.nanoTime()
    val cores = math.max(1, Runtime.getRuntime.availableProcessors / 2)
    Files.createDirectories(o.work)

    // ---- set-up, several times: session start, generate, write ----
    val setupS = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    var wl: Workload = null
    var pagesDir: Path = null
    (0 until setupReps).foreach { i =>
      if (spark != null) { spark.stop(); deleteTree(pagesDir) }
      val t0 = System.nanoTime()
      val s = session(cores, o.work)
      wl = Gen(o.workload, o.seed)
      pagesDir = o.work.resolve(s"pages-$i")
      import s.implicits._
      s.createDataset(wl.pages).repartition(pageFiles).write.parquet(pagesDir.toString)
      spark = s
      setupS += (System.nanoTime() - t0) / 1e9
    }
    val exp = wl.expected
    log(s"${o.workload} shape: ${wl.shape.map { case (k, v) => s"$k=$v" }.mkString("; ")}")
    log(s"${o.workload} seed ${o.seed}: ${exp.pages} pages, ${wl.pages.iterator.map(_.html.length.toLong).sum} bytes, " +
      s"${exp.triples} triples, ${exp.errorPages} error pages, ${exp.entities} entities, " +
      s"${exp.components} components, ${exp.links} links; set-up ${setupS.map(x => f"$x%.2f").mkString(" ")} s")

    def pagesOf(s: SparkSession): Dataset[Page] = { import s.implicits._; s.read.parquet(pagesDir.toString).as[Page] }
    var pages = pagesOf(spark)

    // ---- warm-up: one untimed run, the first in the JVM and about
    // twice as slow as later ones. The JIT still gains a little over
    // the next runs, alike for every seed; the median of the timed runs
    // absorbs it ----
    val warm = runOnce(spark, pages, freshRoot(o.work), exportsPerRun)
    log(f"warm-up ${warm.wallS}%.2f s at ${(System.nanoTime() - started) / 1e9}%.1f s")
    val checker = new Checker(spark, wl)
    val verdicts = mutable.ArrayBuffer.empty[Verdict]
    def checked(s: Sample): Sample = {
      val v = checker.check(outputs(s.out, s.root))
      if (!v.ok) v.notes.foreach(n => log(s"MISMATCH: $n"))
      verdicts += v
      s
    }
    log(f"warm-up and checker ready at ${(System.nanoTime() - started) / 1e9}%.1f s")

    def timedLoop(budgetS: Double, min: Int)(one: => Sample): Vector[Sample] = {
      val out = mutable.ArrayBuffer.empty[Sample]
      val t0 = System.nanoTime()
      while (out.size < min || (System.nanoTime() - t0) / 1e9 < budgetS) {
        val s = checked(one)
        deleteTree(s.root)
        out += s
      }
      out.toVector
    }
    def walls(ss: Seq[Sample]): String = ss.map(s => f"${s.wallS}%.3f").mkString(" ")

    val metrics = mutable.LinkedHashMap.empty[String, (Double, String)]
    val sampleCounts = mutable.LinkedHashMap.empty[String, Int]

    if (!o.trace) {
      deleteTree(warm.root)
      val samples = timedLoop(o.seconds, minSamples)(runOnce(spark, pages, freshRoot(o.work), exportsPerRun))
      log(f"timed runs done at ${(System.nanoTime() - started) / 1e9}%.1f s")
      val wall = Stats.median(samples.map(_.wallS))
      log(s"local[$cores] walls ${walls(samples)}; peak heap MB ${samples.map(s => f"${s.heapMb}%.0f").mkString(" ")}")
      metrics("wall_s") = (wall, "s")
      metrics("pages_per_s") = (exp.pages / wall, "pages/s")
      metrics("triples_per_s") = (exp.triples / wall, "triples/s")
      metrics("export_s") = (Stats.median(samples.map(_.exportS)), "s")
      metrics("setup_s") = (Stats.median(setupS.toSeq), "s")
      Seq("wall_s", "pages_per_s", "triples_per_s", "export_s").foreach(sampleCounts(_) = samples.size)
      sampleCounts("setup_s") = setupS.size
    } else {
      val warmCounts = rowCounts(warm.out)
      deleteTree(warm.root)
      // untraced and traced runs alternate as U T T U, so warm-up drift
      // hits both alike
      val tracer = new Tracer(spark)
      val plain = mutable.ArrayBuffer.empty[Sample]
      val ledgers = (0 until 2).map { i =>
        if (i == 0) plain ++= timedLoop(0, 1)(runOnce(spark, pages, freshRoot(o.work)))
        tracer.listener.synchronized(tracer.listener.stats.clear())
        val root = freshRoot(o.work)
        StageCache.clear()
        val s0 = System.nanoTime()
        val out = Tracer.tracedRun(spark, tracer, pages, root.toString)
        val total = (System.nanoTime() - s0) / 1e9
        val ledger = tracer.ledger()
        val pipelineWall = total - ledger.get("export").map(_.wallNs / 1e9).getOrElse(0.0)
        checked(Sample(pipelineWall, 0, 0, root, out))
        val counts = rowCounts(out)
        if (counts != warmCounts) {
          log(s"MISMATCH: traced row counts $counts differ from untraced $warmCounts")
          verdicts += Verdict(0, Set.empty, 1, Seq("traced wiring drifted"))
        }
        deleteTree(root)
        if (i == 1) plain ++= timedLoop(0, 1)(runOnce(spark, pages, freshRoot(o.work)))
        (total, pipelineWall, ledger)
      }
      tracer.close()
      log(s"untraced walls ${walls(plain.toSeq)}; traced walls ${ledgers.map(l => f"${l._2}%.3f").mkString(" ")}")
      val pure = (0 until 3).map(_ => PureLayers.pass(wl.pages))
      pure.head.map(_._1).foreach(k => metrics(k) = (Stats.median(pure.map(_.toMap.apply(k))), unitOf(k)))
      def med(f: SpanStats => Double)(stage: String): Double =
        Stats.median(ledgers.map(l => l._3.get(stage).map(f).getOrElse(0.0)))
      Tracer.stages.foreach { s =>
        metrics(s"$s.wall_s") = (med(_.wallNs / 1e9)(s), "s")
        metrics(s"$s.task_s") = (med(_.taskMs / 1e3)(s), "s")
        metrics(s"$s.gc_s") = (med(_.gcMs / 1e3)(s), "s")
        metrics(s"$s.jobs") = (med(_.jobs.toDouble)(s), "count")
        metrics(s"$s.rows_out") = (med(_.rowsOut.toDouble)(s), "count")
        metrics(s"$s.output_bytes") = (med(_.bytesOut.toDouble)(s), "B")
        metrics(s"$s.shuffle_write_bytes") = (med(_.shuffleWrite.toDouble)(s), "B")
        metrics(s"$s.spill_bytes") = (med(_.spill.toDouble)(s), "B")
        metrics(s"$s.task_skew") = (med(_.skew)(s), "ratio")
      }
      val wall = Stats.median(plain.map(_.wallS).toSeq)
      metrics("extract.boundary_s") = (metrics("extract.task_s")._1 - metrics("triples_of.busy_s")._1, "s")
      metrics("unattributed_s") = (Stats.median(ledgers.map { case (total, _, l) =>
        total - Tracer.stages.map(s => l.get(s).map(_.wallNs / 1e9).getOrElse(0.0)).sum
      }), "s")
      metrics("trace_overhead_s") = (Stats.median(ledgers.map(_._2)) - wall, "s")
      // per layer, not end to end: when a collection happens decides
      // what it finds, and over ten seeds the median of a run's samples
      // spread by 0.31 of its median on rdf_dense
      metrics("peak_heap_mb") = (Stats.median(plain.map(_.heapMb).toSeq), "MB")

      // ---- scaling: the same run on one core ----
      spark.stop()
      spark = session(1, o.work)
      pages = pagesOf(spark)
      val one = timedLoop(0, 1)(runOnce(spark, pages, freshRoot(o.work)))
      log(s"local[1] walls ${walls(one)}")
      metrics("scaling_eff") = (Stats.median(one.map(_.wallS)) / (cores * wall), "ratio")
      sampleCounts("untraced") = plain.size
      sampleCounts("traced") = ledgers.size
      sampleCounts("pure_passes") = pure.size
      sampleCounts("local1") = one.size
    }
    spark.stop()
    // known defects, on pages outside the timed table: reported, not
    // counted in `failed`
    val defects = wl.probes.groupBy(_.defect).toSeq.sortBy(_._1).map { case (d, ps) =>
      s"known defect (probe pages outside the timed table): $d: " +
        s"${ps.count(p => !Checker.probeOk(p))} of ${ps.size} probe pages extract wrong triples"
    }
    defects.foreach(log)
    log(f"done in ${(System.nanoTime() - started) / 1e9}%.1f s")

    val attempted = verdicts.map(_.attempted).sum
    val failed = verdicts.map(_.failed).sum
    val correct = failed == 0
    println(s"kgbench ${o.workload} seed=${o.seed} trace=${if (o.trace) 1 else 0} " +
      s"page_fail_ratio=${failed.toDouble / math.max(attempted, 1)} ($failed/$attempted) " +
      s"samples: ${sampleCounts.map { case (k, v) => s"$k=$v" }.mkString(" ")}")
    metrics.foreach { case (k, (v, u)) => println(f"  $k%-34s $v%.6f $u") }
    defects.foreach(println)
    println(Json.result(correct, attempted, failed, metrics.toSeq))
    if (!correct) sys.exit(1)
  }

  def unitOf(name: String): String =
    if (name.endsWith("_s")) "s"
    else if (name.endsWith("bytes")) "B"
    else if (name.endsWith("ratio")) "ratio"
    else "count"
}

object Json {
  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def result(correct: Boolean, attempted: Long, failed: Long, metrics: Seq[(String, (Double, String))]): String = {
    val ms = metrics.map { case (k, (v, u)) => s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$ms}}"""
  }
}
