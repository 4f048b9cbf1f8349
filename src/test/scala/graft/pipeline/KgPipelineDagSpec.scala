package graft.pipeline

import org.apache.spark.TestListenerBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions.{col, udf}
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** How [[KgPipeline.run]] executes its DAG: the Spark-job budget of one
  * run, the processes it starts (none), the entity-keyed dictionary
  * canonicalization relies on, its overlapping branches failing
  * without leaving jobs behind, and extract lineage as it lands in the
  * `metrics` table.
  */
class KgPipelineDagSpec extends AnyFunSuite with graft.TempRoots {

  private lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", 4)
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val tables = Seq("triples", "alias_dict", "links", "canonical_map", "edges", "nodes", "adjacency")

  private def page(url: String, html: String): Page =
    Page(url, new java.sql.Timestamp(0L), html.getBytes("UTF-8"), Extract.extractText(html), "en")

  private val rdfNs = "http://www.w3.org/1999/02/22-rdf-syntax-ns#"

  // one parse error, islands of every kind, and two spellings of one
  // local name ("springfield") that canonicalization merges
  private val pages = Seq(
    page("http://site.example/a",
      s"""<html><body><p>Springfield lies near Shelbyville.</p>
         |<script type="application/rdf+xml"><rdf:RDF xmlns:rdf="$rdfNs" xmlns:ex="http://ex/">
         |<rdf:Description rdf:about="http://ex/a/Springfield"><ex:near rdf:resource="http://ex/b/Shelbyville"/><ex:name>Springfield</ex:name></rdf:Description>
         |<rdf:Description rdf:about="http://ex/b/Shelbyville"><ex:mayor><rdf:Description><ex:name>Quimby</ex:name></rdf:Description></ex:mayor></rdf:Description>
         |</rdf:RDF></script></body></html>""".stripMargin),
    page("http://site.example/b",
      """<html><body><p>The springfield plant.</p>
        |<div itemscope itemtype="http://schema.org/Place" itemid="http://ex/c/springfield">
        |<span itemprop="name">Springfield</span><a itemprop="sameAs" href="http://ex/a/Springfield">x</a></div>
        |</body></html>""".stripMargin),
    page("http://site.example/bad",
      s"""<html><body><script type="application/rdf+xml"><rdf:RDF xmlns:rdf="$rdfNs">
         |<rdf:Description rdf:about="http://ex/c"></rdf:RDF></script></body></html>""".stripMargin),
    page("http://site.example/rdfa",
      """<html><body><div vocab="http://schema.org/" about="http://ex/d/Shelbyville" typeof="Place">
        |<span property="name">Shelbyville</span><br></div></body></html>""".stripMargin),
    page("http://site.example/jsonld",
      """<html><head><script type="application/ld+json">{"@context":{"@vocab":"http://s/"},"@id":"http://ex/f","name":"F"}</script></head></html>"""),
    page("http://site.example/c.rdf",
      s"""<?xml version="1.0"?>
         |<rdf:RDF xmlns:rdf="$rdfNs" xmlns:ex="http://ex/">
         |<rdf:Description rdf:about="http://ex/b/Shelbyville"><ex:twin rdf:resource="http://ex/c/springfield"/></rdf:Description>
         |</rdf:RDF>""".stripMargin))

  private def pageTable(partitions: Int): Dataset[Page] = {
    val s = spark
    import s.implicits._
    s.sparkContext.parallelize(pages, partitions).toDS()
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def committed(root: String, table: String): Boolean = Files.exists(Paths.get(root, table, "_SUCCESS"))

  private def files(root: String, table: String): Seq[(String, Long)] = {
    val s = Files.walk(Paths.get(root, table))
    try s.iterator().asScala.filter(Files.isRegularFile(_))
      .map((p: Path) => (p.toString, Files.getLastModifiedTime(p).toMillis)).toSeq.sorted
    finally s.close()
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

  /** Jobs still running, once every event posted so far has arrived. */
  private def activeJobs(): Seq[Int] = {
    TestListenerBus.drain(spark.sparkContext)
    spark.sparkContext.statusTracker.getActiveJobIds().toSeq
  }

  // measured on these pages (stable over repeated runs)
  private val RunJobBudget = 21

  test("one run over a fresh root stays within its Spark-job budget") {
    val ds = pageTable(2)
    StageCache.clear()
    val (out, jobs) = jobsOf(KgPipeline.run(spark, ds, freshRoot("graft_dag").toString))
    assert(jobs <= RunJobBudget, s"KgPipeline.run ran $jobs Spark jobs, budget $RunJobBudget")
    assert(out("edges").count() > 0 && out("links").count() > 0)
    assert(activeJobs().isEmpty)
  }

  test("a run starts no operating-system process on its output") {
    val ds = pageTable(2)
    val root = freshRoot("graft_dag").toString
    StageCache.clear()
    val recording = new jdk.jfr.Recording()
    recording.enable("jdk.ProcessStart")
    recording.start()
    try KgPipeline.run(spark, ds, root) finally recording.stop()
    val dump = Files.createTempFile(freshRoot("graft_dag"), "process_start", ".jfr")
    recording.dump(dump)
    recording.close()
    // Spark removes the artifact directory of a garbage-collected
    // session with a forked `rm -rf`, whichever thread happens to be
    // running: only commands on this run's root are the run's own
    val started = jdk.jfr.consumer.RecordingFile.readAllEvents(dump).asScala.map(_.getString("command"))
    val ours = started.filter(_.contains(root))
    assert(ours.isEmpty, s"${ours.size} processes started: ${ours.take(5).mkString("; ")}")
  }

  test("entityAliases keys its dictionary by entity, and canonicalize returns one row per entity") {
    val s = spark
    import s.implicits._
    val triples = Extract.run(pageTable(3)).flatMap(_.triple).toDF()
    // the premise: subjects recur, within a page and across pages
    val subjects = triples.select("url", "subj").as[(String, String)].collect().toSeq
      .filterNot(_._2.startsWith("_:"))
    val bySubject = subjects.groupBy(_._2).values
    assert(bySubject.exists(_.size > 1) && bySubject.exists(_.map(_._1).distinct.size > 1), subjects)
    val dict = KgPipeline.entityAliases(triples).select("entity", "alias").as[(String, String)].collect().toSeq
    assert(dict.nonEmpty && dict.map(_._1).distinct.size == dict.size, dict)
    StageCache.clear()
    val canon = KgPipeline.canonicalize(KgPipeline.entityAliases(triples))
      .select("entity", "canon").as[(String, String)].collect().toSeq
    assert(canon.map(_._1).sorted == dict.map(_._1).sorted, canon)
    assert(canon.toMap.apply("http://ex/c/springfield") == "http://ex/a/Springfield", canon)
  }

  test("a failing branch is rethrown only after the other branch finished; a second run resumes the rest") {
    val s = spark
    import s.implicits._
    // only linking reads the page text, so only the links branch fails
    val boom = udf((url: String) => { if (url != null) sys.error(s"no text for $url"); "" })
    val noText = pageTable(2).withColumn("text", boom(col("url"))).as[Page]
    val root = freshRoot("graft_dag").toString
    StageCache.clear()
    val e = intercept[Exception](KgPipeline.run(s, noText, root))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).exists(
      c => String.valueOf(c.getMessage).contains("no text for")), e.toString)
    assert(activeJobs().isEmpty, "a job of the failed run is still running")
    // the chain beside the failed branch ran to its end
    val done = Seq("triples", "metrics", "alias_dict", "canonical_map", "edges", "nodes", "adjacency")
    done.foreach(t => assert(committed(root, t), s"$t not committed"))
    assert(!committed(root, "links"))

    val before = done.map(t => t -> files(root, t)).toMap
    StageCache.clear()
    val again = KgPipeline.run(s, pageTable(2), root)
    assert(activeJobs().isEmpty)
    done.foreach(t => assert(files(root, t) == before(t), s"$t was recomputed, not resumed"))
    assert(committed(root, "links"))
    StageCache.clear()
    val fresh = KgPipeline.run(s, pageTable(2), freshRoot("graft_dag").toString)
    tables.foreach(t => assert(rows(again(t)) == rows(fresh(t)), t))
  }

  test("the metrics table holds one extract lineage row per partition at 1 and 4 partitions") {
    def lineage(partitions: Int): (Seq[LineageRow], Seq[LineageRow]) = {
      val s = spark
      import s.implicits._
      StageCache.clear()
      val out = KgPipeline.run(s, pageTable(partitions), freshRoot("graft_dag").toString)
      val written = out("metrics").as[LineageRow].collect().toSeq
      val direct = Extract.run(pageTable(partitions)).collect().flatMap(_.lineage).toSeq
      (written, direct)
    }
    def sums(l: Seq[LineageRow]) = (l.map(_.pages).sum, l.map(_.tripleCount).sum, l.map(_.parseErrorCount).sum)
    Seq(1, 4).foreach { n =>
      val (written, direct) = lineage(n)
      assert(written.map(_.partitionId).sorted == (0 until n), s"at $n partitions: $written")
      assert(written.forall(_.stage == "extract"))
      assert(sums(written) == sums(direct), s"at $n partitions")
      assert(sums(written)._1 == pages.size.toLong && sums(written)._3 == 1L, s"at $n partitions")
      assert(written.map(r => (r.partitionId, r.inputSplit, r.pages, r.tripleCount, r.parseErrorCount)).sorted ==
        direct.map(r => (r.partitionId, r.inputSplit, r.pages, r.tripleCount, r.parseErrorCount)).sorted)
    }
  }
}
