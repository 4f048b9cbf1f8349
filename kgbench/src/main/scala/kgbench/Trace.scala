package kgbench

import graft.pipeline.{Extract, KgPipeline, Page}
import graft.xml.{JsonLd, Microdata, RdfXmlParser, RdfaLite}
import org.apache.spark.KgbenchBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.{DataFrame, Dataset, SaveMode, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable

/** Spark-side counts of one span, summed over the tasks of the jobs
  * started while the span was open.
  */
final class SpanStats {
  var wallNs = 0L
  var jobs = 0L
  var taskMs = 0L
  var gcMs = 0L
  var rowsOut = 0L
  var bytesOut = 0L
  var shuffleWrite = 0L
  var spill = 0L
  val stageTaskMs: mutable.HashMap[Int, mutable.ArrayBuffer[Long]] = mutable.HashMap.empty

  /** max / median task run time of the span's busiest stage (by summed
    * task time); 1 when no stage ran more than one task.
    */
  def skew: Double = {
    val multi = stageTaskMs.valuesIterator.filter(_.length > 1).toSeq
    if (multi.isEmpty) 1.0
    else {
      val ts = multi.maxBy(_.sum).toSeq.sorted
      val med = Stats.median(ts.map(_.toDouble))
      ts.last / math.max(med, 1.0)
    }
  }
}

/** Attributes jobs and task metrics to the benchmark span that was open
  * when each job started. Spans are named through a local property, so
  * jobs started from helper threads that inherit it (broadcast and AQE
  * stage submission) are attributed too.
  */
final class SpanListener extends SparkListener {
  val stats: mutable.LinkedHashMap[String, SpanStats] = mutable.LinkedHashMap.empty
  private val stageSpan = mutable.HashMap.empty[Int, String]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).map(_.getProperty(Tracer.property)).orNull
    if (span != null) {
      stats.getOrElseUpdate(span, new SpanStats).jobs += 1
      e.stageIds.foreach(stageSpan(_) = span)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (span <- stageSpan.get(e.stageId); m <- Option(e.taskMetrics)) {
      val s = stats.getOrElseUpdate(span, new SpanStats)
      s.taskMs += m.executorRunTime
      s.gcMs += m.jvmGCTime
      s.rowsOut += m.outputMetrics.recordsWritten
      s.bytesOut += m.outputMetrics.bytesWritten
      s.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      s.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      s.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }
}

/** Benchmark-side spans around calls into the pipeline's layers. */
final class Tracer(spark: SparkSession) {
  val listener = new SpanListener
  spark.sparkContext.addSparkListener(listener)

  def span[T](name: String)(body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.property, name)
    val t0 = System.nanoTime()
    try body
    finally {
      val dt = System.nanoTime() - t0
      sc.setLocalProperty(Tracer.property, null)
      listener.synchronized { listener.stats.getOrElseUpdate(name, new SpanStats).wallNs += dt }
    }
  }

  /** The ledger so far, after every pending listener event has arrived. */
  def ledger(): Map[String, SpanStats] = {
    KgbenchBus.drain(spark.sparkContext)
    listener.synchronized(listener.stats.toMap)
  }

  def close(): Unit = spark.sparkContext.removeSparkListener(listener)
}

object Tracer {
  val property = "kgbench.span"
  val stages: Seq[String] = Seq("extract", "alias_dict", "links", "canonical_map", "edges", "nodes", "adjacency", "export")

  /** `KgPipeline.run` followed by `writeRdfXml`, wired from the same
    * public calls in the same order, with one span per stage. Returns
    * the tables written; a resumed stage is an error, since every run
    * gets a fresh output root.
    */
  def tracedRun(spark: SparkSession, t: Tracer, pages: Dataset[Page], outRoot: String): Map[String, DataFrame] = {
    import spark.implicits._
    def stage(name: String)(compute: => DataFrame): DataFrame = t.span(name) {
      val r = KgPipeline.stage(spark, outRoot, name)(compute)
      require(!r.resumed, s"stage $name resumed from an earlier run's output")
      r.df
    }
    val triples = t.span("extract") {
      val env = Extract.run(pages).persist(StorageLevel.MEMORY_AND_DISK)
      env.flatMap(_.triple).write.mode(SaveMode.Overwrite).parquet(s"$outRoot/triples")
      env.flatMap(_.lineage).write.mode(SaveMode.Append).parquet(s"$outRoot/metrics")
      env.unpersist()
      spark.read.parquet(s"$outRoot/triples")
    }
    val aliasDict = stage("alias_dict")(KgPipeline.entityAliases(triples))
    val links = stage("links")(KgPipeline.linkMentions(pages.toDF(), aliasDict))
    val canonicalMap = stage("canonical_map")(KgPipeline.canonicalize(aliasDict))
    val edges = stage("edges")(KgPipeline.materializeEdges(triples, canonicalMap))
    val nodes = stage("nodes")(KgPipeline.materializeNodes(edges))
    val adjacency = stage("adjacency")(
      edges.repartitionByRange(col("subj")).sortWithinPartitions("subj", "pred", "obj"))
    t.span("export")(KgPipeline.writeRdfXml(edges, s"$outRoot/export"))
    Map("triples" -> triples, "alias_dict" -> aliasDict, "links" -> links, "canonical_map" -> canonicalMap,
      "edges" -> edges, "nodes" -> nodes, "adjacency" -> adjacency,
      "metrics" -> spark.read.parquet(s"$outRoot/metrics"))
  }
}

/** One thread over the same pages, timing each layer's public
  * functions in a loop of their own. Returns (name, value) in ledger
  * order.
  */
object PureLayers {

  private def busy(body: => Unit): Double = { val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9 }

  private def contains(html: Array[Byte], marker: String): Boolean =
    new String(html, "ISO-8859-1").toLowerCase.contains(marker)

  def pass(pages: Vector[Page]): Seq[(String, Double)] = {
    val m = mutable.LinkedHashMap.empty[String, Double]
    var islands: Vector[(Page, Option[(Array[Byte], Int, Int)], Option[(Int, Int)])] = Vector.empty
    m("detect.busy_s") = busy {
      islands = pages.map(p => (p, Extract.detectIslandBytes(p.html), Extract.detectRdfaBytes(p.html)))
    }
    val hits = islands.count(i => i._2.isDefined || i._3.isDefined)
    m("detect.bytes") = pages.iterator.map(_.html.length.toLong).sum.toDouble
    m("detect.hit_ratio") = hits.toDouble / math.max(pages.size, 1)

    val xml = islands.collect { case (p, Some(isl), _) => (p.url, isl) }
    var xmlTriples = 0L; var xmlErrors = 0L
    m("rdfxml.busy_s") = busy {
      xml.foreach { case (url, (b, off, len)) =>
        RdfXmlParser.parseBytesRaw(b, off, len, Some(url)) match {
          case Right(ts) => xmlTriples += ts.size
          case Left(_) => xmlErrors += 1
        }
      }
    }
    m("rdfxml.bytes") = xml.iterator.map(_._2._3.toLong).sum.toDouble
    m("rdfxml.triples") = xmlTriples.toDouble
    m("rdfxml.errors") = xmlErrors.toDouble

    val rdfa = islands.collect { case (p, _, Some((off, end))) => (p, off, end) }
    var rdfaTriples = 0L
    m("rdfa.busy_s") = busy {
      rdfa.foreach { case (p, off, end) =>
        RdfaLite.parseBytes(p.html, off, end - off, Some(p.url)).foreach(ts => rdfaTriples += ts.size)
      }
    }
    m("rdfa.triples") = rdfaTriples.toDouble

    val md = pages.filter(p => contains(p.html, Microdata.marker)).map(p => (p.url, new String(p.html, "UTF-8")))
    var mdTriples = 0L
    m("microdata.busy_s") = busy { md.foreach { case (url, h) => mdTriples += Microdata.parse(h, Some(url)).size } }
    m("microdata.triples") = mdTriples.toDouble

    val jl = pages.filter(p => contains(p.html, JsonLd.marker)).map(p => (p.url, new String(p.html, "UTF-8")))
    var jlTriples = 0L
    m("jsonld.busy_s") = busy { jl.foreach { case (url, h) => jlTriples += JsonLd.parseHtml(h, Some(url)).size } }
    m("jsonld.triples") = jlTriples.toDouble

    var toTriples = 0L; var toErrors = 0L
    m("triples_of.busy_s") = busy {
      pages.foreach { p =>
        Extract.triplesOf(p.url, p.html) match {
          case Right(ts) => toTriples += ts.size
          case Left(_) => toErrors += 1
        }
      }
    }
    m("triples_of.triples") = toTriples.toDouble
    m("triples_of.errors") = toErrors.toDouble
    m("rows.self_s") = m("triples_of.busy_s") -
      Seq("detect", "rdfxml", "rdfa", "microdata", "jsonld").map(l => m(s"$l.busy_s")).sum
    m.toSeq
  }
}
