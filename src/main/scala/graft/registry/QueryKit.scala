package graft.registry

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline._
import graft.pipeline.TextOps.wordsSql
import scala.util.chaining._

/** What more than one query family shares: the table reader, the
  * temporary directories of queries that write files, the SPARQL
  * family's synthetic-KG lanes, and the SQL fragments (minhash
  * candidates, recursive components, synthetic URLs, the q10 quality
  * score) that oracles of several families splice in. It reads no
  * family, so any family may initialize first.
  */
private[graft] object QueryKit {

  def t(s: SparkSession, dir: String, name: String): DataFrame =
    s.read.parquet(s"$dir/$name.parquet")

  /** The temporary directories of queries that write files. A query's
    * frame reads them lazily, so its caller deletes them with
    * [[deleteTempRoots]] once the query's output is written. */
  private val tempRoots = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]
  def tempRoot(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createTempDirectory(prefix).tap(tempRoots.add)
  def deleteTempRoots(): Unit =
    Iterator.continually(tempRoots.poll()).takeWhile(_ != null).foreach(NioLocalFileSystem.deleteTree)

  /** The d<id> IRI of a document: the subject of its triples in the
    * synthetic knowledge graph. */
  val dId = concat(lit("d"), col("doc_id"))

  /** One recurring lane of the synthetic knowledge graph that the
    * SPARQL/RDF family queries: its Spark frame over `documents` and its
    * DuckDB SELECT, side by side so the two engines read one definition.
    * `sql` is the lane as the first SELECT of a CTE, with the s/p/o
    * column aliases; `bare` drops them for the later UNION ALL lanes.
    */
  final case class Lane(frame: DataFrame => DataFrame, sql: String) {
    def apply(docs: DataFrame): DataFrame = frame(docs)
    def bare: String = sql.replaceAll(" AS [spo](?=[,\\s]|$)", "")
  }

  object Lane {
    /** d<id> name n<id%100>, over all docs. */
    val name = Lane(
      _.select(dId.as("s"), lit("name").as("p"),
        concat(lit("n"), pmod(col("doc_id"), lit(100))).as("o")),
      """  SELECT 'd' || CAST(doc_id AS VARCHAR) AS s, 'name' AS p,
        |         'n' || CAST(doc_id % 100 AS VARCHAR) AS o FROM documents""".stripMargin)
    /** d<id> worksFor o<id%16>, over all docs. */
    val worksForAll = Lane(
      _.select(dId.as("s"), lit("worksFor").as("p"),
        concat(lit("o"), pmod(col("doc_id"), lit(16))).as("o")),
      """  SELECT 'd' || CAST(doc_id AS VARCHAR) AS s, 'worksFor' AS p,
        |         'o' || CAST(doc_id % 16 AS VARCHAR) AS o FROM documents""".stripMargin)
    /** The same edges over even docs only: the employed half, whose
      * employers are the even orgs. */
    val worksFor = Lane(docs => worksForAll(docs.where(pmod(col("doc_id"), lit(2)) === 0)),
      worksForAll.sql + " WHERE doc_id % 2 = 0")
    /** d<id> age "<id%90>"^^xsd:integer, over all docs. */
    val age = Lane(
      _.select(dId.as("s"), lit("age").as("p"),
        concat(lit("\""), pmod(col("doc_id"), lit(90)), lit("\"^^xsd:integer")).as("o")),
      """  SELECT 'd' || CAST(doc_id AS VARCHAR) AS s, 'age' AS p,
        |         '"' || CAST(doc_id % 90 AS VARCHAR) || '"^^xsd:integer' AS o FROM documents""".stripMargin)
    /** d<id> lang <lang>, over all docs. */
    val lang = Lane(
      _.select(dId.as("s"), lit("lang").as("p"), col("lang").as("o")),
      "  SELECT 'd' || CAST(doc_id AS VARCHAR) AS s, 'lang' AS p, lang AS o FROM documents")
    /** d<id> memberOf o<id%12>, over docs with id % 3 = 0. */
    val memberOf = Lane(
      _.where(pmod(col("doc_id"), lit(3)) === 0).select(dId.as("s"), lit("memberOf").as("p"),
        concat(lit("o"), pmod(col("doc_id"), lit(12))).as("o")),
      """  SELECT 'd' || CAST(doc_id AS VARCHAR) AS s, 'memberOf' AS p,
        |         'o' || CAST(doc_id % 12 AS VARCHAR) AS o FROM documents WHERE doc_id % 3 = 0""".stripMargin)
    /** d<id> topic <source>, over all docs: noise for predicate pushdown. */
    val topic = Lane(
      _.select(dId.as("s"), lit("topic").as("p"), col("source").as("o")),
      "  SELECT 'd' || CAST(doc_id AS VARCHAR) AS s, 'topic' AS p, source AS o FROM documents")
    /** d<id> reportsTo d<id div 3>, over docs with id > 0. */
    val reportsTo = Lane(
      _.where(col("doc_id") > 0).select(dId.as("s"), lit("reportsTo").as("p"),
        concat(lit("d"), expr("doc_id div 3")).as("o")),
      """  SELECT 'd' || CAST(doc_id AS VARCHAR) AS s, 'reportsTo' AS p,
        |         'd' || CAST(doc_id // 3 AS VARCHAR) AS o FROM documents WHERE doc_id > 0""".stripMargin)
    private val eId = concat(lit("e"), pmod(col("doc_id"), lit(50)))
    /** e<id%50> color v<(31 id)%3>: conflicting values for KG fusion. */
    val colors = Lane(
      _.select(eId.as("s"), lit("color").as("p"),
        concat(lit("v"), pmod(col("doc_id") * 31, lit(3))).as("o")),
      """  SELECT 'e' || CAST(doc_id % 50 AS VARCHAR) AS s, 'color' AS p,
        |         'v' || CAST((doc_id * 31) % 3 AS VARCHAR) AS o FROM documents""".stripMargin)
    /** e<id%50> shape w<(17 id)%4>. */
    val shapes = Lane(
      _.select(eId.as("s"), lit("shape").as("p"),
        concat(lit("w"), pmod(col("doc_id") * 17, lit(4))).as("o")),
      """  SELECT 'e' || CAST(doc_id % 50 AS VARCHAR) AS s, 'shape' AS p,
        |         'w' || CAST((doc_id * 17) % 4 AS VARCHAR) AS o FROM documents""".stripMargin)
    /** o<i> label L<i>, for from <= i < until: orgs past `until` are
      * unlabeled. */
    def labels(until: Int, from: Int = 0): Lane = Lane(
      _.sparkSession.range(from, until).select(concat(lit("o"), col("id")).as("s"),
        lit("label").as("p"), concat(lit("L"), col("id")).as("o")),
      s"""  SELECT 'o' || CAST(i AS VARCHAR) AS s, 'label' AS p, 'L' || CAST(i AS VARCHAR) AS o
         |  FROM range($from, $until) t(i)""".stripMargin)
    /** o<i> sector s<i%4>, for i < 16. */
    val sectors = Lane(
      _.sparkSession.range(0, 16).select(concat(lit("o"), col("id")).as("s"),
        lit("sector").as("p"), concat(lit("s"), pmod(col("id"), lit(4))).as("o")),
      """  SELECT 'o' || CAST(i AS VARCHAR) AS s, 'sector' AS p, 's' || CAST(i % 4 AS VARCHAR) AS o
        |  FROM range(0, 16) t(i)""".stripMargin)
  }

  /** q128's and q135's per-source named graphs with bnode authors:
    * each doc's author bnode _:b<id%24> carries a per-doc name, %3-docs
    * add a knows edge to their own _:k<id> bnode with its own note. */
  def bnodeAuthorQuads(docs: DataFrame): DataFrame = {
    val bId = concat(lit("_:b"), pmod(col("doc_id"), lit(24)))
    docs.select(col("source").as("g"), dId.as("s"), lit("author").as("p"), bId.as("o"))
      .unionByName(docs.select(col("source").as("g"), bId.as("s"),
        lit("name").as("p"), concat(lit("n"), col("doc_id")).as("o")))
      .unionByName(docs.where(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("source").as("g"), bId.as("s"), lit("knows").as("p"),
          concat(lit("_:k"), col("doc_id")).as("o")))
      .unionByName(docs.where(pmod(col("doc_id"), lit(3)) === 0)
        .select(col("source").as("g"), concat(lit("_:k"), col("doc_id")).as("s"),
          lit("note").as("p"), concat(lit("m"), col("doc_id")).as("o")))
      .unionByName(docs.select(col("source").as("g"), dId.as("s"),
        lit("lang").as("p"), col("lang").as("o")))
  }

  /** The union of `lanes` over `docs`, in order. */
  def spoOf(docs: DataFrame, lanes: Lane*): DataFrame =
    lanes.map(_(docs)).reduce(_ unionByName _)

  /** The UNION ALL body of `lanes` for an spo CTE: the first lane names
    * the s/p/o columns, the later ones are bare. */
  def spoSql(lanes: Lane*): String =
    (lanes.head.sql +: lanes.tail.map(_.bare)).mkString("\n  UNION ALL\n")

  /** The shared minhash CTE chain (w0 → sig → banded → cand) — used by
    * [[minhashLshSql]]'s thresholded pair output and q204's unthresholded
    * integer score output. */
  def minhashCandCtes(width: Int, src: String): String = {
    val sigs = (0 until 12).map(j =>
      s"list_min(list_transform(sh, s -> md5('$j|' || s))) AS m$j").mkString(", ")
    val buckets = (0 until 4).map(b =>
      s"md5(m${3 * b} || m${3 * b + 1} || m${3 * b + 2}) AS k$b").mkString(", ")
    s"""w0 AS (
       |  SELECT doc_id, $wordsSql AS words
       |  FROM $src
       |), sh0 AS (
       |  SELECT doc_id,
       |    list_distinct(list_filter(
       |      ${Dedup.shinglesSql(width)},
       |      s -> s <> '')) AS sh
       |  FROM w0 WHERE len(words) > 0
       |), sig AS (SELECT doc_id, sh, $sigs FROM sh0 WHERE len(sh) > 0),
       |bk AS (SELECT doc_id, $buckets FROM sig),
       |banded AS (
       |  SELECT doc_id, band,
       |    CASE band WHEN 0 THEN k0 WHEN 1 THEN k1 WHEN 2 THEN k2 ELSE k3 END AS bucket
       |  FROM bk, unnest([0,1,2,3]) t(band)
       |), cold AS (
       |  SELECT band, bucket FROM banded GROUP BY band, bucket HAVING count(*) <= 200
       |), b2 AS (SELECT banded.* FROM banded JOIN cold USING (band, bucket)),
       |cand AS (
       |  SELECT DISTINCT l.doc_id AS a, r.doc_id AS b
       |  FROM b2 l JOIN b2 r ON l.band = r.band AND l.bucket = r.bucket AND l.doc_id < r.doc_id
       |)""".stripMargin
  }

  /** Connected components of an undirected `edges(a, b)` CTE by
    * recursive label propagation: each node reaches every label of its
    * component, so `min(lab)` per node is its component.
    */
  val reachSql: String =
    """nodes AS (SELECT DISTINCT a AS node FROM edges),
      |reach AS (
      |  SELECT node, node AS lab FROM nodes
      |  UNION
      |  SELECT e.b AS node, r.lab FROM edges e JOIN reach r ON e.a = r.node
      |)""".stripMargin

  /** DuckDB twin of q17/q22: md5-string minhash (12 sigs, 4 bands x 3)
    * over word `width`-shingles, hot-bucket suppression, distinct
    * candidate pairs, exact shingle-set Jaccard verify — replays the
    * full LSH pipeline in ANSI SQL.
    */
  def minhashLshSql(width: Int, threshold: Double, src: String = "documents"): String =
    s"""WITH ${minhashCandCtes(width, src)}
       |SELECT a, b, round(CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))), 4) AS jaccard
       |FROM cand JOIN sig sa ON sa.doc_id = a JOIN sig sb ON sb.doc_id = b
       |WHERE CAST(len(list_intersect(sa.sh, sb.sh)) AS DOUBLE) / (len(sa.sh) + len(sb.sh) - len(list_intersect(sa.sh, sb.sh))) >= $threshold""".stripMargin

  /** The q10 integer quality score as a bare SQL scalar over `text` —
    * shared by q10 and the q32 cluster-representative tiebreak.
    */
  val q10QualityExpr: String =
    """CAST(
      |  (CASE WHEN length(text) > 0 THEN floor(length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) * 4000.0 / length(text)) ELSE 0 END)
      |  + (2000 - (CASE WHEN length(text) > 0 THEN least(floor(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) * 20000.0 / length(text)), 2000.0) ELSE 0 END))
      |  + (CASE WHEN length(text) BETWEEN 200 AND 4000 THEN 2000 WHEN length(text) >= 50 THEN 1000 ELSE 0 END)
      |  + (CASE WHEN ((CASE WHEN ' ' || lower(text) || ' ' LIKE '% the %' THEN 1 ELSE 0 END)
      |            + (CASE WHEN ' ' || lower(text) || ' ' LIKE '% and %' THEN 1 ELSE 0 END)
      |            + (CASE WHEN ' ' || lower(text) || ' ' LIKE '% of %' THEN 1 ELSE 0 END)
      |            + (CASE WHEN ' ' || lower(text) || ' ' LIKE '% to %' THEN 1 ELSE 0 END)
      |            + (CASE WHEN ' ' || lower(text) || ' ' LIKE '% a %' THEN 1 ELSE 0 END)) >= 3 THEN 2000
      |       WHEN ((CASE WHEN ' ' || lower(text) || ' ' LIKE '% the %' THEN 1 ELSE 0 END)
      |            + (CASE WHEN ' ' || lower(text) || ' ' LIKE '% and %' THEN 1 ELSE 0 END)
      |            + (CASE WHEN ' ' || lower(text) || ' ' LIKE '% of %' THEN 1 ELSE 0 END)
      |            + (CASE WHEN ' ' || lower(text) || ' ' LIKE '% to %' THEN 1 ELSE 0 END)
      |            + (CASE WHEN ' ' || lower(text) || ' ' LIKE '% a %' THEN 1 ELSE 0 END)) >= 1 THEN 1000
      |       ELSE 0 END) AS BIGINT)""".stripMargin

  /** Deterministic messy-URL construction for q36/q37 (the q33 pattern:
    * a pure function of doc_id/source, mirrored byte-for-byte in the
    * oracle SQL, so the canonicalization logic itself is value-checked):
    * variant 0 — uppercase scheme/host, www, default :443, path, query
    * AND fragment; variant 1 — http with default :80 and a fragment;
    * variant 2 — non-default port kept, EMPTY path with a query.
    */
  def syntheticUrl: org.apache.spark.sql.Column =
    when(pmod(col("doc_id"), lit(4)) === 0,
      concat(lit("HtTpS://WWW."), col("source"), lit(".Example.COM:443/a/"),
        pmod(col("doc_id"), lit(50)), lit("/p?id="), col("doc_id"), lit("&ref=feed#top")))
      .when(pmod(col("doc_id"), lit(4)) === 1,
        concat(lit("HTTP://"), col("source"), lit(".example.ORG:80/b/"),
          pmod(col("doc_id"), lit(50)), lit("#frag")))
      .when(pmod(col("doc_id"), lit(4)) === 2,
        concat(lit("https://Api."), col("source"), lit(".Net:8443?x=1")))
      // protocol-relative: unparseable on purpose — exercises the
      // parsed=0 verbatim-passthrough branch end to end
      .otherwise(concat(lit("//Cdn."), col("source"), lit(".example.com/lib.js")))

  /** DuckDB twin of the q36/q37 URL construction. */
  def syntheticUrlSql: String =
    """CASE doc_id % 4
      |  WHEN 0 THEN 'HtTpS://WWW.' || source || '.Example.COM:443/a/' || CAST(doc_id % 50 AS VARCHAR) || '/p?id=' || CAST(doc_id AS VARCHAR) || '&ref=feed#top'
      |  WHEN 1 THEN 'HTTP://' || source || '.example.ORG:80/b/' || CAST(doc_id % 50 AS VARCHAR) || '#frag'
      |  WHEN 2 THEN 'https://Api.' || source || '.Net:8443?x=1'
      |  ELSE '//Cdn.' || source || '.example.com/lib.js'
      |END""".stripMargin
}
