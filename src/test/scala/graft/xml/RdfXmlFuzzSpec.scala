package graft.xml

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}

/** Deterministic mutation battery over the decoder's byte-level error
  * contract: at 100 TB the extraction path feeds the parser arbitrary
  * crawl bytes, so EVERY malformed input must surface as the clean
  * `Either[ParseError, _]` lane — never an uncaught Throwable, never
  * a hang. (The per-row Either is what Extract's lineage error counts
  * aggregate; an escape here would fail whole tasks instead of
  * counting one bad page.) Mutations are seeded by (file, index) —
  * no randomness (the engine-wide determinism rule).
  */
class RdfXmlFuzzSpec extends AnyFunSuite {

  private val suiteDir = "/root/reference/test/data/w3c-rdf-1.1-xml-test-suite"
  // the seed documents by their relative names, read from the shipped
  // fixture corpus and, wherever it is present, from the W3C suite too
  private val roots = graft.pipeline.SyntheticPages.fixtureRoot.toString +:
    Seq(suiteDir).filter(d => Files.isDirectory(Paths.get(d)))
  private def seedsUnder(root: String): Seq[String] = Seq(
    s"$root/rdfms-syntax-incomplete/test001.rdf",
    s"$root/rdf-containers-syntax-vs-schema/test003.rdf",
    s"$root/datatypes/test001.rdf",
    s"$root/amp-in-url/test001.rdf")

  private def lcg(seed: Long): Iterator[Long] =
    Iterator.iterate(seed * 2654435761L + 101)(s =>
      s * 6364136223846793005L + 1442695040888963407L).drop(1)

  private def mutations(bytes: Array[Byte], fileIdx: Int): Seq[Array[Byte]] = {
    val n = bytes.length
    val out = Seq.newBuilder[Array[Byte]]
    // truncations at deterministic fractions
    for (f <- Seq(1, 7, 25, 50, 75, 93, 99))
      out += bytes.take(math.max(1, n * f / 100))
    // single-byte substitutions with structure-hostile bytes
    val hostile = Array[Byte]('<', '>', '&', '"', 0, ';', '%')
    val r = lcg(fileIdx + 1)
    for (i <- 0 until 24) {
      val pos = math.floorMod(r.next(), n.toLong).toInt
      val b = bytes.clone()
      b(pos) = hostile(i % hostile.length)
      out += b
    }
    // byte deletion and duplication at deterministic positions
    for (i <- 0 until 12) {
      val pos = math.floorMod(r.next(), n.toLong).toInt
      out += (bytes.take(pos) ++ bytes.drop(pos + 1))
      out += (bytes.take(pos) ++ bytes.slice(pos, math.min(n, pos + 16)) ++ bytes.drop(pos))
    }
    // segment swap (shuffles element structure wholesale)
    for (i <- 0 until 6) {
      val a = math.floorMod(r.next(), (n / 2).toLong).toInt
      val b = n / 2 + math.floorMod(r.next(), (n / 2).toLong).toInt
      out += (bytes.take(a) ++ bytes.slice(b, n) ++ bytes.slice(a, b))
    }
    // invalid UTF-8 tails
    out += (bytes ++ Array[Byte](-1, -2, -60))
    out.result()
  }

  test("mutated W3C inputs always land in the Either lane (no escape, no hang)") {
    roots.foreach(root => eitherLane(seedsUnder(root)))
  }

  private def eitherLane(seeds: Seq[String]): Unit = {
    var ok = 0; var err = 0
    seeds.zipWithIndex.foreach { case (path, idx) =>
      val bytes = Files.readAllBytes(Paths.get(path))
      mutations(bytes, idx).foreach { m =>
        val res =
          try RdfXmlParser.parseBytes(m, base = Some("http://fuzz.example/base"))
          catch {
            case t: Throwable =>
              fail(s"uncaught ${t.getClass.getSimpleName} on $path mutation " +
                s"(${m.length} bytes): ${t.getMessage}")
          }
        res match {
          case Right(g) => ok += 1; assert(g.triples != null)
          case Left(e)  => err += 1; assert(e.message != null && e.message.nonEmpty)
        }
      }
    }
    // the battery must exercise BOTH lanes: some mutations still parse
    // (truncation inside trailing whitespace, benign swaps), most fail
    assert(err > 100, s"ok=$ok err=$err")
    assert(ok > 0, s"ok=$ok err=$err")
  }

  test("parseChunks handles mutated chunk boundaries identically to whole-buffer parse") {
    roots.foreach(root => chunkParity(seedsUnder(root)))
  }

  private def chunkParity(seeds: Seq[String]): Unit = {
    val bytes = Files.readAllBytes(Paths.get(seeds.head))
    val mut = bytes.take(bytes.length * 3 / 4) // mid-element truncation
    val whole = RdfXmlParser.parseBytes(mut, base = Some("http://fuzz.example/base"))
    for (chunk <- Seq(1, 7, 64)) {
      val chunked = RdfXmlParser.parseChunks(
        mut.grouped(chunk).map(identity), base = Some("http://fuzz.example/base"))
      (whole, chunked) match {
        case (Right(a), Right(b)) => assert(a.triples == b.triples, s"chunk=$chunk")
        case (Left(_), Left(_))   => // both clean errors — agreed
        case other => fail(s"chunk=$chunk lanes disagree: $other")
      }
    }
  }
}
