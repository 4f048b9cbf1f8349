package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** Pins the DuckDB oracle text and the registry's names byte for byte.
  * The SPARQL family's SQL is assembled from shared lane fragments
  * (`SparkEntry.spoSql`), so a refactor of those fragments could move
  * the oracle text without any query changing; this digest catches
  * that before a full Verify does. A deliberate oracle or registry
  * change updates the digests below in the same commit.
  */
class OracleDigestSpec extends AnyFunSuite {

  private def sha256(s: String): String =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))
      .map(b => f"${b & 0xff}%02x").mkString

  /** Length-prefixed, so no SQL text can imitate an entry boundary. */
  private def framed(parts: Seq[String]): String =
    parts.map(p => s"${p.length}:$p").mkString

  test("oracleSql (sorted name -> SQL) matches its pinned digest") {
    val entries = SparkEntry.oracleSql.toSeq.sortBy(_._1)
    assert(entries.size == 217)
    assert(sha256(framed(entries.flatMap { case (k, v) => Seq(k, v) })) ==
      "8804d0b96622bcce1fce6cf0cad758ce2175966d88df317c6df51d1af750d5ae")
  }

  test("the registry's query names match their pinned digest") {
    val names = SparkEntry.queries.keySet.toSeq.sorted
    assert(names.size == 239)
    assert(sha256(framed(names)) ==
      "1b9c44e319059abc1a63ab4abaf56a1a042f412128a28a3e5d7b298203108d38")
  }
}
