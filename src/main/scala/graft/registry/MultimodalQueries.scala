package graft.registry

import org.apache.spark.sql.functions._
import graft.pipeline._

import QueryKit._

/** Multimodal operators: feature extraction and image, audio and video
  * perceptual-hash near-dup over the synthetic media corpora.
  */
private[graft] object MultimodalQueries {

  val queries: Seq[Query] = Seq(
    Query("x_multimodal_features", (s, _) => Multimodal.featureSummary(Multimodal.syntheticAssets(s, 3000)).toDF()),
    // perceptual-hash image near-dup: dHash64 over decoded pixels
    // (format-invariant), 8x8-bit pigeonhole + popcount verify — the
    // multimodal member of the near-dup family; planted twins gated
    // by MultimodalCodecSpec + PipelineSparkSpec, not SQL-expressible
    Query("x_image_phash_neardup", (s, _) => Multimodal.phashNearDup(
      Multimodal.imagePhash(Multimodal.syntheticImageCorpus(s, 1200)))),
    // ORACLED multimodal near-dup twins (q174-q176): the planted
    // corpora are pure functions of asset_id, so the CROSS-FORMAT lane
    // (asset 3g vs 3g+1 of each group) is structurally predictable —
    // identical rasters decode to identical dHashes (BMP vs PNG) and
    // identical bytes to identical fingerprints (WAV dup), so hamming
    // is exactly 0; corrupt payloads (id % 16 == 15, truncated) must
    // drop their group. The oracle restates the surviving group set
    // with pure arithmetic over range() — no decoding — which gates
    // decode success, corrupt flagging, pigeonhole blocking and the
    // popcount verify end-to-end. The noise-twin / negative lanes stay
    // spec-gated (hamming there depends on pixel content, which SQL
    // cannot restate).
    Query("q174_image_phash_pairs", (s, _) =>
      Multimodal.phashNearDup(Multimodal.imagePhash(Multimodal.syntheticImageCorpus(s, 1200)))
        .where(pmod(col("a"), lit(3)) === 0 && col("b") === col("a") + 1)
        .select(expr("a div 3").as("g"), col("hamming").cast("bigint").as("hamming")),
      // q174-q176: the multimodal cross-format lane is structurally
      // predictable — surviving groups are exactly those whose two lane
      // members escape the id%16==15 corrupt-truncation, and identical
      // rasters/bytes pin hamming to 0 (video emits groups only; its
      // lossy MJPEG hamming is content-dependent). Pure arithmetic over
      // range(), no decoding — the oracle-side restatement of the
      // planted-fixture contract (the q145/q146 discipline).
      Some("""SELECT g, CAST(0 AS BIGINT) AS hamming
        |FROM range(0, 400) t(g)
        |WHERE (3*g) % 16 != 15 AND (3*g+1) % 16 != 15""".stripMargin)),
    Query("q175_audio_fp_pairs", (s, _) =>
      Multimodal.phashNearDup(Multimodal.audioFingerprint(Multimodal.syntheticAudioCorpus(s, 1200)))
        .where(pmod(col("a"), lit(3)) === 0 && col("b") === col("a") + 1)
        .select(expr("a div 3").as("g"), col("hamming").cast("bigint").as("hamming")),
      Some("""SELECT g, CAST(0 AS BIGINT) AS hamming
        |FROM range(0, 400) t(g)
        |WHERE (3*g) % 16 != 15 AND (3*g+1) % 16 != 15""".stripMargin)),
    // video's MJPEG lane is lossy (hamming lands 0-3, content-
    // dependent) — the twin emits only the recovered GROUP set, whose
    // completeness at maxHamming=4 is the decode-parity contract
    Query("q176_video_phash_pairs", (s, _) =>
      Multimodal.videoNearDup(Multimodal.syntheticVideoCorpus(s, 1200))
        .where(pmod(col("a"), lit(3)) === 0 && col("b") === col("a") + 1)
        .select(expr("a div 3").as("g")),
      Some("""SELECT g
        |FROM range(0, 400) t(g)
        |WHERE (3*g) % 16 != 15 AND (3*g+1) % 16 != 15""".stripMargin)),
    // audio energy-envelope fingerprint near-dup: the audio member of
    // the near-dup family — same pigeonhole recovery as the image path
    Query("x_audio_fp_neardup", (s, _) => Multimodal.phashNearDup(
      Multimodal.audioFingerprint(Multimodal.syntheticAudioCorpus(s, 1200)))),
    // video near-dup: sampled-frame dHashes (any-frame candidate
    // collision, min-hamming pair collapse) — completes the
    // image/audio/video near-dup family
    Query("x_video_phash_neardup", (s, _) =>
      Multimodal.videoNearDup(Multimodal.syntheticVideoCorpus(s, 1200)))
  )
}
