package graft

import graft.pipeline.Multimodal
import org.apache.spark.sql.functions._

class MultimodalSpec extends SparkSpec {

  test("decodeBatch really parses the payload (and is deterministic)") {
    val bytes = Multimodal.Pgm.encode(1L, "hello multimodal")
    val out1 = Multimodal.decodeBatch(Iterator((1L, bytes))).toList
    val out2 = Multimodal.decodeBatch(Iterator((1L, bytes))).toList
    assert(out1 === out2)
    val m = out1.head
    assert(m.n_bytes === bytes.length)
    assert(m.width === 8 + 1 % 8)
    assert(m.height === 8 + 1 % 5)
    assert(m.brightness >= 0.0 && m.brightness <= 1.0)
    // a real decoder, not a digest stub: corrupt payloads throw
    intercept[IllegalArgumentException](
      Multimodal.decodeBatch(Iterator((1L, "JUNK".getBytes))).toList)
  }

  test("m2 pipeline: binary column survives distributed decode, one row per doc") {
    val df = GradedRuns.frame("m2_media_decode")
    val docs = graft.sources.Tables.documents(spark, sfDir).count()
    assert(df.count() === docs)
    assert(df.schema.fieldNames.toSeq ===
      Seq("doc_id", "n_bytes", "width", "height", "brightness"))
    // decoded dimensions must follow the synthesis rule — proves the
    // binary payload reached the real decoder intact, per row
    assert(df.where(col("width") =!= lit(8) + col("doc_id") % 8
      || col("height") =!= lit(8) + col("doc_id") % 5).count() === 0)
    // n_bytes is the whole payload: header + w·h raster
    assert(df.where(col("n_bytes") <= col("width") * col("height")).count() === 0)
  }

  test("m3 frame sampling yields exactly k rows per document") {
    val df = GradedRuns.frame("m3_frame_sample")
    val docs = graft.sources.Tables.documents(spark, sfDir).count()
    assert(df.count() === docs * 4)
    assert(df.groupBy("doc_id").count()
      .where(col("count") =!= 4).count() === 0)
  }

  test("PGM codec round-trips and validates its header") {
    import Multimodal.Pgm
    // round trip: decoded fields equal the synthesis parameters
    val blob = Pgm.encode(13L, "abc def")
    val d = Pgm.decode(blob)
    assert(d.width === 8 + 13 % 8)
    assert(d.height === 8 + 13 % 5)
    assert(d.maxval === 255)
    assert(d.brightness > 0.0 && d.brightness <= 1.0)
    // hand-built known image: 2x1, pixels (0, 255) → brightness 0.5
    val tiny = "P5\n2 1\n255\n".getBytes("US-ASCII") ++ Array[Byte](0, -1)
    assert(Pgm.decode(tiny).brightness === (255.0 / 2) / 255.0)
    // a real decoder rejects malformed input instead of fabricating pixels
    intercept[IllegalArgumentException](Pgm.decode("JUNK".getBytes))
    intercept[IllegalArgumentException](Pgm.decode(blob.dropRight(1))) // truncated raster
    intercept[IllegalArgumentException](
      Pgm.decode("P5\n2 1\n65535\n12".getBytes)) // unsupported maxval
    // every decoder walks the same header, so each rejects the same four
    // bad payloads (the cut one is "P5\n12 10\n255\n…" stopped inside 10)
    val bad = Seq(
      "wrong magic" -> "P6\n2 1\n255\n12".getBytes("US-ASCII"),
      "header cut mid-integer" -> "P5\n12 1".getBytes("US-ASCII"),
      "maxval != 255" -> "P5\n2 1\n65535\n12".getBytes("US-ASCII"),
      "raster one byte short" -> blob.dropRight(1))
    val decoders = Seq[(String, Array[Byte] => Any)](
      "decode" -> Pgm.decode, "decodeStats" -> Pgm.decodeStats,
      "dHash" -> Pgm.dHash, "boxResize" -> (Pgm.boxResize(_, 1, 1)),
      "decodeFrames" -> Pgm.decodeFrames)
    for ((dn, dec) <- decoders; (what, bytes) <- bad)
      withClue(s"$dn on $what: ") {
        intercept[IllegalArgumentException](dec(bytes))
      }
    // the single-image encoder is the one-frame container, byte for byte
    for ((id, t) <- Seq(0L -> "", 13L -> "abc def", 42L -> "The quick brown fox"))
      assert(Pgm.encode(id, t) sameElements Pgm.encodeFrames(id, t, 1),
        s"id=$id text='$t'")
  }

  test("dHash: gradient bits on known rasters, halves non-negative, rejects junk") {
    import Multimodal.Pgm
    // hand-built 9x8 identity grid: pixel = column index, so every
    // left-to-right gradient is ascending → p(r,c) > p(r,c+1) never
    // holds → both halves zero
    val asc = "P5\n9 8\n255\n".getBytes("US-ASCII") ++
      Array.tabulate(72)(i => (i % 9).toByte)
    assert(Pgm.dHash(asc) === (0L, 0L))
    // descending grid: every gradient bit fires → all 32 bits set in
    // each half (and the packing stays off the sign bit)
    val desc = "P5\n9 8\n255\n".getBytes("US-ASCII") ++
      Array.tabulate(72)(i => (8 - i % 9).toByte)
    assert(Pgm.dHash(desc) === (0xFFFFFFFFL, 0xFFFFFFFFL))
    // empty-text payload (all-space raster): flat image, zero hash
    assert(Pgm.dHash(Pgm.encode(16L, "")) === (0L, 0L))
    // deterministic and sensitive: same text → same hash; text change
    // that alters a sampled byte changes the hash
    assert(Pgm.dHash(Pgm.encode(5L, "abcdefgh")) ===
      Pgm.dHash(Pgm.encode(5L, "abcdefgh")))
    intercept[IllegalArgumentException](Pgm.dHash("JUNK".getBytes))
    for ((hi, lo) <- Seq(Pgm.dHash(Pgm.encode(7L, "The quick brown fox"))))
      assert(hi >= 0L && lo >= 0L)
  }

  test("multi-frame PGM container round-trips and rejects truncation") {
    import Multimodal.Pgm
    val blob = Pgm.encodeFrames(7L, "abc xyz", 3)
    val frames = Pgm.decodeFrames(blob)
    assert(frames.length === 3)
    assert(frames.forall(f => f.width === 8 + 7 % 8 && f.height === 8 + 7 % 5))
    // frame pixels are offset by the frame index -> brightness strictly
    // increases with f for an all-ASCII source (no mod-256 wraparound)
    assert(frames.map(_.brightness) === frames.map(_.brightness).sorted)
    assert(frames(0).brightness < frames(2).brightness)
    intercept[IllegalArgumentException](Pgm.decodeFrames(blob.dropRight(1)))
    intercept[IllegalArgumentException](
      Pgm.decodeFrames(blob ++ "P6\n".getBytes)) // wrong magic mid-stream
  }

  test("WAV codec round-trips and validates the RIFF structure") {
    import Multimodal.Wav
    val blob = Wav.encode(5L, "hello world")
    val d = Wav.decode(blob)
    assert(d.sampleRate === 8000 * (1 + 5 % 3))
    assert(d.nSamples === 32 + 5 % 32)
    // hand-check the reduction on a tiny payload: text "ab" tiles the
    // 32-sample buffer with bytes 97, 98 → |(97−128)·64| = 1984 and
    // |(98−128)·64| = 1920, mean = 1952
    assert(Wav.decode(Wav.encode(0L, "ab")).meanAbs === 1952.0)
    // a decoder must fail loudly on malformed input, never fabricate
    intercept[IllegalArgumentException](Wav.decode(blob.take(30))) // truncated
    intercept[IllegalArgumentException](
      Wav.decode("JUNK".getBytes ++ blob.drop(4))) // wrong magic
    intercept[IllegalArgumentException](
      Wav.decode(blob ++ Array[Byte](0, 0))) // RIFF size mismatch
    val badRate = blob.clone() // corrupt the byte-rate field (offset 28)
    badRate(28) = (badRate(28) ^ 0x01).toByte
    intercept[IllegalArgumentException](Wav.decode(badRate))
  }

  test("m5 decoded dimensions follow the synthesis rule for every doc") {
    val df = GradedRuns.frame("m5_image_decode")
    assert(df.where(col("width") =!= lit(8) + col("doc_id") % 8
      || col("height") =!= lit(8) + col("doc_id") % 5).count() === 0)
    assert(df.where(col("brightness") < 0 || col("brightness") > 1).count() === 0)
  }

  test("boxResize: constant raster is a fixed point, means exact, junk rejected") {
    import graft.pipeline.Multimodal.Pgm
    // constant raster: every block mean IS the constant, whatever the
    // block geometry — a fixed point that kills off-by-one block bounds
    val const = Pgm.encode(0L, "aaaa") // 8x8, every pixel 'a' = 97
    assert(Pgm.boxResize(const, 4, 4).forall(_ == 97))
    assert(Pgm.boxResize(const, 1, 1).sameElements(Array(97)))
    // hand-computed 2x2 means on a known 8x8 tiling of "ab" (97, 98
    // alternating row-major; 8 even => every 2x2 block holds two of
    // each): mean = (97+98)/2 floored = 97
    val ab = Pgm.encode(0L, "ab")
    assert(Pgm.boxResize(ab, 4, 4).forall(_ == 97))
    // full-size resize is the identity read-back of the raster
    val idPx = Pgm.boxResize(ab, 8, 8)
    assert(idPx.length === 64 && idPx(0) === 97 && idPx(1) === 98)
    // a real resizer fails loudly on junk and on upscale requests
    intercept[IllegalArgumentException](
      Pgm.boxResize("nope".getBytes, 4, 4))
    intercept[IllegalArgumentException](Pgm.boxResize(ab, 16, 16))
  }

  test("m2 decode agrees with m5's graded brightness per doc") {
    // m2 (bench-only typed-Dataset path) and m5 (graded path) run the
    // SAME codec over the same synthesized payloads — their outputs must
    // be identical row-for-row
    val dec = GradedRuns.frame("m2_media_decode")
      .select(col("doc_id"), col("width"), col("height"), col("brightness"))
    val graded = GradedRuns.frame("m5_image_decode")
      .select(col("doc_id"), col("width").as("w5"), col("height").as("h5"),
        col("brightness").as("b5"))
    assert(dec.join(graded, "doc_id")
      .where(col("width") =!= col("w5") || col("height") =!= col("h5")
        || col("brightness") =!= col("b5")).count() === 0)
  }
}
