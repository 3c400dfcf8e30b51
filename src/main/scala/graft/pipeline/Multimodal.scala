package graft.pipeline

import graft.QueryDef
import graft.QueryDef.{benchOnly, graded}
import graft.sources.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** M: multimodal columns — images/audio/video as opaque binary columns
  * with typed metadata.
  *
  * The corpus carries no real media, so the binary column is manufactured
  * from `documents.text` (UTF-8 encode). What this module makes real and
  * testable is the Spark-side plumbing a 100 TB media pipeline needs:
  *  - `BinaryType` columns flowing through scans, projections and
  *    aggregations without materializing on the driver;
  *  - cheap metadata (sizes, digests, magic-byte sniffing) computed with
  *    codegen'd built-ins, so filtering/pruning happens BEFORE any
  *    expensive decode;
  *  - the decode step as per-partition batch processing
  *    ([[Multimodal.decodeBatch]]) with an explicit output schema, backed
  *    by a REAL pure-JVM raster codec ([[Pgm]]: binary PGM/P5 — header
  *    validation, raster-size checks, pixel reduction; malformed input
  *    throws). No external media libs exist in this environment, so PGM
  *    is the honest choice: simple enough to implement correctly, real
  *    enough that the decode path parses actual bytes (m5/m6 grade it
  *    end-to-end against an oracle that recomputes the decoded metadata
  *    from first principles).
  */
object Multimodal {

  // m1 — binary metadata extraction, graded: byte length, content digest,
  // and a "magic bytes" prefix (the hex head a format sniffer would
  // dispatch on). DuckDB twins: text::BLOB, md5 over the same UTF-8 bytes.
  private val m1 = graded(
    "m1_media_meta",
    """SELECT doc_id,
      |  octet_length(text::BLOB) AS n_bytes,
      |  md5(text) AS digest,
      |  substring(hex(text::BLOB), 1, 16) AS magic_hex
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.documents(spark, dir)
      .withColumn("blob", encode($"text", "UTF-8"))
      .select($"doc_id",
        octet_length($"blob").as("n_bytes"),
        md5($"blob").as("digest"),
        substring(hex($"blob"), 1, 16).as("magic_hex"))
      .orderBy("doc_id")
  }

  /** Decoded-media metadata record (the decode output schema). */
  final case class MediaMeta(doc_id: Long, n_bytes: Int,
      width: Int, height: Int, brightness: Double)

  /** Per-partition batch decode over the REAL [[Pgm]] codec: the
    * iterator shape batches rows per partition (a codec context with
    * native state would be created once here, before the map), and every
    * payload is genuinely parsed — header validation, raster-size check,
    * pixel reduction.
    */
  def decodeBatch(it: Iterator[(Long, Array[Byte])]): Iterator[MediaMeta] =
    it.map { case (id, bytes) =>
      val d = Pgm.decode(bytes)
      MediaMeta(id, bytes.length, d.width.toInt, d.height.toInt, d.brightness)
    }

  // m2 — bench-only: the full decode pipeline. binary column (real PGM
  // payloads) → mapPartitions batch decode → typed Dataset → projection.
  // Rows never collect to the driver; the decode parallelism is the scan
  // partitioning. Graded twin: m5 (same codec, oracle-checked).
  private val m2 = benchOnly("m2_media_decode") { (spark, dir) =>
    import spark.implicits._
    Tables.documentsDist(spark, dir)
      .select($"doc_id", $"text")
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) => (id, Pgm.encode(id, text)) })
      .mapPartitions(decodeBatch)
      .toDF()
      .select($"doc_id", $"n_bytes", $"width", $"height",
        round($"brightness", 6).as("brightness"))
      .orderBy("doc_id")
  }

  /** One sampled "frame" of a media payload. */
  final case class Frame(doc_id: Long, frame_idx: Int, brightness: Double)

  /** Per-partition 1→N frame decode over the real multi-frame container
    * ([[Pgm.decodeFrames]]): each payload's frames are walked and parsed
    * with per-frame validation; the iterator-flatMap shape (each input
    * row yields one output row per frame, batched per partition, never
    * materialized on the driver) is the 100 TB video-sampling shape.
    */
  def sampleFrames(it: Iterator[(Long, Array[Byte])]): Iterator[Frame] =
    it.flatMap { case (id, blob) =>
      Pgm.decodeFrames(blob).iterator.zipWithIndex.map { case (d, f) =>
        Frame(id, f, d.brightness)
      }
    }

  // m3 — bench-only: frame sampling, the 1→N twin of m2's 1→1 decode,
  // over real 4-frame PGM containers. At 100 TB the output is k× the
  // input row count but each frame row is tiny metadata — the heavy
  // binary column is dropped before the rows fan out. Graded twin: m6
  // (same container walk + even-frame sampling, oracle-checked).
  private val m3 = benchOnly("m3_frame_sample") { (spark, dir) =>
    import spark.implicits._
    Tables.documentsDist(spark, dir)
      .select($"doc_id", $"text")
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        (id, Pgm.encodeFrames(id, text, 4))
      })
      .mapPartitions(sampleFrames)
      .toDF()
      .select($"doc_id", $"frame_idx", round($"brightness", 6).as("brightness"))
      .orderBy("doc_id", "frame_idx")
  }

  // m4 — media dedup by content digest: the binary-column twin of exact
  // text dedup. The 16-byte digest — not the payload — travels through
  // the shuffle (one groupBy + one join back), which is what makes exact
  // media dedup feasible at 100 TB: the multi-MB blobs stay columnar in
  // the scan and never ride a shuffle. Keeper = min doc_id per digest.
  private val m4 = graded(
    "m4_media_dedup",
    """WITH h AS (SELECT doc_id, md5(text) AS digest FROM documents),
      |k AS (
      |  SELECT digest, min(doc_id) AS keeper, count(*) AS copies
      |  FROM h GROUP BY 1)
      |SELECT h.doc_id, k.keeper, k.copies, h.doc_id = k.keeper AS keep
      |FROM h JOIN k USING (digest)
      |ORDER BY h.doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val h = Tables.documents(spark, dir)
      .select($"doc_id", md5(encode($"text", "UTF-8")).as("digest"))
    val k = h.groupBy($"digest")
      .agg(min($"doc_id").as("keeper"), count(lit(1)).as("copies"))
    h.join(k, "digest")
      .select($"doc_id", $"keeper", $"copies", ($"doc_id" === $"keeper").as("keep"))
      .orderBy("doc_id")
  }

  /** Minimal binary PGM (P5) codec — pure JVM, no external libs. The one
    * raster format simple enough to implement honestly in this
    * environment, which upgrades the decode story from "stub" to "real
    * format parse": header `P5\n<w> <h>\n<maxval>\n` + w·h raw gray
    * bytes.
    */
  object Pgm {
    /** Deterministic per-document image: dimensions from doc_id, pixels
      * from the document's UTF-8 bytes tiled over the raster. The rule is
      * deliberately SQL-expressible so the m5 oracle can recompute the
      * decoded metadata from first principles. The one-frame container of
      * [[encodeFrames]] (frame 0's offset adds nothing), byte for byte.
      */
    def encode(docId: Long, text: String): Array[Byte] =
      encodeFrames(docId, text, 1)

    /** Decoded record: dimensions, maxval, mean brightness in [0, 1]. */
    final case class Decoded(width: Long, height: Long, maxval: Long,
        brightness: Double)

    /** Per-raster pixel statistics for m8: min/max value, distinct value
      * count, fraction of space (0x20) pixels. Walks the same header +
      * raster layout as [[decode]] (and fails as loudly).
      */
    final case class RasterStats(pMin: Long, pMax: Long, nValues: Long,
        spaceFrac: Double)

    def decodeStats(bytes: Array[Byte]): RasterStats = {
      val (w, h, pos) = image(bytes)
      val seen = new Array[Boolean](256)
      var mn = 256L; var mx = -1L; var spaces = 0L; var distinct = 0L
      var i = pos
      while (i < bytes.length) {
        val v = java.lang.Byte.toUnsignedInt(bytes(i))
        if (!seen(v)) { seen(v) = true; distinct += 1 }
        if (v < mn) mn = v
        if (v > mx) mx = v
        if (v == 32) spaces += 1
        i += 1
      }
      RasterStats(mn, mx, distinct, spaces.toDouble / (w * h))
    }

    /** dHash perceptual fingerprint for m9: real header walk, 9×8
      * nearest-neighbor grid sample, 64 gradient bits packed into two
      * non-negative BIGINT halves (rows 0–3 → hi, 4–7 → lo).
      */
    def dHash(bytes: Array[Byte]): (Long, Long) = {
      val (w, h, pos) = image(bytes)
      def px(r: Long, c: Long): Int = {
        val idx = (r * h / 8) * w + (c * w / 9)
        java.lang.Byte.toUnsignedInt(bytes(pos + idx.toInt))
      }
      var hi = 0L; var lo = 0L
      var r = 0
      while (r < 8) {
        var c = 0
        while (c < 8) {
          if (px(r, c) > px(r, c + 1)) {
            if (r < 4) hi |= 1L << (r * 8 + c)
            else lo |= 1L << ((r - 4) * 8 + c)
          }
          c += 1
        }
        r += 1
      }
      (hi, lo)
    }

    /** BOX-FILTER (area-mean) downsample for m14: real header walk, then
      * each output cell (r, c) is the integer-floor mean of the input
      * block rows [⌊r·h/outH⌋, ⌊(r+1)·h/outH⌋) × cols [⌊c·w/outW⌋,
      * ⌊(c+1)·w/outW⌋) — the anti-aliased thumbnail kernel (m9's dHash
      * grid is nearest-neighbor SAMPLING; this AVERAGES every covered
      * pixel, so no input pixel is dropped). All-integer arithmetic:
      * sums and the floor division are exact, so the oracle recomputes
      * every cell bit-identically from the synthesis rule. Requires
      * outW ≤ w and outH ≤ h (every block nonempty).
      */
    def boxResize(bytes: Array[Byte], outW: Int, outH: Int): Array[Int] = {
      val (w, h, pos) = image(bytes)
      require(outW <= w && outH <= h,
        s"box resize cannot upscale: ${w}x$h -> ${outW}x$outH")
      val out = new Array[Int](outW * outH)
      var r = 0
      while (r < outH) {
        val rLo = (r * h / outH).toInt; val rHi = ((r + 1) * h / outH).toInt
        var c = 0
        while (c < outW) {
          val cLo = (c * w / outW).toInt; val cHi = ((c + 1) * w / outW).toInt
          var s = 0L
          var ri = rLo
          while (ri < rHi) {
            var ci = cLo
            while (ci < cHi) {
              s += java.lang.Byte.toUnsignedInt(bytes(pos + (ri * w + ci).toInt))
              ci += 1
            }
            ri += 1
          }
          out(r * outW + c) =
            (s / ((rHi - rLo).toLong * (cHi - cLo))).toInt
          c += 1
        }
        r += 1
      }
      out
    }

    /** Parse a P5 payload: magic + 3 whitespace-separated header ints +
      * exactly w·h raster bytes. Malformed input throws — a real decoder
      * fails loudly, it does not fabricate pixels.
      */
    def decode(bytes: Array[Byte]): Decoded = {
      val (w, h, pos) = image(bytes)
      var sum = 0L
      var i = pos
      while (i < bytes.length) {
        sum += java.lang.Byte.toUnsignedInt(bytes(i)); i += 1
      }
      Decoded(w, h, 255L, sum.toDouble / (w * h) / 255.0)
    }

    /** The P5 header at `off`, the one header walk every decoder runs:
      * magic, then width, height and maxval as whitespace-separated ASCII
      * ints, then the single whitespace byte ending the header. Every
      * advance is bounds-checked, so a payload cut mid-header fails the
      * documented way (require -> IllegalArgumentException). Returns
      * (w, h, raster start); maxval must be 255.
      */
    private def header(bytes: Array[Byte], off: Int): (Long, Long, Int) = {
      require(bytes.length - off >= 2 && bytes(off) == 'P' && bytes(off + 1) == '5',
        s"not a P5 PGM at offset $off")
      var pos = off + 2
      def nextInt(): Long = {
        while (pos < bytes.length && bytes(pos).toChar.isWhitespace) pos += 1
        val start = pos
        while (pos < bytes.length && !bytes(pos).toChar.isWhitespace) pos += 1
        require(pos > start, "truncated PGM header")
        new String(bytes, start, pos - start,
          java.nio.charset.StandardCharsets.US_ASCII).toLong
      }
      val w = nextInt(); val h = nextInt(); val maxval = nextInt()
      require(maxval == 255, s"unsupported maxval $maxval")
      (w, h, pos + 1)
    }

    /** A single-image payload: the header, then exactly w·h raster bytes. */
    private def image(bytes: Array[Byte]): (Long, Long, Int) = {
      val (w, h, pos) = header(bytes, 0)
      require(bytes.length - pos == w * h,
        s"raster size ${bytes.length - pos} != ${w * h}")
      (w, h, pos)
    }

    /** Multi-frame payload: `n` concatenated P5 frames sharing the m5
      * dimension rule; frame `f`'s pixel i = (text byte + f) mod 256, so
      * each frame is distinct and the oracle can recompute any frame's
      * mean from first principles.
      */
    def encodeFrames(docId: Long, text: String, n: Int): Array[Byte] = {
      val w = (8 + docId % 8).toInt
      val h = (8 + docId % 5).toInt
      val src = if (text.isEmpty) Array(' '.toByte)
        else text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val out = java.nio.ByteBuffer.allocate(
        n * (s"P5\n$w $h\n255\n".length + w * h))
      var f = 0
      while (f < n) {
        out.put(s"P5\n$w $h\n255\n"
          .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
        var i = 0
        while (i < w * h) {
          out.put(((java.lang.Byte.toUnsignedInt(src(i % src.length)) + f) % 256).toByte)
          i += 1
        }
        f += 1
      }
      out.array()
    }

    /** Parse a concatenation of P5 frames; trailing garbage throws (the
      * per-frame parse re-validates magic + raster size each time).
      */
    def decodeFrames(bytes: Array[Byte]): Seq[Decoded] = {
      val frames = scala.collection.mutable.ArrayBuffer.empty[Decoded]
      var off = 0
      while (off < bytes.length) {
        val (w, h, pos) = header(bytes, off)
        val raster = w * h
        require(raster >= 0 && raster <= bytes.length - pos,
          "truncated frame raster")
        val end = pos + raster.toInt
        frames += decode(java.util.Arrays.copyOfRange(bytes, off, end))
        off = end
      }
      frames.toSeq
    }
  }

  // m5 — GRADED real decode: documents → deterministic binary PGM images
  // (Pgm.encode, one mapPartitions) → REAL format parse (Pgm.decode,
  // second mapPartitions batch — header validation, raster-size check,
  // pixel reduction) → decoded metadata. The oracle recomputes the same
  // metadata from first principles (dimensions from doc_id, mean pixel
  // from the text bytes the raster was tiled with) WITHOUT the binary
  // round trip — so a bug in either the encoder or the decoder breaks
  // parity. ASCII corpus ⇒ code points == bytes, making the oracle's
  // ascii(substring(...)) exactly the raster bytes. The blob never rides
  // a shuffle: both mapPartitions run inside the scan stage and only the
  // small metadata rows reach the final sort.
  private val m5 = graded(
    "m5_image_decode",
    """SELECT doc_id,
      |  (8 + doc_id % 8)::BIGINT AS width,
      |  (8 + doc_id % 5)::BIGINT AS height,
      |  255::BIGINT AS maxval,
      |  round(list_sum(list_transform(
      |      generate_series(0, (8 + doc_id % 8) * (8 + doc_id % 5) - 1),
      |      i -> CASE WHEN length(text) = 0 THEN 32
      |           ELSE ascii(substring(text, (i % length(text))::INT + 1, 1))
      |           END))::DOUBLE
      |    / ((8 + doc_id % 8) * (8 + doc_id % 5)) / 255.0, 6) AS brightness
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    // documentsDist: the corpus ships as one row group, and the codec is
    // genuine per-row work — the distributed loader spreads it across
    // cores while (doc_id, text) moves BEFORE any blob exists
    Tables.documentsDist(spark, dir)
      .select($"doc_id", $"text")
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) => (id, Pgm.encode(id, text)) })
      .mapPartitions(_.map { case (id, blob) =>
        val d = Pgm.decode(blob)
        (id, d.width, d.height, d.maxval, d.brightness)
      })
      .toDF("doc_id", "width", "height", "maxval", "brightness")
      .withColumn("brightness", round($"brightness", 6))
      .orderBy("doc_id")
  }

  // m6 — GRADED multi-frame decode + sampling: each doc becomes a real
  // multi-frame binary payload (2 + doc_id % 3 concatenated PGM frames,
  // frame f's pixels = (text byte + f) mod 256), then the decoder parses
  // the container frame-by-frame (re-validating each header and raster)
  // and only EVEN frames are emitted — the m3 frame-sampling shape with a
  // real codec instead of a stub. The oracle recomputes every sampled
  // frame's dimensions and mean brightness from the synthesis rule
  // without touching bytes, so encoder, container walker, and per-frame
  // decoder are all on the graded path. Blobs never ride a shuffle: both
  // mapPartitions run inside the scan stage and frames fan out AFTER the
  // binary column is consumed.
  private val m6 = graded(
    "m6_frame_decode",
    """WITH f AS (
      |  SELECT doc_id, text,
      |    unnest(generate_series(0, (2 + doc_id % 3)::INT - 1)) AS frame_idx
      |  FROM documents)
      |SELECT doc_id, frame_idx::BIGINT AS frame_idx,
      |  (8 + doc_id % 8)::BIGINT AS width,
      |  (8 + doc_id % 5)::BIGINT AS height,
      |  round(list_sum(list_transform(
      |      generate_series(0, ((8 + doc_id % 8) * (8 + doc_id % 5))::INT - 1),
      |      i -> (CASE WHEN length(text) = 0 THEN 32
      |            ELSE ascii(substring(text, (i % length(text))::INT + 1, 1))
      |            END + frame_idx) % 256))::DOUBLE
      |    / ((8 + doc_id % 8) * (8 + doc_id % 5)) / 255.0, 6) AS brightness
      |FROM f
      |WHERE frame_idx % 2 = 0
      |ORDER BY doc_id, frame_idx""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.documentsDist(spark, dir) // codec work spread across cores (m5)
      .select($"doc_id", $"text")
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        (id, Pgm.encodeFrames(id, text, (2 + id % 3).toInt))
      })
      .mapPartitions(_.flatMap { case (id, blob) =>
        Pgm.decodeFrames(blob).zipWithIndex.collect {
          case (d, f) if f % 2 == 0 =>
            (id, f.toLong, d.width, d.height, d.brightness)
        }
      })
      .toDF("doc_id", "frame_idx", "width", "height", "brightness")
      .withColumn("brightness", round($"brightness", 6))
      .orderBy("doc_id", "frame_idx")
  }

  /** Real pure-JVM WAV/RIFF PCM codec — the audio modality's [[Pgm]].
    * The synthesis rule is SQL-expressible so the m7 oracle recomputes
    * the decoded metadata from first principles; the decoder is a
    * genuine RIFF chunk walk (magic, sizes, fmt fields, data length all
    * validated — malformed input throws, it is never "repaired").
    */
  object Wav {
    /** Deterministic per-document waveform: sample rate and length from
      * doc_id, 16-bit mono PCM samples from the document's UTF-8 bytes:
      * sample i = (byte(i mod len) − 128) · 64 (safe in i16).
      */
    def encode(docId: Long, text: String): Array[Byte] = {
      val rate = (8000 * (1 + docId % 3)).toInt
      val n = (32 + docId % 32).toInt
      val src = if (text.isEmpty) Array(' '.toByte)
        else text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val bb = java.nio.ByteBuffer.allocate(44 + 2 * n)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes).putInt(36 + 2 * n).put("WAVE".getBytes)
      bb.put("fmt ".getBytes).putInt(16)
        .putShort(1) // PCM
        .putShort(1) // mono
        .putInt(rate)
        .putInt(rate * 2) // byte rate
        .putShort(2) // block align
        .putShort(16) // bits per sample
      bb.put("data".getBytes).putInt(2 * n)
      var i = 0
      while (i < n) {
        bb.putShort(((java.lang.Byte.toUnsignedInt(src(i % src.length)) - 128) * 64).toShort)
        i += 1
      }
      bb.array()
    }

    final case class DecodedWav(sampleRate: Long, nSamples: Long,
        meanAbs: Double)

    /** Parse a RIFF/WAVE payload: validates both magics, the RIFF size,
      * every fmt field (PCM, mono, 16-bit, coherent byte rate / block
      * align), and that the data chunk holds a whole number of samples
      * exactly filling the container.
      */
    def decode(bytes: Array[Byte]): DecodedWav = {
      val bb = java.nio.ByteBuffer.wrap(bytes)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      def tag(): String = {
        val b = new Array[Byte](4); bb.get(b); new String(b, "US-ASCII")
      }
      require(bytes.length >= 44, "truncated WAV header")
      require(tag() == "RIFF", "not a RIFF container")
      require(bb.getInt() == bytes.length - 8, "RIFF size mismatch")
      require(tag() == "WAVE", "not a WAVE form")
      require(tag() == "fmt " && bb.getInt() == 16, "missing PCM fmt chunk")
      require(bb.getShort() == 1, "not PCM")
      require(bb.getShort() == 1, "not mono")
      val rate = bb.getInt()
      require(bb.getInt() == rate * 2, "incoherent byte rate")
      require(bb.getShort() == 2, "incoherent block align")
      require(bb.getShort() == 16, "not 16-bit")
      require(tag() == "data", "missing data chunk")
      val dataLen = bb.getInt()
      require(dataLen >= 0 && dataLen % 2 == 0 &&
        dataLen == bytes.length - 44, "data size mismatch")
      val n = dataLen / 2
      var sum = 0L
      var i = 0
      while (i < n) { sum += math.abs(bb.getShort().toInt); i += 1 }
      DecodedWav(rate, n, sum.toDouble / n)
    }
  }

  // m7 — GRADED real audio decode: documents → deterministic WAV/PCM16
  // payloads (Wav.encode) → REAL RIFF parse (Wav.decode — magic, size,
  // fmt and data-length validation, sample reduction) → audio metadata.
  // Same graded-loop shape as m5: the oracle recomputes sample rate,
  // count, integer-µs duration and mean |amplitude| from the synthesis
  // rule without touching bytes, so encoder and decoder are both on the
  // graded path. duration_us uses integer floor division in BOTH engines
  // (16 kHz makes 1e6/rate non-integral). Blobs stay inside the scan
  // stage; only metadata rows reach the sort.
  private val m7 = graded(
    "m7_audio_decode",
    """SELECT doc_id,
      |  (8000 * (1 + doc_id % 3))::BIGINT AS sample_rate,
      |  (32 + doc_id % 32)::BIGINT AS n_samples,
      |  ((32 + doc_id % 32) * 1000000) // (8000 * (1 + doc_id % 3))
      |    AS duration_us,
      |  round(list_sum(list_transform(
      |      generate_series(0, (32 + doc_id % 32)::INT - 1),
      |      i -> abs((CASE WHEN length(text) = 0 THEN 32
      |                ELSE ascii(substring(text, (i % length(text))::INT + 1, 1))
      |                END - 128) * 64)))::DOUBLE
      |    / (32 + doc_id % 32), 6) AS mean_abs
      |FROM documents
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.documentsDist(spark, dir) // codec work spread across cores (m5)
      .select($"doc_id", $"text")
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) => (id, Wav.encode(id, text)) })
      .mapPartitions(_.map { case (id, blob) =>
        val d = Wav.decode(blob)
        (id, d.sampleRate, d.nSamples,
          d.nSamples * 1000000L / d.sampleRate, d.meanAbs)
      })
      .toDF("doc_id", "sample_rate", "n_samples", "duration_us", "mean_abs")
      .withColumn("mean_abs", round($"mean_abs", 6))
      .orderBy("doc_id")
  }

  // m8 — raster pixel statistics through the REAL codec: encode → decode
  // → min/max/distinct-count/space-fraction per image, the feature-
  // extraction step after m5's metadata decode (what a data-quality
  // filter over images actually computes: dynamic range, flat-image
  // detection). The oracle recomputes every statistic from the synthesis
  // rule (pixel i = text byte i mod len; ASCII corpus ⇒ byte ≡ code
  // point, m5's documented assumption) without touching bytes — encoder,
  // header walk and raster scan are all on the graded path. Blobs are
  // created and consumed inside one mapPartitions; only the 4-number
  // stats row ever leaves the scan stage.
  private val m8 = graded(
    "m8_pixel_stats",
    """WITH px AS (
      |  SELECT doc_id,
      |    unnest(list_transform(
      |      generate_series(0, (8 + doc_id % 8) * (8 + doc_id % 5) - 1),
      |      i -> CASE WHEN length(text) = 0 THEN 32
      |           ELSE ascii(substring(text, (i % length(text))::INT + 1, 1))
      |           END)) AS v
      |  FROM documents)
      |SELECT doc_id, min(v)::BIGINT AS p_min, max(v)::BIGINT AS p_max,
      |  count(DISTINCT v)::BIGINT AS n_values,
      |  round(count(CASE WHEN v = 32 THEN 1 END)::DOUBLE / count(*), 6)
      |    AS space_frac
      |FROM px GROUP BY doc_id
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.documentsDist(spark, dir)
      .select($"doc_id", $"text")
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val s = Pgm.decodeStats(Pgm.encode(id, text))
        (id, s.pMin, s.pMax, s.nValues,
          BigDecimal(s.spaceFrac)
            .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
      })
      .toDF("doc_id", "p_min", "p_max", "n_values", "space_frac")
      .orderBy("doc_id")
  }

  // m9 — PERCEPTUAL HASH (dHash) through the real codec: the standard
  // near-duplicate image fingerprint (row-wise brightness gradient over a
  // downsampled grid — survives re-encoding and small edits that break
  // m4's exact digest). The raster is decoded by the REAL header walk,
  // nearest-neighbor-sampled onto a 9×8 grid, and each of the 64 bits is
  // p(r,c) > p(r,c+1); bits pack into two BIGINT halves (rows 0–3 → hi,
  // 4–7 → lo) so no value touches the sign bit. The oracle recomputes
  // every sampled pixel from the synthesis rule (pixel i = text byte
  // i mod len, m5's documented ASCII assumption) without touching bytes —
  // encoder, header walk, grid sampling and bit packing are all on the
  // graded path. Blobs are created and consumed inside one mapPartitions;
  // only (doc_id, hi, lo) leaves the scan stage. At 100 TB the Hamming
  // bucketing of these hashes is g15/g16's SimHash block join, unchanged.
  /** Oracle CTE yielding `sig(doc_id, hi, lo)` — the dHash recomputed
    * from the synthesis rule without touching bytes. Shared by m9
    * (presents the signatures) and m10 (joins them); one definition, the
    * two oracles cannot desynchronize.
    */
  private val dhashSigCte =
    """WITH d AS (
      |  SELECT doc_id, text, (8 + doc_id % 8)::BIGINT AS w,
      |    (8 + doc_id % 5)::BIGINT AS h, length(text)::BIGINT AS len
      |  FROM documents),
      |px AS (
      |  SELECT doc_id, rs.r, cs.c,
      |    CASE WHEN len = 0 THEN 32
      |      ELSE ascii(substring(text,
      |        ((((rs.r * h) // 8) * w + (cs.c * w) // 9) % len)::INT + 1, 1))
      |      END AS p
      |  FROM d, generate_series(0, 7) rs(r), generate_series(0, 8) cs(c)),
      |bits AS (
      |  SELECT a.doc_id, a.r, a.c,
      |    (CASE WHEN a.p > b.p THEN 1 ELSE 0 END)::BIGINT AS bit
      |  FROM px a JOIN px b
      |    ON a.doc_id = b.doc_id AND a.r = b.r AND b.c = a.c + 1
      |  WHERE a.c < 8),
      |sig AS (
      |  SELECT doc_id,
      |    sum(CASE WHEN r < 4 THEN bit << (r * 8 + c) ELSE 0 END)::BIGINT
      |      AS hi,
      |    sum(CASE WHEN r >= 4 THEN bit << ((r - 4) * 8 + c) ELSE 0 END)::BIGINT
      |      AS lo
      |  FROM bits GROUP BY doc_id)""".stripMargin

  /** Spark side of the dHash signature set (doc_id, dhash_hi, dhash_lo),
    * unordered — the real-codec path shared by m9 and m10.
    */
  private def dhashSigDf(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    Tables.documentsDist(spark, dir)
      .select($"doc_id", $"text")
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) =>
        val (hi, lo) = Pgm.dHash(Pgm.encode(id, text))
        (id, hi, lo)
      })
      .toDF("doc_id", "dhash_hi", "dhash_lo")
  }

  /** The dHash candidate join of m10, m11 and m13: the 64 bits split
    * into 8 blocks of 8, a hash join on (block index, block value) with
    * doc_a < doc_b, each side's halves as hi_a/lo_a and hi_b/lo_b, and the
    * exact Hamming distance of every candidate pair as `hamming`. The
    * pigeonhole bound (why the block join misses no pair at distance ≤ 7)
    * is m10's comment.
    */
  private def dhashCandidates(sig: DataFrame): DataFrame = {
    import sig.sparkSession.implicits._
    val blocks = sig
      .select($"doc_id", $"dhash_hi", $"dhash_lo",
        explode(sequence(lit(0), lit(7))).as("blk"))
      .withColumn("bv",
        when($"blk" < 4, expr("shiftright(dhash_hi, cast(blk * 8 as int))"))
          .otherwise(expr("shiftright(dhash_lo, cast((blk - 4) * 8 as int))"))
          .bitwiseAND(255))
    val a = blocks.select($"blk", $"bv", $"doc_id".as("doc_a"),
      $"dhash_hi".as("hi_a"), $"dhash_lo".as("lo_a"))
    val b = blocks.select($"blk", $"bv", $"doc_id".as("doc_b"),
      $"dhash_hi".as("hi_b"), $"dhash_lo".as("lo_b"))
    a.join(b, Seq("blk", "bv"))
      .where($"doc_a" < $"doc_b")
      .withColumn("hamming",
        (bit_count($"hi_a".bitwiseXOR($"hi_b"))
          + bit_count($"lo_a".bitwiseXOR($"lo_b"))).cast("bigint"))
  }

  private val m9 = graded(
    "m9_media_phash",
    s"""$dhashSigCte
      |SELECT doc_id, hi AS dhash_hi, lo AS dhash_lo
      |FROM sig
      |ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    dhashSigDf(spark, dir).orderBy("doc_id")
  }

  // m10 — PERCEPTUAL NEAR-DUP JOIN over m9's dHashes (the image twin of
  // g16's SimHash dedup: find visually-near-identical media that m4's
  // exact digest misses): pairs within Hamming distance 6 of the 64-bit
  // dHash. The candidate join is the block-permutation equi-join — the
  // 64 bits split into 8 blocks of 8; any pair at distance ≤ 7 shares at
  // least one equal block (pigeonhole), so candidates come from a hash
  // join on (block index, block value), never an n² bit scan — then the
  // exact popcount verifies. 8-bit blocks (vs g16's 16-bit) are the
  // price of the deeper threshold: measured at sf0.1 the buckets yield
  // 1.18M candidates from 12.5M possible pairs — the verify is one
  // xor+popcount per candidate, and at 100 TB the block join is the
  // same shuffle-on-key shape as every LSH family here.
  private val m10 = graded(
    "m10_phash_neardup",
    s"""$dhashSigCte,
      |blocks AS (
      |  SELECT doc_id, hi, lo, gs.i AS blk,
      |    CASE WHEN gs.i < 4 THEN (hi >> (gs.i * 8)) & 255
      |      ELSE (lo >> ((gs.i - 4) * 8)) & 255 END AS bv
      |  FROM sig, generate_series(0, 7) gs(i)),
      |prs AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS hamming
      |  FROM blocks a JOIN blocks b
      |    ON a.blk = b.blk AND a.bv = b.bv AND a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 6)
      |SELECT doc_a, doc_b, hamming FROM prs
      |ORDER BY doc_a, doc_b""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    dhashCandidates(dhashSigDf(spark, dir))
      .where($"hamming" <= 6)
      .select($"doc_a", $"doc_b", $"hamming")
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  // m11 — HAMMING-DISTANCE HISTOGRAM over m10's candidate population
  // (the threshold-tuning diagnostic: m10's ≤6 cut is a policy choice;
  // this shows what each alternative threshold would admit, measured on
  // the SAME block-join candidates — the population an LSH deployment
  // can actually see). Capped at hamming ≤ 16: beyond that the block
  // join's pigeonhole recall decays and the counts stop meaning
  // anything. Exact integer counts over DISTINCT pairs. Same shuffle
  // shape as m10 minus the verify filter.
  private val m11 = graded(
    "m11_phash_hamming_hist",
    s"""$dhashSigCte,
      |blocks AS (
      |  SELECT doc_id, hi, lo, gs.i AS blk,
      |    CASE WHEN gs.i < 4 THEN (hi >> (gs.i * 8)) & 255
      |      ELSE (lo >> ((gs.i - 4) * 8)) & 255 END AS bv
      |  FROM sig, generate_series(0, 7) gs(i)),
      |prs AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |    bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) AS hamming
      |  FROM blocks a JOIN blocks b
      |    ON a.blk = b.blk AND a.bv = b.bv AND a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 16)
      |SELECT hamming, count(*)::BIGINT AS n_pairs,
      |  (hamming <= 6) AS admitted_by_m10
      |FROM prs GROUP BY hamming
      |ORDER BY hamming""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    dhashCandidates(dhashSigDf(spark, dir))
      .where($"hamming" <= 16)
      .select($"doc_a", $"doc_b", $"hamming")
      .distinct()
      .groupBy($"hamming")
      .agg(count(lit(1)).cast("bigint").as("n_pairs"))
      .select($"hamming", $"n_pairs", ($"hamming" <= 6).as("admitted_by_m10"))
      .orderBy($"hamming")
  }

  // m12 — AUDIO SILENCE TRIM through the REAL codec (the preprocessing
  // step an audio-training pipeline runs before feature extraction:
  // drop leading/trailing low-energy samples, keep the voiced core).
  // The blob is encoded and RIFF-validated by Wav.decode, then the PCM
  // payload is walked once for the first/last sample with |v| ≥ 2048
  // (the energy gate; under the synthesis rule lowercase letters land
  // below it and spaces/uppercase above — every doc has both, so trims
  // are non-degenerate). The oracle recomputes lead/trail from the
  // synthesis rule alone — encoder, header walk, and the trim scan are
  // all on the graded path. kept = n − lead − trail is an identity that
  // also covers the all-silent edge (lead = n, trail = 0). Blobs live
  // and die inside one mapPartitions; only 5 integers leave the scan.
  private val m12 = graded(
    "m12_audio_silence",
    """WITH s AS (
      |  SELECT doc_id, (32 + doc_id % 32)::BIGINT AS n,
      |    list_filter(generate_series(0, (32 + doc_id % 32)::INT - 1),
      |      i -> abs((CASE WHEN length(text) = 0 THEN 32
      |            ELSE ascii(substring(text, (i % length(text))::INT + 1, 1))
      |            END - 128) * 64) >= 2048) AS loud
      |  FROM documents),
      |t AS (
      |  SELECT doc_id, n,
      |    (CASE WHEN len(loud) = 0 THEN n ELSE loud[1] END)::BIGINT
      |      AS lead_silence,
      |    (CASE WHEN len(loud) = 0 THEN 0 ELSE n - 1 - loud[-1] END)::BIGINT
      |      AS trail_silence
      |  FROM s)
      |SELECT doc_id, n AS n_samples, lead_silence, trail_silence,
      |  (n - lead_silence - trail_silence)::BIGINT AS n_kept,
      |  ((n - lead_silence - trail_silence) * 1000000 // n)::BIGINT
      |    AS kept_ppm
      |FROM t ORDER BY doc_id""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.documentsDist(spark, dir)
      .select($"doc_id", $"text")
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) => (id, Wav.encode(id, text)) })
      .mapPartitions(_.map { case (id, blob) =>
        val d = Wav.decode(blob) // full RIFF validation before the walk
        val bb = java.nio.ByteBuffer.wrap(blob)
          .order(java.nio.ByteOrder.LITTLE_ENDIAN)
        bb.position(44)
        val n = d.nSamples.toInt
        var first = -1
        var last = -1
        var i = 0
        while (i < n) {
          if (math.abs(bb.getShort().toInt) >= 2048) {
            if (first < 0) first = i
            last = i
          }
          i += 1
        }
        val lead = if (first < 0) n else first
        val trail = if (first < 0) 0 else n - 1 - last
        (id, n.toLong, lead.toLong, trail.toLong)
      })
      .toDF("doc_id", "n_samples", "lead_silence", "trail_silence")
      .select($"doc_id", $"n_samples", $"lead_silence", $"trail_silence",
        ($"n_samples" - $"lead_silence" - $"trail_silence").cast("bigint")
          .as("n_kept"),
        expr("((n_samples - lead_silence - trail_silence) * 1000000) div n_samples")
          .cast("bigint").as("kept_ppm"))
      .orderBy("doc_id")
  }

  // m13 — CROSS-MODAL DEDUP AGREEMENT: the question a multimodal corpus
  // audit actually asks — do the TEXT detector and the PERCEPTUAL
  // detector (m10's dHash Hamming ≤ 6) flag the SAME pairs? The text
  // detector is the BAG-OF-WORDS fingerprint (md5 of the sorted distinct
  // token list — the normalization-then-digest family of g8/g54 applied
  // at the vocabulary level): raw md5(text) is vacuous on the graded
  // corpora (zero exact twins below sf0.1) while vocabulary-identical
  // rewrites are plentiful at every sf, which is exactly the "same
  // content, different rendering" population a multimodal audit cares
  // about. On this corpus the raster derives from the text but the
  // dimensions derive from doc_id (w = 8 + id%8, h = 8 + id%5), so the
  // detectors genuinely disagree: `text_only` = same vocabulary
  // re-rendered (the crawler re-encode shape), `phash_only` = visually
  // identical media with different captions (the image-spam shape),
  // `both` = true multimodal twins — structurally EMPTY on the synthetic
  // corpora (a vocabulary twin always re-renders at different
  // doc_id-derived dimensions; measured text_only min-Hamming is 13 ≫ 6
  // at every sf), and the empty cell is itself graded: a detector bug
  // that let it fill would hash-mismatch against the oracle. Hamming is
  // computed EXACTLY for every flagged pair from the m9 signatures, so
  // cells carry min/max distance. Membership fact that keeps this exact:
  // the 8-bit block pigeonhole guarantees hamming ≤ 6 ⇒ block-join
  // candidate, so "phash pair" ⟺ hamming ≤ 6 with no recall caveat.
  // Shape at scale: two LSH-family joins (fp equi-join, block equi-join)
  // + one union-of-pairs groupBy — all keyed shuffles; pairs-per-cell is
  // output-sized; the fingerprint is a 16-byte digest, text never
  // shuffles.
  private val m13 = graded(
    "m13_crossmodal_dedup",
    s"""$dhashSigCte,
      |fps AS (
      |  SELECT doc_id,
      |    md5(list_aggregate(list_sort(list_distinct(
      |      string_split(text, ' '))), 'string_agg', ' ')) AS fp
      |  FROM documents),
      |tp AS (
      |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id),
      |blocks AS (
      |  SELECT doc_id, hi, lo, gs.i AS blk,
      |    CASE WHEN gs.i < 4 THEN (hi >> (gs.i * 8)) & 255
      |      ELSE (lo >> ((gs.i - 4) * 8)) & 255 END AS bv
      |  FROM sig, generate_series(0, 7) gs(i)),
      |pp AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      |  FROM blocks a JOIN blocks b
      |    ON a.blk = b.blk AND a.bv = b.bv AND a.doc_id < b.doc_id
      |  WHERE bit_count(xor(a.hi, b.hi)) + bit_count(xor(a.lo, b.lo)) <= 6),
      |u AS (
      |  SELECT doc_a, doc_b, max(is_text) AS is_text FROM (
      |    SELECT doc_a, doc_b, TRUE AS is_text FROM tp
      |    UNION ALL
      |    SELECT doc_a, doc_b, FALSE AS is_text FROM pp) z
      |  GROUP BY doc_a, doc_b),
      |h AS (
      |  SELECT u.is_text,
      |    bit_count(xor(sa.hi, sb.hi)) + bit_count(xor(sa.lo, sb.lo)) AS ham
      |  FROM u
      |  JOIN sig sa ON sa.doc_id = u.doc_a
      |  JOIN sig sb ON sb.doc_id = u.doc_b)
      |SELECT CASE WHEN is_text AND ham <= 6 THEN 'both'
      |            WHEN is_text THEN 'text_only'
      |            ELSE 'phash_only' END AS verdict,
      |  count(*)::BIGINT AS n_pairs,
      |  min(ham)::BIGINT AS min_hamming,
      |  max(ham)::BIGINT AS max_hamming
      |FROM h GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    val sig = dhashSigDf(spark, dir)
    val fps = Tables.documentsDist(spark, dir)
      .select($"doc_id", md5(array_join(array_sort(array_distinct(
        Tokens.words($"text"))), " ")).as("fp"))
    val tp = fps.as("a")
      .join(fps.as("b"),
        $"a.fp" === $"b.fp" && $"a.doc_id" < $"b.doc_id")
      .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
        lit(true).as("is_text"))
    val pp = dhashCandidates(sig)
      .where($"hamming" <= 6)
      .select($"doc_a", $"doc_b", lit(false).as("is_text"))
      .distinct()
    val u = tp.unionByName(pp)
      .groupBy($"doc_a", $"doc_b").agg(max($"is_text").as("is_text"))
    u.join(sig.select($"doc_id".as("doc_a"), $"dhash_hi".as("hi_a"),
        $"dhash_lo".as("lo_a")), "doc_a")
      .join(sig.select($"doc_id".as("doc_b"), $"dhash_hi".as("hi_b"),
        $"dhash_lo".as("lo_b")), "doc_b")
      .withColumn("ham",
        (bit_count($"hi_a".bitwiseXOR($"hi_b"))
          + bit_count($"lo_a".bitwiseXOR($"lo_b"))).cast("bigint"))
      .select(when($"is_text" && $"ham" <= 6, "both")
        .when($"is_text", "text_only")
        .otherwise("phash_only").as("verdict"), $"ham")
      .groupBy($"verdict")
      .agg(count(lit(1)).cast("bigint").as("n_pairs"),
        min($"ham").cast("bigint").as("min_hamming"),
        max($"ham").cast("bigint").as("max_hamming"))
      .orderBy($"verdict")
  }

  // m14 — IMAGE RESIZE through the real codec, graded per PIXEL: the
  // box-filter (area-mean) downsample every multimodal pipeline runs
  // before feature extraction, which m9's nearest-neighbor dHash grid is
  // NOT (sampling drops pixels; the box filter averages every covered
  // pixel — the anti-aliasing difference). Each doc's PGM is decoded by
  // the real header walk and reduced to a 4×4 thumbnail; every output
  // cell is an integer-floor block mean, so the oracle recomputes all 16
  // cells bit-identically from the synthesis rule (dimensions from
  // doc_id, pixels from text bytes tiled row-major) — encoder, header
  // walk, block geometry and the mean arithmetic are all on the graded
  // path. Output is the exploded (doc_id, r, c, v) cell table. Blobs are
  // created and consumed inside one mapPartitions chain; 16 ints per doc
  // leave the scan stage.
  private val m14 = graded(
    "m14_image_resize",
    """WITH d AS (
      |  SELECT doc_id, text, (8 + doc_id % 8)::BIGINT AS w,
      |    (8 + doc_id % 5)::BIGINT AS h, length(text)::BIGINT AS len
      |  FROM documents),
      |cell AS (
      |  SELECT d.*, rs.r, cs.c
      |  FROM d, generate_series(0, 3) rs(r), generate_series(0, 3) cs(c)),
      |rws AS (
      |  SELECT doc_id, text, w, len, r, c,
      |    unnest(generate_series(r * h // 4, (r + 1) * h // 4 - 1)) AS ri
      |  FROM cell),
      |cls AS (
      |  SELECT doc_id, text, w, len, r, c, ri,
      |    unnest(generate_series(c * w // 4, (c + 1) * w // 4 - 1)) AS ci
      |  FROM rws),
      |px AS (
      |  SELECT doc_id, r, c,
      |    CASE WHEN len = 0 THEN 32
      |      ELSE ascii(substring(text, ((ri * w + ci) % len)::INT + 1, 1))
      |      END AS v
      |  FROM cls)
      |SELECT doc_id, r::BIGINT AS r, c::BIGINT AS c,
      |  (sum(v) // count(*))::BIGINT AS v
      |FROM px GROUP BY doc_id, r, c
      |ORDER BY doc_id, r, c""".stripMargin) { (spark, dir) =>
    import spark.implicits._
    Tables.documentsDist(spark, dir)
      .select($"doc_id", $"text")
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, text) => (id, Pgm.encode(id, text)) })
      .mapPartitions(_.map { case (id, blob) =>
        (id, Pgm.boxResize(blob, 4, 4).map(_.toLong))
      })
      .toDF("doc_id", "px")
      .select($"doc_id", posexplode($"px").as(Seq("idx", "v")))
      .select($"doc_id", expr("cast(idx div 4 as bigint)").as("r"),
        expr("cast(idx % 4 as bigint)").as("c"), $"v".cast("bigint").as("v"))
      .orderBy("doc_id", "r", "c")
  }

  val defs: Seq[QueryDef] = Seq(m1, m2, m3, m4, m5, m6, m7, m8, m9, m10,
    m11, m12, m13, m14)
}
