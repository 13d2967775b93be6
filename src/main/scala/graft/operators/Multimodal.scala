package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, DataFrame}

/** Multimodal-column plumbing for training-data pipelines: media
  * payloads ride through the engine as opaque `binary` columns with a
  * typed metadata struct, and every metadata operation is a pure
  * `Column` expression over the bytes — magic-byte MIME sniffing,
  * container-header field extraction (PNG IHDR dimensions), byte
  * accounting — so scans stay codegen'd and partition-parallel with no
  * decode library in the hot path.
  *
  * The actual pixel/sample decode is the one step that needs a native
  * library (not present in this environment): [[decodePixels]] is the
  * clearly-marked STUB — a deterministic fake so the downstream
  * plumbing (typed mapPartitions batch shape, fixed-width feature
  * vectors, schema) is real and testable end-to-end.
  *
  * New-capability work beyond the reference surface (the reference has
  * no binary columns at all); at 100 TB the design point is that
  * metadata predicates (mime, dims, size) prune BEFORE any decode, and
  * decode runs once per surviving row inside a partition iterator.
  */
object Multimodal {

  /** Magic-byte MIME sniffing over the first bytes of a binary column
    * — pure codegen'd expressions, no UDF. Recognizes the common
    * containers by their published signatures. */
  def sniffMime(bin: Column): Column =
    when(substring(bin, 1, 8) === lit(pngSignature), "image/png")
      .when(substring(bin, 1, 3) ===
        lit(Array(0xFF, 0xD8, 0xFF).map(_.toByte)), "image/jpeg")
      .when(substring(bin, 1, 4) === lit("GIF8".getBytes("UTF-8")), "image/gif")
      .when(substring(bin, 1, 4) === lit("RIFF".getBytes("UTF-8")) &&
        substring(bin, 9, 4) === lit("WAVE".getBytes("UTF-8")), "audio/wav")
      .when(substring(bin, 1, 3) === lit("ID3".getBytes("UTF-8")), "audio/mpeg")
      .otherwise("application/octet-stream")

  /** The 8-byte PNG signature. */
  val pngSignature: Array[Byte] =
    Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A).map(_.toByte)

  /** Big-endian unsigned int read from 4 bytes at `pos` (1-based). */
  def beInt(bin: Column, pos: Int): Column =
    conv(hex(substring(bin, pos, 4)), 16, 10).cast(LongType)

  /** PNG IHDR width/height (bytes 17-20 / 21-24: after the 8-byte
    * signature and the 8-byte chunk length+type). NULL for non-PNG. */
  def pngWidth(bin: Column): Column =
    when(sniffMime(bin) === "image/png", beInt(bin, 17))
      .otherwise(lit(null).cast(LongType))
  def pngHeight(bin: Column): Column =
    when(sniffMime(bin) === "image/png", beInt(bin, 21))
      .otherwise(lit(null).cast(LongType))

  /** Little-endian unsigned int over `len` bytes at `pos` (1-based) —
    * RIFF-family containers store all sizes little-endian. */
  def leInt(bin: Column, pos: Int, len: Int): Column =
    (0 until len).map(i =>
      conv(hex(substring(bin, pos + i, 1)), 16, 10).cast(LongType) *
        lit(1L << (8 * i))).reduce(_ + _)

  private def isWav(bin: Column): Column =
    sniffMime(bin) === "audio/wav" &&
      substring(bin, 13, 4) === lit("fmt ".getBytes("UTF-8"))

  /** Canonical-WAV (RIFF → fmt → data chunk order) field extraction as
    * ONE struct: is_wav, channel count, sample rate, bits/sample,
    * data-chunk bytes, derived duration (milliseconds, floored:
    * dataBytes · 1000 / (rate · channels · bytesPerSample)) — all pure
    * byte arithmetic, field-NULL for non-WAV. Non-canonical chunk
    * orders would need a real parser; the metadata-prunes-before-
    * decode posture is identical to the PNG path.
    *
    * Single-pass by construction: the per-byte `conv(hex(substring))`
    * little-endian chains live under `when` branches, and Spark's
    * subexpression elimination skips conditionally-evaluated subtrees —
    * so five separate extractor columns each re-derived isWav and the
    * raw fields. Here every raw chain appears at most twice (its own
    * field + the duration arithmetic) and the isWav test once per
    * always-evaluated branch condition, where CSE does apply. Hot
    * paths stage `wavMeta(bin).as("w")` as an attribute and project
    * fields from it. */
  def wavMeta(bin: Column): Column = {
    val wav     = isWav(bin)
    val hasData = substring(bin, 37, 4) === lit("data".getBytes("UTF-8"))
    val ch      = leInt(bin, 23, 2)
    val sr      = leInt(bin, 25, 4)
    val bits    = leInt(bin, 35, 2)
    val db      = leInt(bin, 41, 4)
    val denom   = sr * ch * (bits / 8)
    struct(
      wav.as("is_wav"),
      when(wav, ch).otherwise(lit(null).cast(LongType)).as("channels"),
      when(wav, sr).otherwise(lit(null).cast(LongType)).as("sample_rate"),
      when(wav, bits).otherwise(lit(null).cast(LongType))
        .as("bits_per_sample"),
      when(wav && hasData, db).otherwise(lit(null).cast(LongType))
        .as("data_bytes"),
      when(wav && hasData && denom > 0,
        floor(db.cast(DoubleType) * 1000d / denom.cast(DoubleType))
          .cast(LongType))
        .otherwise(lit(null).cast(LongType)).as("duration_ms"))
  }

  /** Typed metadata struct for a media column: one expression, usable
    * as a pruning predicate source before any decode. */
  def mediaMeta(bin: Column): Column = struct(
    sniffMime(bin).as("mime"),
    octet_length(bin).cast(LongType).as("n_bytes"),
    pngWidth(bin).as("width"),
    pngHeight(bin).as("height"))

  /** STUB — the real decoder (libjpeg/libpng/ffmpeg) is not available
    * in this environment. Deterministic fake: "pixels" are the payload
    * bytes themselves, so every downstream shape (fixed-width feature
    * vector, per-partition batching) is exercised with reproducible
    * values. Swap this single function for a real decode in
    * production. */
  private def decodePixels(bytes: Array[Byte]): Array[Int] =
    bytes.map(_ & 0xFF)

  /** Per-doc media features via typed mapPartitions — the decode
    * batch shape: one iterator per partition, decode invoked per row,
    * output rows fixed-width. Emits (id, n_bytes, mean_byte,
    * histogram[16]) where the histogram buckets the decoded values —
    * with the stub decoder these are exact byte statistics. */
  def extractFeatures(
      df: DataFrame,
      idCol: String,
      binCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast(LongType), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) =>
          val px = decodePixels(if (bytes == null) Array.empty else bytes)
          val hist = new Array[Long](16)
          var s = 0L
          px.foreach { v => hist(v / 16) += 1; s += v }
          val mean = if (px.isEmpty) 0.0 else s.toDouble / px.length
          (id, px.length.toLong, mean, hist.toSeq)
        }
      }
      .toDF(idCol, "n_bytes", "mean_byte", "histogram")
  }

  /** Video-style frame sampling: the payload is treated as consecutive
    * `frameSize`-byte frames and every `every`-th frame is emitted
    * with its features (stub decode: the frame's byte sum — swap
    * [[decodePixels]] for a real codec and these become pixel
    * features). The PLUMBING is the real part: typed mapPartitions,
    * one input row fanning out to a bounded set of frame rows,
    * trailing partial frame dropped — shuffle-free, embarrassingly
    * parallel at any corpus size. */
  def frameSample(
      df: DataFrame,
      idCol: String,
      binCol: String,
      frameSize: Int,
      every: Int): DataFrame = {
    require(frameSize > 0 && every > 0, "frameSize and every must be > 0")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast(LongType), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.flatMap { case (id, bytes0) =>
          val bytes = if (bytes0 == null) Array.emptyByteArray else bytes0
          val nFrames = bytes.length / frameSize
          (0 until nFrames).iterator.filter(_ % every == 0).map { i =>
            var s = 0L
            var j = i * frameSize
            val end = j + frameSize
            while (j < end) { s += bytes(j) & 0xFF; j += 1 }
            (id, i.toLong, frameSize.toLong, s)
          }
        }
      }
      .toDF(idCol, "frame_idx", "n_bytes", "byte_sum")
  }

  /** Nearest-neighbor resize to a fixed `k`-sample vector: sample j
    * of k reads decoded value floor(j·n/k) — the standard
    * integer-exact nearest-neighbor index map, so the result is
    * engine-replicable (with the stub decoder, samples are payload
    * bytes). Returns (id, n_bytes, sample_sum, first, last); empty
    * payloads yield an all-zero vector. Row-local, shuffle-free. */
  def resizeNearest(
      df: DataFrame,
      idCol: String,
      binCol: String,
      k: Int): DataFrame = {
    require(k > 0, "k must be > 0")
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast(LongType), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes0) =>
          val bytes = if (bytes0 == null) Array.emptyByteArray else bytes0
          val n = bytes.length
          val samples = Array.tabulate(k)(j =>
            if (n == 0) 0L else (bytes((j.toLong * n / k).toInt) & 0xFF).toLong)
          (id, n.toLong, samples.sum, samples.head, samples.last)
        }
      }
      .toDF(idCol, "n_bytes", "sample_sum", "first_sample", "last_sample")
  }

  /** 64-bit average-hash (aHash) of a media payload: the decoded
    * pixel stream is cut into 64 equal segments, each segment's mean
    * compares against the global mean, and the 64 verdicts pack into
    * two 32-bit limbs (ph_hi = bits 32–63, ph_lo = bits 0–31) so
    * downstream bit arithmetic stays in non-negative BIGINT range in
    * any engine. Segment MEANS (not point samples) make the hash
    * robust to small byte insertions/deletions — the property that
    * makes aHash a near-dup signal rather than a checksum. Integer
    * segment boundaries ⌊i·n/64⌋ and double divisions of exact
    * integers keep the bits engine-replicable.
    *
    * Row-local, shuffle-free; with the stub decoder "pixels" are the
    * payload bytes. Returns (id, ph_hi, ph_lo). */
  def perceptualHash64(
      df: DataFrame,
      idCol: String,
      binCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast(LongType), col(binCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes0) =>
          val px = decodePixels(
            if (bytes0 == null) Array.emptyByteArray else bytes0)
          val n = px.length
          var hi = 0L
          var lo = 0L
          if (n > 0) {
            var total = 0L
            px.foreach(total += _)
            val gmean = total.toDouble / n
            var i = 0
            while (i < 64) {
              val from = (i.toLong * n / 64).toInt
              val until = ((i + 1).toLong * n / 64).toInt
              var s = 0L
              var j = from
              while (j < until) { s += px(j); j += 1 }
              val segMean = s.toDouble / math.max(until - from, 1)
              if (segMean > gmean) {
                if (i >= 32) hi |= 1L << (i - 32) else lo |= 1L << i
              }
              i += 1
            }
          }
          (id, hi, lo)
        }
      }
      .toDF(idCol, "ph_hi", "ph_lo")
  }

  /** Perceptual near-dup pairs by quadrant-blocked Hamming distance
    * over [[perceptualHash64]] — the media-bytes twin of
    * [[Dedup.simhashNearDupPairs]]: each hash indexes its four 16-bit
    * quadrants, only bucket-mates compare (pigeonhole-complete for
    * maxHamming ≤ 3; above that, pairs differing in all four
    * quadrants can be missed — the standard LSH-style recall trade).
    * One shuffle on the quadrant key; no corpus self-join.
    *
    * Returns (a, b, hamming) with a < b, hamming ≤ `maxHamming`. */
  def phashNearDupPairs(
      df: DataFrame,
      idCol: String,
      binCol: String,
      maxHamming: Int = 3): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 64)
    val h = perceptualHash64(df, idCol, binCol)
    val blocked = h.select(col(idCol), col("ph_hi"), col("ph_lo"),
      posexplode(array(
        col("ph_lo").bitwiseAND(0xFFFFL),
        shiftrightunsigned(col("ph_lo"), 16).bitwiseAND(0xFFFFL),
        col("ph_hi").bitwiseAND(0xFFFFL),
        shiftrightunsigned(col("ph_hi"), 16).bitwiseAND(0xFFFFL)))
        .as(Seq("quadrant", "qval")))
    val l = blocked.select(col(idCol).as("a"), col("ph_hi").as("hi_a"),
      col("ph_lo").as("lo_a"), col("quadrant"), col("qval"))
    val r = blocked.select(col(idCol).as("b"), col("ph_hi").as("hi_b"),
      col("ph_lo").as("lo_b"), col("quadrant"), col("qval"))
    l.join(r, Seq("quadrant", "qval"))
      .filter(col("a") < col("b"))
      .select(col("a"), col("b"),
        (bit_count(col("hi_a").bitwiseXOR(col("hi_b"))) +
          bit_count(col("lo_a").bitwiseXOR(col("lo_b"))))
          .cast(IntegerType).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }
}
