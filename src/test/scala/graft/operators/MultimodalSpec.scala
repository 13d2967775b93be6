package graft.operators

import java.nio.ByteBuffer

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpecBase

/** Multimodal metadata expressions against hand-built binaries with
  * known headers, and the decode-plumbing feature statistics against
  * direct Scala computation. */
class MultimodalSpec extends SparkSpecBase {

  private def png(w: Int, h: Int, payload: Array[Byte]): Array[Byte] = {
    val bb = ByteBuffer.allocate(24 + payload.length)
    bb.put(Multimodal.pngSignature)
    bb.putInt(13).put("IHDR".getBytes("UTF-8"))
    bb.putInt(w).putInt(h)
    bb.put(payload)
    bb.array()
  }

  private def df(rows: (Long, Array[Byte])*) =
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.map { case (i, b) => Row(i, b) }, 2),
      StructType(Seq(
        StructField("id", LongType), StructField("bin", BinaryType))))

  test("sniffMime recognizes the published magic bytes") {
    val cases = Seq(
      1L -> png(640, 480, Array[Byte](1, 2)),
      2L -> (Array(0xFF, 0xD8, 0xFF, 0xE1).map(_.toByte) ++ Array[Byte](0)),
      3L -> "GIF89a trailing".getBytes("UTF-8"),
      4L -> ("RIFF".getBytes("UTF-8") ++ Array[Byte](1, 2, 3, 4) ++
        "WAVEdata".getBytes("UTF-8")),
      5L -> "ID3v2".getBytes("UTF-8"),
      6L -> "plain text".getBytes("UTF-8"))
    val got = df(cases: _*)
      .select(col("id"), Multimodal.sniffMime(col("bin")).as("m"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got == Map(
      1L -> "image/png", 2L -> "image/jpeg", 3L -> "image/gif",
      4L -> "audio/wav", 5L -> "audio/mpeg",
      6L -> "application/octet-stream"))
  }

  test("pngWidth/pngHeight parse IHDR big-endian, NULL for non-PNG") {
    val d = df(
      1L -> png(70000, 3, Array.empty), // width beyond 16 bits
      2L -> "not png".getBytes("UTF-8"))
    val got = d.select(col("id"),
      Multimodal.pngWidth(col("bin")).as("w"),
      Multimodal.pngHeight(col("bin")).as("h"))
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2))))
      .toSet
    assert(got == Set(
      (1L, Some(70000L), Some(3L)), (2L, None, None)))
  }

  test("extractFeatures matches direct byte statistics") {
    val bytes = Array[Byte](0, 15, 16, -1, 100) // unsigned: 0,15,16,255,100
    val got = Multimodal.extractFeatures(df(1L -> bytes), "id", "bin")
      .collect()(0)
    assert(got.getLong(1) == 5L)
    assert(math.abs(got.getDouble(2) - (0 + 15 + 16 + 255 + 100) / 5.0) < 1e-12)
    val hist = got.getSeq[Long](3)
    assert(hist(0) == 2L && hist(1) == 1L && hist(15) == 1L && hist(6) == 1L)
    assert(hist.sum == 5L)
  }

  test("mediaMeta prunes before decode: predicate on the struct") {
    val d = df(
      1L -> png(10, 10, Array[Byte](1)),
      2L -> "ID3x".getBytes("UTF-8"))
    val onlyImages = d
      .withColumn("m", Multimodal.mediaMeta(col("bin")))
      .filter(col("m.mime").startsWith("image/"))
    assert(onlyImages.count() == 1L)
  }
  test("WAV fmt/data parsing recovers a hand-built canonical header") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    def le(v: Long, n: Int): Array[Byte] =
      (0 until n).map(i => ((v >> (8 * i)) & 0xFF).toByte).toArray
    val payload = Array.fill[Byte](2000)(7)
    val wav = "RIFF".getBytes ++ le(36L + 2000, 4) ++ "WAVE".getBytes ++
      "fmt ".getBytes ++ le(16, 4) ++ le(1, 2) ++ le(2, 2) ++
      le(44100, 4) ++ le(44100L * 2 * 2, 4) ++ le(4, 2) ++ le(16, 2) ++
      "data".getBytes ++ le(2000, 4) ++ payload
    val df = Seq((1L, wav), (2L, "notawav".getBytes)).toDF("id", "bin")
    val r = df.select(col("id"), Multimodal.wavMeta(col("bin")).as("w"))
      .select(col("id"), col("w.channels"), col("w.sample_rate"),
        col("w.bits_per_sample"), col("w.data_bytes"),
        col("w.duration_ms"))
      .orderBy("id").collect()
    assert(r(0).getLong(1) == 2L && r(0).getLong(2) == 44100L)
    assert(r(0).getLong(3) == 16L && r(0).getLong(4) == 2000L)
    // 2000 bytes / (44100 * 2ch * 2B) = 11.33ms -> floor 11
    assert(r(0).getLong(5) == 11L)
    assert((1 to 5).forall(r(1).isNullAt))
  }

  test("frameSample: every-Nth frames, trailing partial dropped, " +
    "short payload yields none") {
    import spark.implicits._
    val bytes = Array.tabulate(25)(_.toByte) // frames of 8: 0-7, 8-15, 16-23
    val df = Seq((1L, bytes), (2L, Array[Byte](1, 2))).toDF("id", "bin")
    val got = Multimodal.frameSample(df, "id", "bin", frameSize = 8,
        every = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3)))
      .toSet
    // frames 0 and 2 sampled (every=2); frame 1 skipped; byte 24 dropped
    assert(got == Set((1L, 0L, (0 to 7).sum.toLong),
      (1L, 2L, (16 to 23).sum.toLong)))
  }

  test("resizeNearest: exact index map, empty payload -> zero vector") {
    import spark.implicits._
    val bytes = Array.tabulate(10)(i => (i * 10).toByte) // 0,10,...,90
    val df = Seq((1L, bytes), (2L, Array.emptyByteArray)).toDF("id", "bin")
    val got = Multimodal.resizeNearest(df, "id", "bin", k = 4)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    // indices floor(j*10/4) = 0,2,5,7 -> values 0,20,50,70
    assert(got(1L) == (140L, 0L, 70L))
    assert(got(2L) == (0L, 0L, 0L))
  }

  test("perceptualHash64: identical payloads hash equal; a small edit " +
      "moves few bits; hamming pairs recover the near-dup only") {
    import spark.implicits._
    // high/low byte blocks -> a deterministic non-trivial bit pattern
    def payload(seed: Int): Array[Byte] =
      Array.tabulate(512)(i =>
        (if ((i / 64) % 2 == 0) 200 + (i + seed) % 7
         else 10 + (i + seed) % 7).toByte)
    val near = payload(0).clone()
    var i = 0
    while (i < 8) { near(i) = 5.toByte; i += 1 } // dent one segment
    val far = Array.tabulate(512)(i => (i % 251).toByte)
    val df = Seq((1L, payload(0)), (2L, payload(0)), (3L, near),
      (4L, far)).toDF("id", "bin")
    val h = Multimodal.perceptualHash64(df, "id", "bin")
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
      .toMap
    assert(h(1L) == h(2L))
    assert(h.values.forall { case (hi, lo) =>
      hi >= 0 && lo >= 0 && (hi | lo) != 0L })
    val pairs = Multimodal.phashNearDupPairs(df, "id", "bin",
        maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 3L))
    assert(!pairs.exists(p => p._2 == 4L))
  }
}
