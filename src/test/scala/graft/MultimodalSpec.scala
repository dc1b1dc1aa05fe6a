package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.ext.Multimodal

class MultimodalSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  test("synthetic media table has the contract schema and deterministic payloads") {
    val m = Multimodal.syntheticMedia(spark, 30)
    assert(m.schema.fieldNames.toSeq ==
      Multimodal.mediaSchema.fieldNames.toSeq)
    val p1 = m.filter(col("media_id") === 7).select("payload").as[Array[Byte]].head()
    val p2 = Multimodal.syntheticMedia(spark, 30)
      .filter(col("media_id") === 7).select("payload").as[Array[Byte]].head()
    assert(p1.toSeq == p2.toSeq && p1.length == 256)
  }

  test("partition-wise feature extraction: one row per media, fixed dim, " +
      "mean matches raster") {
    val m = Multimodal.syntheticMedia(spark, 50).repartition(4)
    val f = Multimodal.extractFeatures(m, dim = 16)
    assert(f.count() == 50)
    val row = f.filter(col("media_id") === 3)
      .select("n_bytes", "mean_intensity", "features")
      .as[(Int, Double, Array[Float])].head()
    assert(row._1 == 256)
    assert(row._2 > 0.0 && row._2 < 1.0)
    assert(row._3.length == 16)
    // mean must equal the stub raster's mean, independent of partitioning
    val payload = m.filter(col("media_id") === 3).select("payload").as[Array[Byte]].head()
    val raster = Multimodal.decodeImageStub(payload, 16, 16)
    assert(math.abs(row._2 - raster.map(_.toDouble).sum / raster.length) < 1e-9)
  }

  /** In-memory PNG with exact known pixels (no external fixture files). */
  private def pngBytes(pixels: Array[Array[Int]]): Array[Byte] = {
    val h = pixels.length; val w = pixels(0).length
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until h; x <- 0 until w) img.setRGB(x, y, pixels(y)(x))
    val bos = new java.io.ByteArrayOutputStream()
    assert(javax.imageio.ImageIO.write(img, "png", bos))
    bos.toByteArray
  }

  test("real ImageIO decode: known PNG pixels produce exact luma stats " +
      "through the distributed pipeline; non-image payloads fall back " +
      "to the stub") {
    // 2×2: white, black, pure red, pure blue — BT.601 lumas are exact
    val png = pngBytes(Array(
      Array(0xFFFFFF, 0x000000),
      Array(0xFF0000, 0x0000FF)))
    // direct decode at native size: all four lumas where expected
    val raster = Multimodal.decodeImage(png, 2, 2).get
    assert(math.abs(raster(0) - 1.0f) < 1e-6, "white")
    assert(raster(1) == 0.0f, "black")
    assert(math.abs(raster(2) - 0.299f * 255 / 255) < 1e-6, "red")
    assert(math.abs(raster(3) - 0.114f * 255 / 255) < 1e-6, "blue")
    // nearest-neighbor resize 2×2 → 4×4 replicates each source pixel
    val up = Multimodal.decodeImage(png, 4, 4).get
    assert(up.length == 16 && up(0) == raster(0) && up(15) == raster(3))
    // through extractFeatures (mapPartitions on executors): the mean
    // over the 2×2 frame is the mean of the four lumas
    val rows = Seq(
      (0L, "image", png, "image/png", 2, 2, 0L),
      (1L, "image", Array.fill[Byte](64)(7), "application/octet-stream", 4, 4, 0L))
    val media = rows.toDF("media_id", "kind", "payload", "mime",
      "width", "height", "duration_ms")
    val out = Multimodal.extractFeatures(media, dim = 4)
      .orderBy("media_id")
      .select("media_id", "mean_intensity")
      .as[(Long, Double)].collect()
    val wantMean = raster.map(_.toDouble).sum / 4
    assert(math.abs(out(0)._2 - wantMean) < 1e-9, s"png mean ${out(0)._2}")
    // the garbage payload isn't a PNG: stub raster mean, not a crash
    val stubMean = {
      val r = Multimodal.decodeImageStub(Array.fill[Byte](64)(7), 4, 4)
      r.map(_.toDouble).sum / r.length
    }
    assert(math.abs(out(1)._2 - stubMean) < 1e-9)
  }

  test("real WAV decode: synthetic sine RMS and zero-crossing rate match " +
      "theory through the distributed path; non-audio payloads yield " +
      "null features") {
    val feats = Multimodal.extractAudioFeatures(
        Multimodal.syntheticAudio(spark, 4).repartition(2))
      .orderBy("media_id")
      .as[(Long, Int, Option[Double], Option[Int], Option[Double], Option[Double])]
      .collect()
    assert(feats.length == 4 && feats.forall(_._3.contains(8000.0)))
    // media_id 1: 220 Hz sine, amplitude 0.30, 2048 samples @ 8 kHz
    val f1 = feats(1)
    assert(f1._4.contains(2048))
    // RMS of a sine = amp/√2 (16-bit quantization: within 1e-3)
    assert(math.abs(f1._5.get - 0.30 / math.sqrt(2)) < 1e-3, f1.toString)
    // a 220 Hz sine crosses zero 2·220·(2048/8000) ≈ 112.6 times
    val crossings = f1._6.get * 2047
    assert(math.abs(crossings - 2 * 220.0 * 2048 / 8000) <= 2.0, f1.toString)
    // non-audio payload: null features, not a crash
    val junk = Seq((99L, Array.fill[Byte](32)(3.toByte)))
      .toDF("media_id", "payload")
    val jf = Multimodal.extractAudioFeatures(junk)
      .as[(Long, Int, Option[Double], Option[Int], Option[Double], Option[Double])]
      .head()
    assert(jf._2 == 32 && jf._3.isEmpty && jf._5.isEmpty)
  }

  test("oversized/overflowing raster metadata degrades, never crashes") {
    val png = pngBytes(Array(Array(0xFFFFFF)))
    // 65536×65536 overflows w*h as Int; 50000×50000 goes negative
    assert(Multimodal.decodeImage(png, 65536, 65536).isEmpty)
    assert(Multimodal.decodeImage(png, 50000, 50000).isEmpty)
    // the stub caps (not drops) oversized rasters: no overflow, no throw
    assert(Multimodal.decodeImageStub(Array[Byte](1, 2), 65536, 65536)
      .length <= (1 << 26))
    assert(Multimodal.decodeImageStub(Array[Byte](1, 2), 50000, 50000)
      .length <= (1 << 26))
    assert(Multimodal.decodeImage(png, 0, 4).isEmpty)
  }

  test("q_multimodal_features / q_multimodal_audio golden values (the " +
      "synthetic corpora are fixture-independent, decode is per-row " +
      "pure — constants MUST equal the pinned oracles)") {
    val feats = SparkEntry.queries("q_multimodal_features")(spark, "unused")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSeq
    assert(feats == Seq(
      ("audio", 100L, 25600L, 0.498801),
      ("image", 100L, 25600L, 0.50074),
      ("video", 100L, 25600L, 0.498114)))
    val audio = SparkEntry.queries("q_multimodal_audio")(spark, "unused")
      .collect()(0)
    assert((audio.getLong(0), audio.getLong(1)) ==
      ((64L, 2989624363592580595L)))
    // and the oracles pin the same constants verbatim
    assert(SparkEntry.oracleSql("q_multimodal_features").contains("0.498801"))
    assert(SparkEntry.oracleSql("q_multimodal_audio")
      .contains("2989624363592580595"))
  }
}
