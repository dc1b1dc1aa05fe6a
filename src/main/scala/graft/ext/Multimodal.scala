package graft.ext

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal (image/audio/video) column handling (SURVEY.md §2.9 /
  * north star): media travel as opaque `binary` columns with typed
  * metadata; decode / feature-extraction runs per-partition so one
  * task amortizes codec init over a whole batch of rows — the Scala
  * equivalent of `mapInPandas` batch processing.
  *
  * Image decode is REAL: [[decodeImage]] runs the JDK's
  * `javax.imageio.ImageIO` (PNG/JPEG/GIF/BMP — no external codec
  * libraries needed) and resamples to the metadata (w, h) as a
  * normalized grayscale raster. Payloads ImageIO cannot parse (e.g.
  * the synthetic fixture's pseudo-random bytes, or audio/video frames
  * — the container ships no codecs for those) fall back to
  * [[decodeImageStub]], a deterministic fake raster, so the pipeline
  * shape stays total: every row decodes to the same schema either way.
  */
object Multimodal {

  /** Media-row schema: opaque payload + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false), // image|audio|video
    StructField("payload", BinaryType, nullable = true),
    StructField("mime", StringType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("duration_ms", LongType, nullable = true)))

  /** Deterministic synthetic media table (test fixture): payload bytes
    * derived from media_id — stands in for real blobs at the same
    * schema. At scale this would be `spark.read.format("binaryFile")`
    * or parquet with a binary column.
    */
  def syntheticMedia(spark: SparkSession, n: Int): DataFrame =
    spark.range(n.toLong).select(
      col("id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("id") % 3 + 1).cast("int")).as("kind"),
      // 256 pseudo-random bytes seeded by id — sha2 chained blocks
      unhex(concat((0 until 8).map(i =>
        sha2(concat(col("id").cast("string"), lit(s"#$i")), 256)): _*)).as("payload"),
      lit("application/octet-stream").as("mime"),
      lit(16).cast("int").as("width"),
      lit(16).cast("int").as("height"),
      (col("id") % 5000 + 1000).as("duration_ms"))

  /** Real image decode + resize: ImageIO parse (format sniffed from the
    * bytes), nearest-neighbor resample to (w, h), BT.601 luma in [0, 1].
    * Returns None when the payload is not a decodable image — callers
    * fall back to the stub raster so non-image payloads never kill a
    * pipeline run (the PERMISSIVE-mode stance, same as the JSONL
    * source).
    */
  /** Raster size cap: 64 M pixels (a 256 MB float array) — metadata
    * large enough to overflow `w * h` as Int (or blow executor heap)
    * falls back instead of crashing the task.
    */
  private val MaxRasterPixels = 1L << 26

  def decodeImage(payload: Array[Byte], w: Int, h: Int): Option[Array[Float]] = {
    if (payload == null || payload.isEmpty || w <= 0 || h <= 0 ||
      w.toLong * h > MaxRasterPixels) return None
    // the whole decode+resample is inside the catch: a corrupt frame or
    // decoder quirk degrades to the fallback, never a task failure —
    // the documented PERMISSIVE totality contract
    try {
      val img = javax.imageio.ImageIO.read(
        new java.io.ByteArrayInputStream(payload))
      if (img == null || img.getWidth <= 0 || img.getHeight <= 0) None
      else {
        val out = new Array[Float](w * h)
        var y = 0
        while (y < h) {
          val sy = y * img.getHeight / h
          var x = 0
          while (x < w) {
            val sx = x * img.getWidth / w
            val rgb = img.getRGB(sx, sy)
            val r = (rgb >> 16) & 0xFF
            val g = (rgb >> 8) & 0xFF
            val b = rgb & 0xFF
            out(y * w + x) =
              ((0.299f * r + 0.587f * g + 0.114f * b) / 255.0f)
            x += 1
          }
          y += 1
        }
        Some(out)
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Fallback decoder for payloads ImageIO cannot parse: bytes → WxH
    * "grayscale" raster, deterministic fake (byte i of payload cycled
    * over the raster). Keeps non-image rows total through the same
    * pipeline shape.
    */
  def decodeImageStub(payload: Array[Byte], w: Int, h: Int): Array[Float] = {
    // same overflow/size guard as decodeImage: degrade, don't crash
    val n = math.max(0L, math.min(w.toLong * h, MaxRasterPixels)).toInt
    if (payload == null || payload.isEmpty) return new Array[Float](n)
    val out = new Array[Float](n)
    var i = 0
    while (i < out.length) {
      out(i) = (payload(i % payload.length) & 0xFF) / 255.0f
      i += 1
    }
    out
  }

  /** Feature extraction over media batches: decode + per-frame stats,
    * executed partition-wise (`mapPartitions`) so decoder init happens
    * once per task, not once per row. Output: (media_id, kind,
    * n_bytes, mean_intensity, feature vector).
    */
  def extractFeatures(media: DataFrame, dim: Int = 16): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    val out: Dataset[(Long, String, Int, Double, Array[Float])] =
      media.select("media_id", "kind", "payload", "width", "height")
        .as[(Long, String, Array[Byte], Int, Int)]
        .mapPartitions { rows =>
          // per-task decoder init happens HERE, once per partition —
          // ImageIO's reader registry scan is amortized over the batch
          javax.imageio.ImageIO.setUseCache(false) // no temp-file cache in executors
          rows.map { case (id, kind, payload, w, h) =>
            val raster = decodeImage(payload, w, h)
              .getOrElse(decodeImageStub(payload, w, h))
            val nBytes = if (payload == null) 0 else payload.length
            val mean =
              if (raster.isEmpty) 0.0
              else raster.foldLeft(0.0)(_ + _) / raster.length
            // pooled feature vector: dim buckets of mean intensity
            val feat = new Array[Float](dim)
            val bucket = math.max(1, raster.length / dim)
            var i = 0
            while (i < raster.length) {
              feat(math.min(i / bucket, dim - 1)) += raster(i)
              i += 1
            }
            (id, kind, nBytes, mean, feat)
          }
        }
    out.toDF("media_id", "kind", "n_bytes", "mean_intensity", "features")
  }

  /** Real audio decode: WAV/AIFF/AU via the JDK's `javax.sound.sampled`
    * (any PCM depth the JDK converts; channels mixed down to mono floats
    * in [-1, 1]). Returns None for payloads the JDK cannot parse
    * (MP3/OGG need external SPIs) — same PERMISSIVE fallback stance as
    * [[decodeImage]].
    */
  def decodeAudio(payload: Array[Byte]): Option[(Float, Array[Float])] = {
    if (payload == null || payload.isEmpty) return None
    val ais =
      try javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(payload))
      catch { case scala.util.control.NonFatal(_) => return None }
    try {
      val src = ais.getFormat
      val ch = math.max(1, src.getChannels)
      val target = new javax.sound.sampled.AudioFormat(
        src.getSampleRate, 16, ch, true, false) // 16-bit signed PCM LE
      val pcm = javax.sound.sampled.AudioSystem.getAudioInputStream(target, ais)
      try {
        val bytes = pcm.readAllBytes()
        val n = bytes.length / 2 / ch
        if (n == 0) None
        else {
          val out = new Array[Float](n)
          var i = 0
          while (i < n) {
            var acc = 0f
            var c = 0
            while (c < ch) {
              val off = (i * ch + c) * 2
              acc += ((bytes(off + 1) << 8) | (bytes(off) & 0xFF)).toShort / 32768.0f
              c += 1
            }
            out(i) = acc / ch
            i += 1
          }
          Some((src.getSampleRate, out))
        }
      } finally pcm.close()
    } catch { case scala.util.control.NonFatal(_) => None }
    finally ais.close()
  }

  /** Deterministic synthetic audio table: every row carries a REAL
    * in-memory WAV payload (16-bit PCM mono sine; frequency and
    * amplitude derived from media_id), built inside the executors —
    * the audio-decode fixture at any scale.
    */
  def syntheticAudio(spark: SparkSession, n: Int,
      sampleRate: Int = 8000, samples: Int = 2048): DataFrame = {
    import spark.implicits._
    spark.range(n.toLong).as[Long].mapPartitions { ids =>
      ids.map { id =>
        val freq = 110.0 * (1 + id % 8)        // 110..880 Hz
        val amp = 0.25 + 0.05 * (id % 10)      // 0.25..0.70
        val data = new Array[Byte](samples * 2)
        var i = 0
        while (i < samples) {
          val s = (math.sin(2 * math.Pi * freq * i / sampleRate) * amp * 32767).toShort
          data(2 * i) = (s & 0xFF).toByte
          data(2 * i + 1) = ((s >> 8) & 0xFF).toByte
          i += 1
        }
        val fmt = new javax.sound.sampled.AudioFormat(
          sampleRate.toFloat, 16, 1, true, false)
        val ais = new javax.sound.sampled.AudioInputStream(
          new java.io.ByteArrayInputStream(data), fmt, samples.toLong)
        val bos = new java.io.ByteArrayOutputStream()
        javax.sound.sampled.AudioSystem.write(ais,
          javax.sound.sampled.AudioFileFormat.Type.WAVE, bos): Unit
        (id, "audio", bos.toByteArray, "audio/wav",
          samples.toLong * 1000 / sampleRate)
      }
    }.toDF("media_id", "kind", "payload", "mime", "duration_ms")
  }

  /** Audio feature extraction, partition-wise like [[extractFeatures]]:
    * decode → sample rate, sample count, RMS level, zero-crossing rate.
    * Non-audio payloads yield NULL features (not a crash) so mixed-media
    * tables stream through one plan.
    */
  def extractAudioFeatures(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    import spark.implicits._
    media.select("media_id", "payload").as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          val nBytes = if (payload == null) 0 else payload.length
          decodeAudio(payload) match {
            case Some((sr, s)) =>
              var sum2 = 0.0
              var zc = 0
              var i = 0
              while (i < s.length) {
                sum2 += s(i).toDouble * s(i)
                if (i > 0 && (s(i) >= 0) != (s(i - 1) >= 0)) zc += 1
                i += 1
              }
              (id, nBytes, Option(sr.toDouble), Option(s.length),
                Option(math.sqrt(sum2 / s.length)),
                Option(zc.toDouble / math.max(1, s.length - 1)))
            case None =>
              (id, nBytes, Option.empty[Double], Option.empty[Int],
                Option.empty[Double], Option.empty[Double])
          }
        }
      }.toDF("media_id", "n_bytes", "sample_rate", "n_samples",
        "rms", "zero_cross_rate")
  }
}
