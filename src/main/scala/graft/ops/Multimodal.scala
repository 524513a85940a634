package graft.ops

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal columns for a training-data pipeline: image/audio/video as
  * opaque `binary` payloads with typed metadata. The Spark-side plumbing
  * (schema, partition-friendly batch shapes, per-frame explode, feature
  * columns) is real and tested, and ALL THREE modalities decode real media
  * with in-JDK codecs — no external jars:
  *   - IMAGE payloads are genuine PNG files (written by javax.imageio at
  *     synth time) and `decode` parses them back to pixels on the
  *     executors — width, height, and a mean-luminance statistic all come
  *     from the decoded raster, not a header convention;
  *   - AUDIO payloads are genuine RIFF/WAVE files (16-bit PCM mono) decoded
  *     through javax.sound.sampled.AudioSystem — sample rate, window count,
  *     and an RMS-amplitude statistic come from the decoded PCM samples;
  *   - VIDEO payloads are genuine multi-frame animated GIF containers
  *     decoded frame-by-frame through the ImageIO GIF reader — frame count,
  *     dimensions, and per-frame pixel statistics come from the decoded
  *     rasters, and `sampleFrames` re-encodes every sampled frame as a
  *     standalone PNG (the batch shape a vision encoder consumes).
  */
object Multimodal {

  /** payload schema: (asset_id, modality, meta struct, bytes) */
  final case class Asset(
      asset_id: String,
      modality: String, // image | audio | video
      width: Int, // image/video
      height: Int,
      sample_rate: Int, // audio
      n_frames: Int, // video frames / audio windows
      bytes: Array[Byte]
  )

  /** decode result per asset: real PNG decode for images, real WAV decode
    * for audio, fake-container header parse for video. `dec_mean_luma` is
    * the mean of (r+g+b)/3 over every decoded pixel (-1 for non-image
    * modalities); `dec_sample_rate`/`dec_rms` come from the decoded PCM
    * stream (-1 for non-audio) — present specifically so tests and
    * downstream features consume decoded PIXELS/SAMPLES, not just container
    * metadata.
    */
  final case class Decoded(
      ok: Boolean,
      dec_width: Int,
      dec_height: Int,
      dec_frames: Int,
      dec_mean_luma: Int,
      dec_sample_rate: Int,
      dec_rms: Int
  )

  /** Audio window size in PCM samples: `n_frames` for audio counts
    * 256-sample analysis windows (the unit `sampleFrames` explodes).
    */
  val AudioWindow = 256

  /** Deterministic synthetic binary corpus: payload bytes are a pure function
    * of (seed, asset), sized per modality, so specs and benches need no
    * external media. IMAGE assets are real PNGs (deterministic RGB raster
    * encoded through javax.imageio); AUDIO assets are real RIFF/WAVE files
    * (16-bit PCM mono, deterministic integer sample chain); VIDEO assets
    * are real animated GIFs (deterministic indexed-color frame sequence
    * through the ImageIO GIF writer).
    */
  def synth(spark: SparkSession, n: Int, seed: Long = 42L): DataFrame = {
    import spark.implicits._
    spark.range(0, n, 1, math.max(spark.sparkContext.defaultParallelism, 4)).map { i =>
      val mix = graft.functions.MinHashImpl.mix64(seed ^ i)
      val modalities = Array("image", "audio", "video")
      val modality = modalities(((mix & 0x7fffffff) % 3).toInt)
      val w = 16 + (math.abs(mix >> 8) % 48).toInt
      val h = 16 + (math.abs(mix >> 16) % 48).toInt
      val sr = if (modality == "audio") 16000 else 0
      val frames = modality match {
        case "video" => 4 + (math.abs(mix >> 24) % 12).toInt
        case "audio" => 8
        case _       => 1
      }
      val bytes = modality match {
        case "image" => pngBytes(w, h, mix)
        case "audio" => wavBytes(frames * AudioWindow, sr, mix)
        case _       => gifBytes(w, h, frames, mix)
      }
      Asset(s"asset$i", modality, w, h, sr, frames, bytes)
    }.toDF
  }

  /** A real PNG: deterministic RGB raster from the hash chain, encoded with
    * the in-JDK ImageIO PNG writer.
    */
  def pngBytes(w: Int, h: Int, seed: Long): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var s = seed
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        s = graft.functions.MinHashImpl.mix64(s)
        img.setRGB(x, y, (s & 0xffffff).toInt)
        x += 1
      }
      y += 1
    }
    val baos = new ByteArrayOutputStream()
    ImageIO.write(img, "png", baos)
    baos.toByteArray
  }

  /** A real WAV: canonical 44-byte RIFF/WAVE header + 16-bit PCM mono
    * little-endian samples from a deterministic integer chain (a sawtooth
    * carrier plus hash noise — integer-only so the bytes are bit-identical
    * on any JVM). Decodable by any WAV reader, including the in-JDK
    * javax.sound.sampled.AudioSystem that `decode` uses.
    */
  def wavBytes(nSamples: Int, sampleRate: Int, seed: Long): Array[Byte] = {
    val dataLen = nSamples * 2
    val b = new Array[Byte](44 + dataLen)
    def putU32(off: Int, v: Long): Unit = {
      b(off) = (v & 0xff).toByte; b(off + 1) = ((v >> 8) & 0xff).toByte
      b(off + 2) = ((v >> 16) & 0xff).toByte; b(off + 3) = ((v >> 24) & 0xff).toByte
    }
    def putU16(off: Int, v: Int): Unit = {
      b(off) = (v & 0xff).toByte; b(off + 1) = ((v >> 8) & 0xff).toByte
    }
    def putTag(off: Int, t: String): Unit = t.zipWithIndex.foreach { case (c, i) => b(off + i) = c.toByte }
    putTag(0, "RIFF"); putU32(4, 36L + dataLen); putTag(8, "WAVE")
    putTag(12, "fmt "); putU32(16, 16L); putU16(20, 1 /* PCM */); putU16(22, 1 /* mono */)
    putU32(24, sampleRate.toLong); putU32(28, sampleRate.toLong * 2); putU16(32, 2); putU16(34, 16)
    putTag(36, "data"); putU32(40, dataLen.toLong)
    var s = seed
    val period = 64 + (math.abs(seed) % 192).toInt // per-asset sawtooth pitch
    var i = 0
    while (i < nSamples) {
      s = graft.functions.MinHashImpl.mix64(s)
      val saw = ((i % period) * 16384 / period) - 8192
      val noise = ((s & 0xfff).toInt - 2048)
      val sample = saw + noise
      putU16(44 + i * 2, sample & 0xffff)
      i += 1
    }
    b
  }

  /** A real multi-frame animated GIF: deterministic indexed-color rasters
    * (TYPE_BYTE_INDEXED's default palette keeps the writer's quantization
    * trivial and reproducible) written through the in-JDK ImageIO GIF
    * writer's sequence API. Decodable by any GIF reader.
    */
  def gifBytes(w: Int, h: Int, frames: Int, seed: Long): Array[Byte] = {
    val baos = new ByteArrayOutputStream()
    val ios = ImageIO.createImageOutputStream(baos)
    val writer = ImageIO.getImageWritersByFormatName("gif").next()
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    var s = seed
    var f = 0
    while (f < frames) {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED)
      val raster = img.getRaster
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          s = graft.functions.MinHashImpl.mix64(s)
          raster.setSample(x, y, 0, (s & 0xff).toInt)
          x += 1
        }
        y += 1
      }
      writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), null)
      f += 1
    }
    writer.endWriteSequence()
    writer.dispose()
    ios.close()
    baos.toByteArray
  }

  /** Decode every asset on the executors: images through a REAL PNG/BMP/...
    * decode (javax.imageio reads the actual bitstream; any format the JDK
    * registry knows works), audio through a REAL WAV decode
    * (javax.sound.sampled.AudioSystem parses the RIFF structure and yields
    * PCM frames; sample rate and RMS amplitude come from the decoded
    * stream), video through a REAL animated-GIF decode (the ImageIO GIF
    * reader walks the frame sequence; dimensions, frame count, and mean
    * luminance come from the decoded rasters). A corrupt or unreadable
    * payload yields ok=false rather than a task failure — at corpus scale a
    * bad file must never kill the job. Typed Dataset map: codec work is
    * per-row imperative JVM code, the documented (d)-tier escape hatch.
    */
  def decode(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val bad = Decoded(ok = false, -1, -1, 0, -1, -1, -1)
    df.as[Asset].map { a =>
      val d = a.modality match {
        case "image" =>
          val img =
            try ImageIO.read(new ByteArrayInputStream(a.bytes))
            catch { case _: Exception => null }
          if (img == null) bad
          else {
            var sum = 0L
            var y = 0
            while (y < img.getHeight) {
              var x = 0
              while (x < img.getWidth) {
                val rgb = img.getRGB(x, y)
                sum += (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3
                x += 1
              }
              y += 1
            }
            Decoded(ok = true, img.getWidth, img.getHeight, 1,
              (sum / math.max(1, img.getWidth.toLong * img.getHeight)).toInt, -1, -1)
          }
        case "audio" =>
          try {
            val ais = javax.sound.sampled.AudioSystem
              .getAudioInputStream(new ByteArrayInputStream(a.bytes))
            val fmt = ais.getFormat
            val pcm = ais.readAllBytes()
            ais.close()
            val n = pcm.length / 2 // 16-bit mono samples
            var sumSq = 0L
            var i = 0
            while (i < n) {
              // little-endian signed 16-bit
              val s = ((pcm(2 * i) & 0xff) | (pcm(2 * i + 1) << 8)).toShort.toInt
              sumSq += s.toLong * s
              i += 1
            }
            val rms = math.sqrt(sumSq.toDouble / math.max(1, n)).toInt
            Decoded(ok = true, -1, -1, n / AudioWindow, -1, fmt.getSampleRate.toInt, rms)
          } catch { case _: Exception => bad }
        case _ => // video: real animated-GIF decode, frame by frame
          var iis: javax.imageio.stream.ImageInputStream = null
          try {
            iis = ImageIO.createImageInputStream(new ByteArrayInputStream(a.bytes))
            val readers = ImageIO.getImageReaders(iis)
            if (!readers.hasNext) bad
            else {
              val reader = readers.next()
              try {
                reader.setInput(iis)
                val n = reader.getNumImages(true)
                var sum = 0L
                var px = 0L
                var f = 0
                var w = 0
                var h = 0
                while (f < n) {
                  val img = reader.read(f)
                  w = math.max(w, img.getWidth)
                  h = math.max(h, img.getHeight)
                  var y = 0
                  while (y < img.getHeight) {
                    var x = 0
                    while (x < img.getWidth) {
                      val rgb = img.getRGB(x, y)
                      sum += (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3
                      x += 1
                    }
                    y += 1
                  }
                  px += img.getWidth.toLong * img.getHeight
                  f += 1
                }
                Decoded(ok = n > 0, w, h, n, (sum / math.max(1L, px)).toInt, -1, -1)
              } finally reader.dispose()
            }
          } catch { case _: Exception => bad }
          finally if (iis != null) iis.close()
      }
      (a, d)
    }.select($"_1.*", $"_2".as("decoded"))
  }

  /** Frame sampling: explode (asset_id, modality, frame_idx, frame_bytes)
    * taking every `stride`-th frame — the batch shape a downstream
    * vision/audio encoder consumes. Image assets contribute their whole
    * (really-decoded) payload as frame 0 and audio assets slice 256-sample
    * (512-byte) PCM windows past the 44-byte canonical WAV header — both
    * pure substring arithmetic on the binary column, no payload copy
    * amplification. Video assets are DECODED (GIF frame walk) and every
    * sampled frame re-encoded as a standalone PNG — per-frame imperative
    * codec work in a typed flatMap; a corrupt video contributes no rows
    * (same fail-soft contract as `decode`).
    */
  def sampleFrames(df: DataFrame, stride: Int = 2): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val flat = decode(df.where(col("modality") =!= "video"))
      // fail-soft for image/audio too, not just video: decode's `bad` record
      // carries dec_frames = 0, and sequence(0, -1, stride) THROWS — a
      // corrupt payload (or a WAV shorter than one window) must contribute
      // no rows, never a task failure
      .where(col("decoded.ok") && col("decoded.dec_frames") >= 1)
      .withColumn("hdr_len",
        when(col("modality") === "image", lit(0)).otherwise(lit(44)))
      .withColumn("frame_size",
        when(col("modality") === "audio", lit(2 * AudioWindow)).otherwise(length(col("bytes"))))
      .withColumn(
        "frame_idx",
        explode(sequence(lit(0), col("decoded.dec_frames") - 1, lit(stride)))
      )
      .withColumn(
        "frame_bytes",
        expr("substring(bytes, hdr_len + 1 + frame_idx * frame_size, frame_size)")
      )
      .select(col("asset_id"), col("modality"), col("frame_idx"), col("frame_bytes"))
    val video = df.where(col("modality") === "video").as[Asset].flatMap { a =>
      var iis: javax.imageio.stream.ImageInputStream = null
      try {
        iis = ImageIO.createImageInputStream(new ByteArrayInputStream(a.bytes))
        val readers = ImageIO.getImageReaders(iis)
        if (!readers.hasNext) Iterator.empty
        else {
          val reader = readers.next()
          try {
            reader.setInput(iis)
            val n = reader.getNumImages(true)
            (0 until n by stride).map { f =>
              val baos = new ByteArrayOutputStream()
              ImageIO.write(reader.read(f), "png", baos)
              (a.asset_id, a.modality, f, baos.toByteArray)
            }
          } finally reader.dispose()
        }
      } catch { case _: Exception => Iterator.empty }
      finally if (iis != null) iis.close()
    }.toDF("asset_id", "modality", "frame_idx", "frame_bytes")
    flat.unionByName(video)
  }

  /** Per-payload feature extraction that is NOT stubbed: a 16-bin byte-value
    * histogram over the body as array<int> — a real reduction over binary
    * data standing in for pixel statistics, and a usable near-dup signal.
    * Typed Dataset map (built-ins can't fold binary efficiently); returns
    * (asset_id, hist array<int>[16]).
    */
  def histograms(spark: SparkSession, df: DataFrame): DataFrame = {
    import spark.implicits._
    df.select(col("asset_id"), col("bytes"))
      .as[(String, Array[Byte])]
      .map { case (id, bytes) =>
        val h = new Array[Int](16)
        var i = 16
        while (i < bytes.length) { h((bytes(i) & 0xff) >> 4) += 1; i += 1 }
        (id, h)
      }
      .toDF("asset_id", "hist")
  }
}
