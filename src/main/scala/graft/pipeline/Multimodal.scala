package graft.pipeline

import graft.{QueryDef, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing for a training-data pipeline: image/audio/video
  * payloads are opaque `binary` columns with typed metadata; decode /
  * feature-extract runs batched per partition.
  *
  * The IMAGE path is real end-to-end: PNGs encoded and decoded with the JDK's
  * ImageIO codec (mm04), and a decode→bilinear-resize→encode→decode round
  * trip whose fixed-point arithmetic the SQL oracle replays exactly (mm05).
  * Audio/video decode remains a STUB — the container has no codec libraries
  * for those — replaced by a deterministic fake (byte histogram + moments).
  * Everything Spark-side is real and tested either way: the schema, the
  * binary payload column, the partitioning (repartition by `kind` so one
  * media type's decode cost doesn't skew every partition), and the batched
  * per-partition execution shape (the Scala analog of `mapInPandas`: one
  * iterator per partition, rows streamed through without materializing the
  * partition).
  */
object Multimodal {

  final case class MediaRow(
      media_id: Long, kind: String, payload: Array[Byte],
      width: Int, height: Int, sample_rate: Int, n_frames: Int)

  final case class MediaFeatures(
      media_id: Long, kind: String, n_bytes: Long,
      byte_mean: Double, byte_entropy_proxy: Double,
      fake_embedding: Seq[Float])

  /** Synthesize a media table from `documents` — payload = UTF-8 bytes of the
    * text (a deterministic stand-in for image/audio bytes), kind round-robin,
    * metadata derived from doc stats.
    */
  def mediaTable(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    Tables(spark, dir).documents
      .select(
        col("doc_id").as("media_id"),
        element_at(typedLit(Seq("image", "audio", "video")), (col("doc_id") % 3 + 1).cast("int")).as("kind"),
        col("text").cast("binary").as("payload"),
        (col("n_chars") % 640 + 1).cast("int").as("width"),
        (col("n_chars") % 480 + 1).cast("int").as("height"),
        lit(16000).as("sample_rate"),
        (col("n_chars") % 30 + 1).cast("int").as("n_frames"))
      .as[MediaRow]
  }

  /** STUB decode: a real implementation would decode the payload with an
    * image/audio codec here; this deterministic fake extracts byte statistics
    * and an 8-dim pseudo-embedding so the pipeline shape is exercised
    * end-to-end. Runs per partition, streaming — the `mapInPandas` analog.
    */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media
      // (kind, media_id): kind alone caps parallelism at |kinds| = 3 tasks
      // (see resizeStub); the sub-key spreads each family across all cores
      .repartition(media.sparkSession.sparkContext.defaultParallelism,
        col("kind"), col("media_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val bytes = r.payload
          val n = bytes.length.toLong
          val mean = if (n == 0) 0.0 else bytes.map(b => (b & 0xff).toDouble).sum / n
          // entropy proxy: mean absolute successive byte delta
          val delta =
            if (n < 2) 0.0
            else bytes.sliding(2).map(p => math.abs((p(1) & 0xff) - (p(0) & 0xff)).toDouble).sum / (n - 1)
          val emb = Array.tabulate(8) { i =>
            var acc = 0L
            var j = i
            while (j < bytes.length) { acc = (acc * 31 + (bytes(j) & 0xff)) % 1000003L; j += 8 }
            acc.toFloat / 1000003f
          }
          MediaFeatures(r.media_id, r.kind, n, mean, delta, emb.toSeq)
        }
      }
  }

  final case class PngRow(media_id: Long, width: Int, height: Int, payload: Array[Byte])

  final case class DecodedStats(
      media_id: Long, width: Int, height: Int, n_pixels: Long,
      mean_luma: Double, resized_mean: Double)

  /** REAL media table for the image path: payload is an actual PNG encoded
    * with the JDK's ImageIO codec. Pixels are deterministic — gray value
    * `(media_id*7 + x*3 + y*5) mod 256` at (x,y) — so a SQL oracle can
    * recompute any pixel statistic from the formula alone, while the Spark
    * side must round-trip the bytes through a real encoder+decoder to get
    * them. Dimensions are kept small (≤79×62) so encode cost stays linear in
    * row count, not in document length.
    */
  def pngMediaTable(spark: SparkSession, dir: String): Dataset[PngRow] = {
    import spark.implicits._
    Tables(spark, dir).documents
      .filter(col("doc_id") % 3 === 0) // the "image" kind, as in mediaTable
      .select(
        col("doc_id").as("media_id"),
        (col("n_chars") % 64 + 16).cast("int").as("width"),
        (col("n_chars") % 48 + 15).cast("int").as("height"))
      .as[(Long, Int, Int)]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false) // no temp-file cache on executors
        rows.map { case (id, w, h) =>
          val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val v = ((id * 7 + x * 3 + y * 5) % 256).toInt
              img.setRGB(x, y, (v << 16) | (v << 8) | v)
              x += 1
            }
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(img, "png", bos)
          PngRow(id, w, h, bos.toByteArray)
        }
      }
  }

  /** REAL decode: ImageIO parses the PNG payload back into pixels (no stub —
    * PNG is lossless, so the decoded raster is bit-identical to what the
    * encoder was handed, which is what makes a value oracle possible).
    * Emits the decoded mean gray level and the mean of a deterministic 8×6
    * nearest-neighbor resample taken FROM THE DECODED RASTER — i.e. the
    * resample arithmetic runs on real codec output, not on metadata.
    */
  def decodeImageFeatures(media: Dataset[PngRow]): Dataset[DecodedStats] = {
    import media.sparkSession.implicits._
    val (outW, outH) = (8, 6)
    media
      .repartition(col("media_id")) // spread decode work evenly by key
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { r =>
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
          val (w, h) = (img.getWidth, img.getHeight)
          var sum = 0L
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) { sum += img.getRGB(x, y) & 0xff; x += 1 } // gray ⇒ blue channel
            y += 1
          }
          var rSum = 0L
          var oy = 0
          while (oy < outH) {
            var ox = 0
            while (ox < outW) {
              rSum += img.getRGB(ox * w / outW, oy * h / outH) & 0xff
              ox += 1
            }
            oy += 1
          }
          val n = w.toLong * h
          DecodedStats(r.media_id, w, h, n, sum.toDouble / n, rSum.toDouble / (outW * outH))
        }
      }
  }

  final case class ResizedRow(
      media_id: Long, width: Int, height: Int,
      out_w: Int, out_h: Int, payload: Array[Byte])

  final case class ResizedPngRow(media_id: Long, out_w: Int, out_h: Int, payload: Array[Byte])

  final case class ResizedStats(
      media_id: Long, out_w: Long, out_h: Long,
      resized_sum: Long, checksum: Long, resized_mean: Double)

  /** REAL resize: decode the PNG payload with the actual codec, bilinear-
    * resample the decoded raster in 16.16 FIXED-POINT integer arithmetic
    * (align-corners mapping: fx = ox·(w−1)·2^16 ÷ (outW−1), truncating), and
    * re-encode the result as a PNG. Integer arithmetic is the point: every
    * output gray level is an exact BIGINT expression of the source pixels, so
    * a SQL oracle can replay the whole resample from the deterministic pixel
    * formula — float bilinear would diverge in the last ulp across engines.
    * All values are non-negative, so Java's `>> 32` / `& 0xffff` equal SQL's
    * `// 4294967296` / `% 65536` exactly.
    *
    * GRAYSCALE-ONLY contract: the resample reads a single channel
    * (`getRGB & 0xff`, the low/blue byte) and re-encodes it as gray — correct
    * for this corpus, whose PNGs are gray by construction, but a chromatic
    * input would silently collapse to its blue channel. A general RGB resize
    * would run the same fixed-point kernel per channel.
    */
  def realResize(media: Dataset[PngRow], targetW: Int): Dataset[ResizedPngRow] = {
    import media.sparkSession.implicits._
    media
      .repartition(col("media_id"))
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { r =>
          val src = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
          val (w, h) = (src.getWidth, src.getHeight)
          val outW = targetW
          val outH = math.max(2, h * targetW / w) // floor, aspect-preserving; ≥2 keeps (outH−1) a valid divisor
          val out = new java.awt.image.BufferedImage(outW, outH, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var oy = 0
          while (oy < outH) {
            val fy = oy.toLong * (h - 1) * 65536L / (outH - 1)
            val y0 = (fy >> 16).toInt
            val dy = fy & 0xffffL
            val y1 = math.min(y0 + 1, h - 1)
            var ox = 0
            while (ox < outW) {
              val fx = ox.toLong * (w - 1) * 65536L / (outW - 1)
              val x0 = (fx >> 16).toInt
              val dx = fx & 0xffffL
              val x1 = math.min(x0 + 1, w - 1)
              def v(x: Int, y: Int): Long = (src.getRGB(x, y) & 0xff).toLong
              val top = v(x0, y0) * (65536L - dx) + v(x1, y0) * dx
              val bot = v(x0, y1) * (65536L - dx) + v(x1, y1) * dx
              val g = ((top * (65536L - dy) + bot * dy) >> 32).toInt
              out.setRGB(ox, oy, (g << 16) | (g << 8) | g)
              ox += 1
            }
            oy += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(out, "png", bos)
          ResizedPngRow(r.media_id, outW, outH, bos.toByteArray)
        }
      }
  }

  /** Decode the RESIZED PNGs back through the codec and report position-
    * sensitive pixel statistics — closing the decode→resize→encode→decode
    * round trip. `checksum` weights each gray level by its raster position,
    * so a transposed, flipped, or off-by-one resample cannot match.
    */
  def resizedStats(resized: Dataset[ResizedPngRow]): Dataset[ResizedStats] = {
    import resized.sparkSession.implicits._
    resized.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { r =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
        val (ow, oh) = (img.getWidth, img.getHeight)
        var sum = 0L
        var chk = 0L
        var oy = 0
        while (oy < oh) {
          var ox = 0
          while (ox < ow) {
            val g = (img.getRGB(ox, oy) & 0xff).toLong
            sum += g
            chk += g * (oy.toLong * ow + ox + 1)
            ox += 1
          }
          oy += 1
        }
        ResizedStats(r.media_id, ow.toLong, oh.toLong, sum, chk, sum.toDouble / (ow.toLong * oh))
      }
    }
  }

  /** STUB resize: a real implementation would decode + bilinear-resample
    * here; the stub honors the *plan* exactly — output buffer is
    * out_w × out_h × 3 deterministic bytes — so the Spark-side contract
    * (schema, per-partition batching, buffer sizing) is executed for real
    * and the oracle can audit the executed output's byte counts against
    * the integer resize arithmetic.
    */
  def resizeStub(media: Dataset[MediaRow], targetW: Int): Dataset[ResizedRow] = {
    import media.sparkSession.implicits._
    media
      // (kind, media_id) with an explicit count: keying by kind ALONE sends
      // a single-kind input (mm03 filters to images) to ONE task — at sf3
      // that serialized 7.5 GB of buffer fills (6.5 → 19.1 s, 2.9× on 3×).
      // Sub-keying by id spreads the family across all cores; per-partition
      // codec init (the original colocation motive) stays amortized.
      .repartition(media.sparkSession.sparkContext.defaultParallelism,
        col("kind"), col("media_id"))
      .mapPartitions { rows =>
        rows.map { r =>
          val outW = targetW
          val outH = math.max(1, r.height * targetW / r.width) // floor, aspect-preserving
          val buf = new Array[Byte](outW * outH * 3)
          var i = 0
          while (i < buf.length) { buf(i) = ((r.media_id * 31 + i) % 251).toByte; i += 1 }
          ResizedRow(r.media_id, r.width, r.height, outW, outH, buf)
        }
      }
  }

  final case class WavRow(media_id: Long, sample_rate: Int, n_samples: Int, payload: Array[Byte])

  final case class AudioStats(
      media_id: Long, n_samples: Long, sample_rate: Long,
      sample_sum: Long, checksum: Long, sample_mean: Double)

  /** REAL audio table: payload is an actual RIFF/WAVE file (8-bit unsigned
    * PCM mono) whose samples follow the deterministic formula
    * `(media_id*11 + i*13) mod 256` — same design as [[pngMediaTable]]: the
    * oracle can recompute any sample statistic from the formula alone, while
    * the Spark side must parse the container and decode the stream with the
    * JDK's real audio codec ([[javax.sound.sampled.AudioSystem]]) to get it.
    */
  def wavMediaTable(spark: SparkSession, dir: String): Dataset[WavRow] = {
    import spark.implicits._
    Tables(spark, dir).documents
      .filter(col("doc_id") % 3 === 1) // the "audio" kind, as in mediaTable
      .select(
        col("doc_id").as("media_id"),
        (col("n_chars") % 400 + 100).cast("int").as("n_samples"))
      // repartition BEFORE the encode: the single-file documents scan is one
      // split, so without it every WAV in the corpus is encoded in ONE task
      // (the dc02 explode lesson; measured on mm09 — 4.6× on 3× data at sf3
      // purely from the serial encode+decode chain). Explicit partition
      // count: the pre-encode rows are a few MB however many clips follow,
      // so AQE would coalesce a bare repartition(col) right back to one task.
      .repartition(spark.sparkContext.defaultParallelism, col("media_id"))
      .as[(Long, Int)]
      .mapPartitions { rows =>
        rows.map { case (id, n) =>
          val rate = 8000
          // Canonical 44-byte RIFF/WAVE header written by hand: the encode
          // side is FIXTURE construction, not the operator under test (the
          // decode still goes through the real AudioSystem codec), and
          // AudioSystem.write's per-call provider machinery serialized the
          // whole corpus encode across threads — mm06 measured 5.0× on 3×
          // data at sf3 with zero gain from added tasks until this writer
          // replaced it. Format fields match what AudioSystem.write
          // produced: PCM (tag 1), mono, 8-bit, 8 kHz.
          val buf = java.nio.ByteBuffer.allocate(44 + n)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          buf.put("RIFF".getBytes("US-ASCII")).putInt(36 + n)
            .put("WAVE".getBytes("US-ASCII"))
            .put("fmt ".getBytes("US-ASCII")).putInt(16)
            .putShort(1).putShort(1).putInt(rate).putInt(rate)
            .putShort(1).putShort(8)
            .put("data".getBytes("US-ASCII")).putInt(n)
          var i = 0
          while (i < n) { buf.put(((id * 11 + i * 13) % 256).toByte); i += 1 }
          WavRow(id, rate, n, buf.array())
        }
      }
  }

  /** REAL audio decode: AudioSystem parses the WAV container (RIFF chunks,
    * fmt block) and yields the PCM stream; stats are computed from the
    * decoded samples with a position-weighted checksum so truncated or
    * shifted streams cannot match.
    */
  /** The JDK's real WAV codec, resolved ONCE per partition through the
    * public [[javax.sound.sampled.spi.AudioFileReader]] SPI instead of per
    * clip through `AudioSystem.getAudioInputStream`: AudioSystem's static
    * path takes a global synchronized provider lookup on EVERY call, which
    * serialized the whole corpus decode — measured at sf3 (150 k clips),
    * adding tasks made mm06 SLOWER (7.6 s serial → 13.8 s at 32 tasks) until
    * this resolver removed the shared lock. Same codec object
    * (com.sun.media.sound.WaveFileReader), same parse, zero contention.
    */
  private def wavReader(): javax.sound.sampled.spi.AudioFileReader = {
    val it = java.util.ServiceLoader
      .load(classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
    while (it.hasNext) {
      val r = it.next()
      if (r.getClass.getSimpleName.startsWith("Wave")) return r
    }
    throw new IllegalStateException("no WAVE AudioFileReader provider on this JDK")
  }

  def decodeAudioStats(media: Dataset[WavRow]): Dataset[AudioStats] = {
    import media.sparkSession.implicits._
    media
      // explicit count: the clip payloads are tens of MB at test scales, so
      // AQE coalesces a bare repartition(col) to ONE task and the whole
      // corpus decodes serially (mm06 read 4.7× on 3× data at sf3)
      .repartition(media.sparkSession.sparkContext.defaultParallelism, col("media_id"))
      .mapPartitions { rows =>
        val reader = wavReader()
        rows.map { r =>
          val ais = reader.getAudioInputStream(
            new java.io.ByteArrayInputStream(r.payload))
          val fmt = ais.getFormat
          // encoding matters too: signed 8-bit PCM would pass a size/channel
          // check and `& 0xff` would then misread every sample by 128
          require(fmt.getSampleSizeInBits == 8 && fmt.getChannels == 1 &&
            fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED,
            s"unexpected decoded format for media ${r.media_id}: $fmt")
          val buf = ais.readAllBytes()
          var sum = 0L
          var chk = 0L
          var i = 0
          while (i < buf.length) {
            val v = (buf(i) & 0xff).toLong
            sum += v
            chk += v * (i + 1)
            i += 1
          }
          AudioStats(r.media_id, buf.length.toLong, fmt.getSampleRate.toLong,
            sum, chk, if (buf.isEmpty) 0.0 else sum.toDouble / buf.length)
        }
      }
  }

  final case class VideoRow(media_id: Long, n_frames: Int, payload: Array[Byte])

  final case class VideoStats(
      media_id: Long, n_frames: Long, luma_sum: Long, checksum: Long, mean_luma: Double)

  private val FrameW = 8
  private val FrameH = 6

  /** REAL video-ish table: payload is a CONCATENATION of real PNG frames
    * (frame f's pixel (x,y) = `(media_id*7 + f*17 + x*3 + y*5) mod 256`) —
    * the moral equivalent of an MJPEG stream. Decoding it requires real
    * demuxing (walking the PNG chunk grammar to find frame boundaries) plus
    * a real codec per frame; the oracle knows only the pixel formula.
    */
  def videoMediaTable(spark: SparkSession, dir: String): Dataset[VideoRow] = {
    import spark.implicits._
    Tables(spark, dir).documents
      .filter(col("doc_id") % 3 === 2) // the "video" kind, as in mediaTable
      .select(
        col("doc_id").as("media_id"),
        (col("n_chars") % 30 + 1).cast("int").as("n_frames"))
      // repartition BEFORE the encode, explicit count — the wavMediaTable
      // recipe (r16: mm07's encode ran as ONE 807 ms task off the
      // single-split documents scan; the pre-encode rows are two ints each,
      // so the exchange is noise while the PNG encode is the kernel)
      .repartition(spark.sparkContext.defaultParallelism, col("media_id"))
      .as[(Long, Int)]
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { case (id, nf) =>
          val bos = new java.io.ByteArrayOutputStream()
          var f = 0
          while (f < nf) {
            val img = new java.awt.image.BufferedImage(FrameW, FrameH, java.awt.image.BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < FrameH) {
              var x = 0
              while (x < FrameW) {
                val v = ((id * 7 + f * 17 + x * 3 + y * 5) % 256).toInt
                img.setRGB(x, y, (v << 16) | (v << 8) | v)
                x += 1
              }
              y += 1
            }
            javax.imageio.ImageIO.write(img, "png", bos)
            f += 1
          }
          VideoRow(id, nf, bos.toByteArray)
        }
      }
  }

  /** Split a concatenated-PNG payload at true frame boundaries by walking
    * the PNG chunk grammar: 8-byte signature, then length-typed chunks
    * (4-byte big-endian length + 4-byte type + data + CRC) until IEND.
    * Structural parsing, not signature scanning — compressed IDAT data could
    * contain signature-lookalike bytes.
    */
  def splitPngFrames(payload: Array[Byte]): Seq[Array[Byte]] = {
    val frames = Seq.newBuilder[Array[Byte]]
    var pos = 0
    while (pos < payload.length) {
      val start = pos
      require(payload.length - pos >= 8 && (payload(pos) & 0xff) == 0x89 && payload(pos + 1) == 'P',
        s"not a PNG signature at offset $pos")
      pos += 8
      var done = false
      while (!done) {
        require(payload.length - pos >= 8,
          s"truncated PNG chunk header at offset $pos (payload ${payload.length} bytes)")
        val len = ((payload(pos) & 0xff) << 24) | ((payload(pos + 1) & 0xff) << 16) |
          ((payload(pos + 2) & 0xff) << 8) | (payload(pos + 3) & 0xff)
        val isEnd = payload(pos + 4) == 'I' && payload(pos + 5) == 'E' &&
          payload(pos + 6) == 'N' && payload(pos + 7) == 'D'
        // a corrupt length would otherwise run past the array and copyOfRange
        // would silently zero-pad the final frame instead of failing
        require(len >= 0 && pos.toLong + 12L + len <= payload.length,
          s"PNG chunk at offset $pos claims $len data bytes but only " +
            s"${payload.length - pos - 12} remain")
        pos += 12 + len // length + type + data + CRC
        if (isEnd) done = true
      }
      frames += java.util.Arrays.copyOfRange(payload, start, pos)
    }
    require(pos == payload.length,
      s"PNG stream ended at $pos but payload has ${payload.length} bytes")
    frames.result()
  }

  /** REAL frame extraction: demux the payload into frames, decode EVERY
    * frame with the real codec, and fold position-weighted stats across
    * (frame, y, x) — so dropped, duplicated, or reordered frames cannot
    * match the oracle.
    */
  def decodeVideoStats(media: Dataset[VideoRow]): Dataset[VideoStats] = {
    import media.sparkSession.implicits._
    media
      // explicit count (r16, the decodeAudioStats recipe): AQE coalesces a
      // bare repartition(col) of the few-MB payload frame back to ONE task
      // and the whole demux+decode runs serially (measured: 475+535 ms
      // single-task stages in mm07 at sf0.1)
      .repartition(media.sparkSession.sparkContext.defaultParallelism, col("media_id"))
      .mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { r =>
          val frames = splitPngFrames(r.payload)
          var sum = 0L
          var chk = 0L
          var f = 0
          frames.foreach { bytes =>
            val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
            val (w, h) = (img.getWidth, img.getHeight)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                val v = (img.getRGB(x, y) & 0xff).toLong
                sum += v
                chk += v * ((f.toLong * h + y) * w + x + 1)
                x += 1
              }
              y += 1
            }
            f += 1
          }
          val px = frames.size.toLong * FrameW * FrameH
          VideoStats(r.media_id, frames.size.toLong, sum, chk,
            if (px == 0) 0.0 else sum.toDouble / px)
        }
      }
  }

  // pp04 gate bands: integer-exact bounds on the decoded mean signals —
  // 64-sample aHash mean for images, decoded PCM mean amplitude for audio.
  // Constants, not confs (the oracle bakes the same numbers — the
  // basket-cap discipline); chosen so both kept and dropped sets are
  // non-empty from sf0.001 up (pinned by MultimodalSpec).
  val ImgGateLo = 120L
  val ImgGateHi = 133L
  val AudGateLo = 124L
  val AudGateHi = 130L

  /** pp04's Spark chain — see the entry comment. Each stage consumes the
    * previous stage's DataFrame; the roster is computed from the partitioned
    * export's READ-BACK so the chain_md5 witnesses the writer round trip.
    */
  def multimodalChain(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window

    // 1. real decode → signature + gate signal, ONE codec pass per medium
    val imgSig = pngMediaTable(spark, dir).mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { r =>
        val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
        val s = Array.tabulate(64) { k =>
          (img.getRGB(((k % 8) * r.width) / 8, ((k / 8) * r.height) / 8) & 0xFF).toLong
        }
        val sum = s.sum
        var hi = 0L; var lo = 0L; var k = 0
        while (k < 64) {
          if (64L * s(k) > sum) { if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32) }
          k += 1
        }
        (r.media_id, hi, lo, sum)
      }
    }.toDF("media_id", "hash_hi", "hash_lo", "s64")
    val audSig = wavMediaTable(spark, dir).mapPartitions { rows =>
      val reader = wavReader() // per-partition SPI resolve — see decodeAudioStats
      rows.map { r =>
        val ais = reader.getAudioInputStream(new java.io.ByteArrayInputStream(r.payload))
        val buf = ais.readAllBytes()
        val n = buf.length
        val sw = new Array[Long](16); val lw = new Array[Long](16)
        var tot = 0L; var i = 0
        while (i < n) {
          val w = ((i.toLong * 16) / n).toInt
          val v = (buf(i) & 0xff).toLong
          sw(w) += v; lw(w) += 1; tot += v
          i += 1
        }
        var fp = 0L; var w = 0
        while (w < 16) { if (n.toLong * sw(w) > tot * lw(w)) fp |= 1L << w; w += 1 }
        (r.media_id, fp, tot, n.toLong)
      }
    }.toDF("media_id", "fingerprint", "amp_sum", "n_samples")

    // 2. first-seen-wins dedup per signature bucket (ur01's keep rule on
    // the stage-1 signatures)
    val imgKeep = imgSig.withColumn("rn",
      row_number().over(Window.partitionBy("hash_hi", "hash_lo").orderBy("media_id")))
      .filter(col("rn") === 1).drop("rn")
    val audKeep = audSig.withColumn("rn",
      row_number().over(Window.partitionBy("fingerprint").orderBy("media_id")))
      .filter(col("rn") === 1).drop("rn")

    // 3. feature gate on the decoded signals stage 1 already produced —
    // a codegen'd predicate, no second decode
    val imgGate = imgKeep.filter(col("s64") >= 64L * ImgGateLo && col("s64") < 64L * ImgGateHi)
    val audGate = audKeep.filter(col("amp_sum") >= col("n_samples") * AudGateLo &&
      col("amp_sum") < col("n_samples") * AudGateHi)

    // 4. union + sharded export + read-back roster (ex01/pp03 round-trip proof)
    val kept = imgGate.select(lit("img").as("kind"), col("media_id"),
        col("hash_hi").as("sig_hi"), col("hash_lo").as("sig_lo"))
      .unionByName(audGate.select(lit("aud").as("kind"), col("media_id"),
        col("fingerprint").as("sig_hi"), col("amp_sum").as("sig_lo")))
      .withColumn("shard", pmod(col("media_id"), lit(4L)))
    val back = Sampling.exportedJsonl(kept, "pp04", dir,
      "media_id BIGINT, sig_hi BIGINT, sig_lo BIGINT, kind STRING, shard BIGINT", "kind", "shard")
    val itemMd5 = md5(concat_ws(":", col("kind"), col("media_id"),
      col("sig_hi"), col("sig_lo")).cast("binary"))
    val chainMd5 = md5(concat_ws("",
      transform(array_sort(collect_list(struct(col("media_id"), itemMd5.as("h")))),
        x => x.getField("h"))).cast("binary"))
    back.groupBy("kind", "shard")
      .agg(count(lit(1)).cast("long").as("n_media"), chainMd5.as("chain_md5"))
      .orderBy("kind", "shard")
  }

  val defs: Seq[QueryDef] = Seq(

    // ----- mm03: image-resize plumbing — the oracle recomputes the resize
    // arithmetic from the source metadata and must match the byte counts of
    // the stub's EXECUTED output buffers (kind == "image" ⇔ doc_id % 3 = 0).
    QueryDef.sql(
      "mm03_resize_plan",
      """SELECT doc_id AS media_id,
        |  CAST(n_chars % 640 + 1 AS BIGINT) AS width,
        |  CAST(n_chars % 480 + 1 AS BIGINT) AS height,
        |  CAST(224 AS BIGINT) AS out_w,
        |  CAST(greatest(1, ((n_chars % 480 + 1) * 224) // (n_chars % 640 + 1)) AS BIGINT) AS out_h,
        |  CAST(224 * greatest(1, ((n_chars % 480 + 1) * 224) // (n_chars % 640 + 1)) * 3 AS BIGINT) AS out_bytes
        |FROM documents WHERE doc_id % 3 = 0
        |ORDER BY media_id""".stripMargin,
    ) { (spark, dir) =>
      resizeStub(mediaTable(spark, dir).filter(col("kind") === "image"), targetW = 224)
        .toDF()
        .select(col("media_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("out_w").cast("long").as("out_w"),
          col("out_h").cast("long").as("out_h"),
          octet_length(col("payload")).cast("long").as("out_bytes"))
        .orderBy("media_id")
    },

    // ----- mm01: full multimodal pipeline — synthesize binary media, batched
    // feature extraction, per-kind rollup. The payload is the UTF-8 bytes of
    // `text` (all-ASCII in the testdata, byte i == ascii(char i)), so the
    // oracle recomputes the stub decode's byte statistics from the text:
    // per-doc sums are integer-valued (exact in double, order-free); the
    // per-kind averages go through exact DECIMAL(38,12) sums so partial-
    // aggregation order can't leak into the last ulp.
    QueryDef.sql(
      "mm01_media_features",
      """WITH bytes AS (
        |  SELECT doc_id, t.i, CAST(ascii(text[t.i:t.i]) AS BIGINT) AS v
        |  FROM documents, UNNEST(generate_series(1, length(text))) AS t(i)),
        |stats AS (
        |  SELECT doc_id, COUNT(*) AS n, CAST(SUM(v) AS DOUBLE) AS sv FROM bytes GROUP BY 1),
        |deltas AS (
        |  SELECT a.doc_id, CAST(SUM(ABS(b.v - a.v)) AS DOUBLE) AS sd
        |  FROM bytes a JOIN bytes b ON b.doc_id = a.doc_id AND b.i = a.i + 1 GROUP BY 1),
        |feat AS (
        |  SELECT s.doc_id,
        |    CASE s.doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
        |    s.n AS n_bytes,
        |    s.sv / s.n AS byte_mean,
        |    COALESCE(d.sd / (s.n - 1), 0) AS entropy
        |  FROM stats s LEFT JOIN deltas d ON d.doc_id = s.doc_id)
        |SELECT kind, COUNT(*) AS n_media, CAST(SUM(n_bytes) AS BIGINT) AS total_bytes,
        |  CAST(CAST(CAST(SUM(CAST(byte_mean AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS DECIMAL(18,6)) AS DOUBLE) AS avg_byte_mean,
        |  CAST(CAST(CAST(SUM(CAST(entropy AS DECIMAL(38,12))) AS DOUBLE) / COUNT(*) AS DECIMAL(18,6)) AS DOUBLE) AS avg_entropy_proxy
        |FROM feat GROUP BY 1 ORDER BY kind""".stripMargin,
    ) { (spark, dir) =>
      val feats = extractFeatures(mediaTable(spark, dir))
      feats.toDF()
        .groupBy("kind")
        .agg(
          count(lit(1)).as("n_media"),
          sum("n_bytes").as("total_bytes"),
          // exact decimal sum (order-free), then a 6-decimal rounding that
          // absorbs the engines' 1-ulp decimal→double cast divergence
          (sum(col("byte_mean").cast("decimal(38,12)")).cast("double") / count(lit(1)))
            .cast("decimal(18,6)").cast("double").as("avg_byte_mean"),
          (sum(col("byte_entropy_proxy").cast("decimal(38,12)")).cast("double") / count(lit(1)))
            .cast("decimal(18,6)").cast("double").as("avg_entropy_proxy"))
        .orderBy("kind")
    },

    // ----- mm04: REAL image decode — payload is an actual ImageIO-encoded
    // PNG; the query decodes it with the real codec and reports pixel stats
    // plus an 8×6 nearest-neighbor resample computed from the decoded raster.
    // The oracle replays the deterministic pixel formula
    // (media_id*7 + x*3 + y*5) mod 256 in pure SQL — it can only match if the
    // encode→decode round trip through the codec is lossless and correct.
    QueryDef.sql(
      "mm04_real_image_decode",
      """WITH imgs AS (
        |  SELECT doc_id AS media_id,
        |    CAST(n_chars % 64 + 16 AS BIGINT) AS w,
        |    CAST(n_chars % 48 + 15 AS BIGINT) AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |px AS (
        |  SELECT i.media_id, i.w, i.h,
        |    SUM((i.media_id * 7 + x.x * 3 + y.y * 5) % 256) AS luma_sum
        |  FROM imgs i,
        |    UNNEST(generate_series(0, i.w - 1)) AS x(x),
        |    UNNEST(generate_series(0, i.h - 1)) AS y(y)
        |  GROUP BY 1, 2, 3),
        |rs AS (
        |  SELECT i.media_id,
        |    SUM((i.media_id * 7 + ((ox.ox * i.w) // 8) * 3 + ((oy.oy * i.h) // 6) * 5) % 256) AS r_sum
        |  FROM imgs i,
        |    UNNEST(generate_series(0, 7)) AS ox(ox),
        |    UNNEST(generate_series(0, 5)) AS oy(oy)
        |  GROUP BY 1)
        |SELECT p.media_id, p.w AS width, p.h AS height,
        |  p.w * p.h AS n_pixels,
        |  CAST(p.luma_sum AS DOUBLE) / (p.w * p.h) AS mean_luma,
        |  CAST(r.r_sum AS DOUBLE) / 48 AS resized_mean
        |FROM px p JOIN rs r ON r.media_id = p.media_id
        |ORDER BY p.media_id""".stripMargin,
    ) { (spark, dir) =>
      decodeImageFeatures(pngMediaTable(spark, dir))
        .toDF()
        .select(col("media_id"),
          col("width").cast("long").as("width"),
          col("height").cast("long").as("height"),
          col("n_pixels"),
          col("mean_luma"),
          col("resized_mean"))
        .orderBy("media_id")
    },

    // ----- mm05: REAL image resize — decode the real PNG, bilinear-resample
    // the decoded raster in 16.16 fixed-point INTEGER arithmetic, re-encode
    // as PNG, then decode THAT and report position-weighted pixel stats. The
    // oracle replays the identical integer bilinear from the pixel formula
    // (media_id*7 + x*3 + y*5) mod 256 — it can only match if decode, the
    // resample arithmetic, encode, and the second decode are all correct.
    // Align-corners mapping; all values non-negative so Java >>32 / &0xffff
    // equal SQL //4294967296 / %65536 exactly.
    QueryDef.sql(
      "mm05_real_image_resize",
      """WITH dims AS (
        |  SELECT doc_id AS media_id,
        |    CAST(n_chars % 64 + 16 AS BIGINT) AS w,
        |    CAST(n_chars % 48 + 15 AS BIGINT) AS h,
        |    CAST(16 AS BIGINT) AS ow,
        |    greatest(2, ((n_chars % 48 + 15) * 16) // (n_chars % 64 + 16)) AS oh
        |  FROM documents WHERE doc_id % 3 = 0),
        |px AS (
        |  SELECT d.media_id, d.w, d.h, d.ow, d.oh, ox.ox, oy.oy,
        |    (ox.ox * (d.w - 1) * 65536) // (d.ow - 1) AS fx,
        |    (oy.oy * (d.h - 1) * 65536) // (d.oh - 1) AS fy
        |  FROM dims d,
        |    UNNEST(generate_series(0, d.ow - 1)) AS ox(ox),
        |    UNNEST(generate_series(0, d.oh - 1)) AS oy(oy)),
        |bil AS (
        |  SELECT media_id, ow, oh, ox, oy,
        |    ((  ((media_id*7 + (fx//65536)*3                + (fy//65536)*5               ) % 256) * (65536 - fx%65536)
        |      + ((media_id*7 + least(fx//65536+1, w-1)*3    + (fy//65536)*5               ) % 256) * (fx%65536)
        |     ) * (65536 - fy%65536)
        |     +
        |     (  ((media_id*7 + (fx//65536)*3                + least(fy//65536+1, h-1)*5   ) % 256) * (65536 - fx%65536)
        |      + ((media_id*7 + least(fx//65536+1, w-1)*3    + least(fy//65536+1, h-1)*5   ) % 256) * (fx%65536)
        |     ) * (fy%65536)
        |    ) // 4294967296 AS g
        |  FROM px)
        |SELECT media_id, MAX(ow) AS out_w, MAX(oh) AS out_h,
        |  CAST(SUM(g) AS BIGINT) AS resized_sum,
        |  CAST(SUM(g * (oy * ow + ox + 1)) AS BIGINT) AS checksum,
        |  CAST(SUM(g) AS DOUBLE) / (MAX(ow) * MAX(oh)) AS resized_mean
        |FROM bil GROUP BY 1 ORDER BY media_id""".stripMargin,
    ) { (spark, dir) =>
      resizedStats(realResize(pngMediaTable(spark, dir), targetW = 16))
        .toDF()
        .orderBy("media_id")
    },

    // ----- mm06: REAL audio decode — payload is an actual RIFF/WAVE file
    // written by javax.sound; the query re-parses the container and decodes
    // the 8-bit PCM stream with the real codec. The oracle replays the
    // deterministic sample formula (media_id*11 + i*13) mod 256 — a match
    // proves container parse + decode end-to-end (the header alone is 44
    // bytes of structure the formula knows nothing about).
    QueryDef.sql(
      "mm06_real_audio_decode",
      """WITH clips AS (
        |  SELECT doc_id AS media_id,
        |    CAST(n_chars % 400 + 100 AS BIGINT) AS n
        |  FROM documents WHERE doc_id % 3 = 1),
        |samples AS (
        |  SELECT c.media_id, c.n, i.i,
        |    (c.media_id * 11 + i.i * 13) % 256 AS v
        |  FROM clips c, UNNEST(generate_series(0, c.n - 1)) AS i(i))
        |SELECT media_id, MAX(n) AS n_samples, CAST(8000 AS BIGINT) AS sample_rate,
        |  CAST(SUM(v) AS BIGINT) AS sample_sum,
        |  CAST(SUM(v * (i + 1)) AS BIGINT) AS checksum,
        |  CAST(SUM(v) AS DOUBLE) / MAX(n) AS sample_mean
        |FROM samples GROUP BY 1 ORDER BY media_id""".stripMargin,
    ) { (spark, dir) =>
      decodeAudioStats(wavMediaTable(spark, dir))
        .toDF()
        .select(col("media_id"), col("n_samples"), col("sample_rate"),
          col("sample_sum"), col("checksum"), col("sample_mean"))
        .orderBy("media_id")
    },

    // ----- mm07: REAL frame extraction — the payload is a concatenation of
    // real PNG frames; the query demuxes it by walking the PNG chunk grammar
    // (not signature scanning), decodes every frame with the real codec, and
    // folds (frame, y, x)-weighted stats. Oracle replays the per-frame pixel
    // formula (media_id*7 + f*17 + x*3 + y*5) mod 256 over an 8×6 raster.
    QueryDef.sql(
      "mm07_real_frame_extract",
      """WITH vids AS (
        |  SELECT doc_id AS media_id, CAST(n_chars % 30 + 1 AS BIGINT) AS nf
        |  FROM documents WHERE doc_id % 3 = 2),
        |px AS (
        |  SELECT v.media_id, v.nf, f.f, y.y, x.x,
        |    (v.media_id * 7 + f.f * 17 + x.x * 3 + y.y * 5) % 256 AS val
        |  FROM vids v,
        |    UNNEST(generate_series(0, v.nf - 1)) AS f(f),
        |    UNNEST(generate_series(0, 5)) AS y(y),
        |    UNNEST(generate_series(0, 7)) AS x(x))
        |SELECT media_id, MAX(nf) AS n_frames,
        |  CAST(SUM(val) AS BIGINT) AS luma_sum,
        |  CAST(SUM(val * ((f * 6 + y) * 8 + x + 1)) AS BIGINT) AS checksum,
        |  CAST(SUM(val) AS DOUBLE) / (MAX(nf) * 48) AS mean_luma
        |FROM px GROUP BY 1 ORDER BY media_id""".stripMargin,
    ) { (spark, dir) =>
      decodeVideoStats(videoMediaTable(spark, dir))
        .toDF()
        .select(col("media_id"), col("n_frames"), col("luma_sum"),
          col("checksum"), col("mean_luma"))
        .orderBy("media_id")
    },

    // ----- mm02: frame sampling — explode video metadata into per-frame rows
    // (the schema/partitioning shape of a frame-extraction stage; frame decode
    // itself would slot into extractFeatures' stub). Pure integer arithmetic
    // over the documents-derived metadata ⇒ DuckDB mirrors the explode with
    // generate_series (kind == "video" ⇔ doc_id % 3 = 2; n_frames = n_chars % 30 + 1).
    QueryDef.sql(
      "mm02_frame_sample",
      """SELECT doc_id AS media_id,
        |  COUNT(*) AS sampled_frames,
        |  CAST(MAX(f.frame_no) AS BIGINT) AS last_frame
        |FROM documents, UNNEST(generate_series(0, n_chars % 30)) AS f(frame_no)
        |WHERE doc_id % 3 = 2 AND f.frame_no % 5 = 0
        |GROUP BY 1 ORDER BY media_id""".stripMargin,
    ) { (spark, dir) =>
      val media = mediaTable(spark, dir).toDF()
      media.filter(col("kind") === "video")
        .select(col("media_id"), col("n_frames"),
          explode(sequence(lit(0), col("n_frames") - 1)).as("frame_no"))
        // sample every 5th frame, deterministic
        .filter(col("frame_no") % 5 === 0)
        .groupBy("media_id")
        .agg(count(lit(1)).as("sampled_frames"),
          max("frame_no").cast("long").as("last_frame"))
        .orderBy("media_id")
    },

    // ----- mm08: perceptual-hash (aHash) image near-dup — the multimodal ×
    // dedup crossover: decode the REAL PNG with the codec, sample the
    // decoded raster on the 8×8 nearest-neighbor grid (mm04's resample
    // geometry), threshold each sample against the 64-sample mean
    // (64·v > Σv keeps it integer-exact — no double mean), pack the 64 bits
    // as (hash_hi, hash_lo) BIGINT halves (bit 63 in one BIGINT would go
    // sign-ambiguous across engines), then bucket-join on the hash —
    // near-dups are same-hash groups, NEVER an all-pairs image comparison.
    // The oracle replays the pixel formula through the identical sample →
    // threshold → pack pipeline, so every hash is hash-checked; a match
    // proves codec round-trip + raster sampling + bit packing end-to-end.
    // At 100 TB the decode+hash is one map-side pass and the bucket join
    // shuffles 2 BIGINTs per image.
    QueryDef.sql(
      "mm08_perceptual_hash_dedup",
      """WITH imgs AS (
        |  SELECT doc_id AS media_id,
        |    CAST(n_chars % 64 + 16 AS BIGINT) AS w,
        |    CAST(n_chars % 48 + 15 AS BIGINT) AS h
        |  FROM documents WHERE doc_id % 3 = 0),
        |smp AS (
        |  SELECT i.media_id, k.k,
        |    (i.media_id * 7 + (((k.k % 8) * i.w) // 8) * 3
        |       + (((k.k // 8) * i.h) // 8) * 5) % 256 AS v
        |  FROM imgs i, UNNEST(generate_series(0, 63)) AS k(k)),
        |st AS (SELECT media_id, SUM(v) AS s FROM smp GROUP BY 1),
        |bits AS (
        |  SELECT m.media_id,
        |    CAST(SUM(CASE WHEN m.k >= 32 AND 64 * m.v > t.s
        |      THEN (CAST(1 AS BIGINT) << (m.k - 32)) ELSE 0 END) AS BIGINT) AS hash_hi,
        |    CAST(SUM(CASE WHEN m.k < 32 AND 64 * m.v > t.s
        |      THEN (CAST(1 AS BIGINT) << m.k) ELSE 0 END) AS BIGINT) AS hash_lo
        |  FROM smp m JOIN st t USING (media_id) GROUP BY 1),
        |bk AS (SELECT hash_hi, hash_lo, COUNT(*) AS bs FROM bits GROUP BY 1, 2)
        |SELECT b.media_id, b.hash_hi, b.hash_lo,
        |  CAST(bk.bs AS BIGINT) AS bucket_size, bk.bs > 1 AS near_dup
        |FROM bits b JOIN bk USING (hash_hi, hash_lo)
        |ORDER BY b.media_id""".stripMargin,
    ) { (spark, dir) =>
      import spark.implicits._
      val hashes = pngMediaTable(spark, dir).mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        rows.map { r =>
          val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(r.payload))
          val s = Array.tabulate(64) { k =>
            val x = ((k % 8) * r.width) / 8
            val y = ((k / 8) * r.height) / 8
            (img.getRGB(x, y) & 0xFF).toLong
          }
          val sum = s.sum
          var hi = 0L; var lo = 0L; var k = 0
          while (k < 64) {
            if (64L * s(k) > sum) {
              if (k < 32) lo |= 1L << k else hi |= 1L << (k - 32)
            }
            k += 1
          }
          (r.media_id, hi, lo)
        }
      }.toDF("media_id", "hash_hi", "hash_lo")
      val buckets = hashes.groupBy("hash_hi", "hash_lo")
        .agg(count(lit(1)).cast("long").as("bucket_size"))
      hashes.join(buckets, Seq("hash_hi", "hash_lo"))
        .select(col("media_id"), col("hash_hi"), col("hash_lo"),
          col("bucket_size"), (col("bucket_size") > 1L).as("near_dup"))
        .orderBy("media_id")
    },

    // ----- pp04: the mm* stages CHAINED (r14 verdict item 6) — real codec
    // decode → perceptual-hash / audio-fingerprint dedup (first-seen-wins
    // per signature bucket) → feature gate on the DECODED stats carried
    // through → sharded export, with each stage consuming the previous
    // stage's actual DataFrame and ONE chain_md5 per (kind, shard) computed
    // from the EXPORT READ-BACK — the pp03 contract proof applied to the
    // multimodal side: per-stage oracles (mm04/mm06/mm08/mm09) prove each
    // stage in isolation; this entry proves the signatures each stage hands
    // the next are byte-identical on both engines through the writer/codec
    // round trip. 100 TB shape: decode+signature is one map-side pass per
    // medium (the mm08/mm09 posture), dedup shuffles 2 BIGINTs per item on
    // the signature key, the gate is a codegen'd predicate on columns the
    // decode already produced (no second decode), and the export is a
    // partitioned write keyed by (kind, shard).
    QueryDef.sql(
      "pp04_multimodal_chain",
      s"""WITH imgs AS (
         |  SELECT doc_id AS media_id,
         |    CAST(n_chars % 64 + 16 AS BIGINT) AS w,
         |    CAST(n_chars % 48 + 15 AS BIGINT) AS h
         |  FROM documents WHERE doc_id % 3 = 0),
         |smp AS (
         |  SELECT i.media_id, k.k,
         |    (i.media_id * 7 + (((k.k % 8) * i.w) // 8) * 3
         |       + (((k.k // 8) * i.h) // 8) * 5) % 256 AS v
         |  FROM imgs i, UNNEST(generate_series(0, 63)) AS k(k)),
         |st AS (SELECT media_id, SUM(v) AS s FROM smp GROUP BY 1),
         |bits AS (
         |  SELECT m.media_id,
         |    CAST(SUM(CASE WHEN m.k >= 32 AND 64 * m.v > t.s
         |      THEN (CAST(1 AS BIGINT) << (m.k - 32)) ELSE 0 END) AS BIGINT) AS hash_hi,
         |    CAST(SUM(CASE WHEN m.k < 32 AND 64 * m.v > t.s
         |      THEN (CAST(1 AS BIGINT) << m.k) ELSE 0 END) AS BIGINT) AS hash_lo
         |  FROM smp m JOIN st t USING (media_id) GROUP BY 1),
         |ikeep AS (SELECT media_id, hash_hi, hash_lo,
         |    row_number() OVER (PARTITION BY hash_hi, hash_lo ORDER BY media_id) AS rn
         |  FROM bits),
         |igate AS (SELECT k.media_id, k.hash_hi AS sig_hi, k.hash_lo AS sig_lo
         |  FROM ikeep k JOIN st t USING (media_id)
         |  WHERE k.rn = 1 AND t.s >= 64 * $ImgGateLo AND t.s < 64 * $ImgGateHi),
         |auds AS (
         |  SELECT doc_id AS media_id, CAST(n_chars % 400 + 100 AS BIGINT) AS n
         |  FROM documents WHERE doc_id % 3 = 1),
         |smp2 AS (
         |  SELECT a.media_id, a.n, i.i,
         |    (a.media_id * 11 + i.i * 13) % 256 AS v,
         |    (i.i * 16) // a.n AS w
         |  FROM auds a, UNNEST(generate_series(0, a.n - 1)) AS i(i)),
         |win AS (SELECT media_id, n, w, SUM(v) AS sw, COUNT(*) AS lw
         |  FROM smp2 GROUP BY 1, 2, 3),
         |tot AS (SELECT media_id, SUM(sw) AS s FROM win GROUP BY 1),
         |fp AS (SELECT w.media_id,
         |    CAST(SUM(CASE WHEN w.n * w.sw > t.s * w.lw
         |      THEN (CAST(1 AS BIGINT) << CAST(w.w AS INT)) ELSE 0 END) AS BIGINT) AS fingerprint
         |  FROM win w JOIN tot t USING (media_id) GROUP BY 1),
         |akeep AS (SELECT media_id, fingerprint,
         |    row_number() OVER (PARTITION BY fingerprint ORDER BY media_id) AS rn
         |  FROM fp),
         |agate AS (SELECT k.media_id, k.fingerprint AS sig_hi, t.s AS sig_lo
         |  FROM akeep k JOIN tot t USING (media_id) JOIN auds a USING (media_id)
         |  WHERE k.rn = 1 AND t.s >= $AudGateLo * a.n AND t.s < $AudGateHi * a.n),
         |u AS (SELECT 'img' AS kind, media_id, sig_hi, sig_lo FROM igate
         |  UNION ALL SELECT 'aud', media_id, sig_hi, sig_lo FROM agate)
         |SELECT kind, CAST(media_id % 4 AS BIGINT) AS shard,
         |  CAST(COUNT(*) AS BIGINT) AS n_media,
         |  md5(string_agg(md5(kind || ':' || CAST(media_id AS VARCHAR) || ':' ||
         |    CAST(sig_hi AS VARCHAR) || ':' || CAST(sig_lo AS VARCHAR)),
         |    '' ORDER BY media_id)) AS chain_md5
         |FROM u GROUP BY 1, 2 ORDER BY kind, shard""".stripMargin,
    ) { (spark, dir) => multimodalChain(spark, dir) },

    // ----- mm09: audio-fingerprint near-dup — mm08's audio twin: decode
    // the REAL WAV with the codec, split the PCM stream into 16 windows by
    // the integer rule w = ⌊i·16 / n⌋ (the same formula on both engines, so
    // boundary samples land identically), set bit w when the window's mean
    // amplitude exceeds the overall mean (n·Σ_w > total·len_w — all-integer,
    // no double mean), and bucket-join on the 16-bit fingerprint — same-
    // fingerprint groups are the near-dups, never an all-pairs audio
    // comparison. The oracle replays the sample formula through the
    // identical window → threshold → pack pipeline, so a hash match proves
    // the container parse + PCM decode + windowing end-to-end. At 100 TB
    // the decode+fingerprint is one map-side pass; the bucket join shuffles
    // one BIGINT per clip.
    QueryDef.sql(
      "mm09_audio_fingerprint_dedup",
      """WITH auds AS (
        |  SELECT doc_id AS media_id, CAST(n_chars % 400 + 100 AS BIGINT) AS n
        |  FROM documents WHERE doc_id % 3 = 1),
        |smp AS (
        |  SELECT a.media_id, a.n, i.i,
        |    (a.media_id * 11 + i.i * 13) % 256 AS v,
        |    (i.i * 16) // a.n AS w
        |  FROM auds a, UNNEST(generate_series(0, a.n - 1)) AS i(i)),
        |win AS (SELECT media_id, n, w, SUM(v) AS sw, COUNT(*) AS lw
        |  FROM smp GROUP BY 1, 2, 3),
        |tot AS (SELECT media_id, SUM(sw) AS s FROM win GROUP BY 1),
        |fp AS (SELECT w.media_id,
        |    CAST(SUM(CASE WHEN w.n * w.sw > t.s * w.lw
        |      THEN (CAST(1 AS BIGINT) << CAST(w.w AS INT)) ELSE 0 END) AS BIGINT) AS fingerprint
        |  FROM win w JOIN tot t USING (media_id) GROUP BY 1),
        |bk AS (SELECT fingerprint, COUNT(*) AS bs FROM fp GROUP BY 1)
        |SELECT f.media_id, f.fingerprint, CAST(bk.bs AS BIGINT) AS bucket_size,
        |  bk.bs > 1 AS near_dup
        |FROM fp f JOIN bk USING (fingerprint)
        |ORDER BY f.media_id""".stripMargin,
    ) { (spark, dir) =>
      import spark.implicits._
      val fps = wavMediaTable(spark, dir).mapPartitions { rows =>
        val reader = wavReader() // per-partition SPI resolve — see decodeAudioStats
        rows.map { r =>
          val ais = reader.getAudioInputStream(
            new java.io.ByteArrayInputStream(r.payload))
          val fmt = ais.getFormat
          require(fmt.getSampleSizeInBits == 8 && fmt.getChannels == 1 &&
            fmt.getEncoding == javax.sound.sampled.AudioFormat.Encoding.PCM_UNSIGNED,
            s"unexpected decoded format for media ${r.media_id}: $fmt")
          val buf = ais.readAllBytes()
          val n = buf.length
          val sw = new Array[Long](16)
          val lw = new Array[Long](16)
          var tot = 0L
          var i = 0
          while (i < n) {
            val w = ((i.toLong * 16) / n).toInt
            val v = (buf(i) & 0xff).toLong
            sw(w) += v; lw(w) += 1; tot += v
            i += 1
          }
          var fp = 0L
          var w = 0
          while (w < 16) {
            if (n.toLong * sw(w) > tot * lw(w)) fp |= 1L << w
            w += 1
          }
          (r.media_id, fp)
        }
      }.toDF("media_id", "fingerprint")
      val buckets = fps.groupBy("fingerprint")
        .agg(count(lit(1)).cast("long").as("bucket_size"))
      fps.join(buckets, Seq("fingerprint"))
        .select(col("media_id"), col("fingerprint"), col("bucket_size"),
          (col("bucket_size") > 1L).as("near_dup"))
        .orderBy("media_id")
    },
  )
}
