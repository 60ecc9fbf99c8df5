package graft.ext

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (north-star extension): image/audio/video
  * treated as opaque `binary` columns plus typed metadata, flowing through
  * ordinary DataFrame plans (parquet stores binary natively; shuffles and
  * pushdown work unchanged).
  *
  * The IMAGE path is real end-to-end: `withSyntheticPng` encodes an actual
  * PNG per row (javax.imageio — in every JDK, no external codec needed)
  * with pixels a pure function of the row id, and `decodeImages` decodes
  * the bytes back per partition and reports dimensions + exact channel
  * sums. Because the pixel function is analytic, a SQL oracle predicts the
  * decoded stats without decoding — any codec/channel-order/roundtrip bug
  * breaks the hash match. The AUDIO path is equally real: `wavMetrics`
  * parses genuine RIFF/WAVE bytes (chunk walk, fmt/data, PCM samples) to
  * exact per-clip stats. VIDEO decodes real frames too: `sampleFramesDecoded`
  * walks a clip container and decodes genuine PNG frames, and the GIF
  * path (`withSyntheticGif` / `sampleGifFrames`) reads a real
  * JVM-standard animated container end-to-end. Only `decodeStub` remains
  * deliberately synthetic — a hash-features fake kept for the
  * expression-vs-mapPartitions cross-check contract it documents.
  */
object Multimodal {

  /** Deterministic tiny image for row `id`: width 4..8, height 3..6,
    * channel (r,g,b) at (x,y) = ((id·7+3x+5y), (id·11+13x+17y),
    * (id·19+23x+29y)) mod 256 — the analytic contract `decodeImages`'
    * oracle recomputes. PNG is lossless, so the decoded raster equals
    * this formula exactly. */
  private def synthImage(id: Long): java.awt.image.BufferedImage = {
    import java.lang.Math.floorMod
    val w = 4 + floorMod(id, 5).toInt
    val h = 3 + floorMod(id, 4).toInt
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = floorMod(id * 7 + x * 3 + y * 5, 256).toInt
        val g = floorMod(id * 11 + x * 13 + y * 17, 256).toInt
        val b = floorMod(id * 19 + x * 23 + y * 29, 256).toInt
        img.setRGB(x, y, (r << 16) | (g << 8) | b)
        x += 1
      }
      y += 1
    }
    img
  }

  /** Encode through an EXPLICIT writer over a memory-backed stream. The
    * static `ImageIO.write` convenience scans the codec service registry
    * and (by default) spools every stream through a freshly created temp
    * FILE — per image, that is two filesystem round-trips plus a registry
    * walk, which measured ~15 ms/call under 32 concurrent tasks (temp-file
    * creation serializes in the filesystem). One writer per PARTITION with
    * `MemoryCacheImageOutputStream` touches no disk and pays the registry
    * walk once. */
  private def encodePng(writer: javax.imageio.ImageWriter,
                        img: java.awt.image.BufferedImage): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    writer.setOutput(ios)
    writer.write(img)
    ios.close()
    bos.toByteArray
  }

  private def pngWriter(): javax.imageio.ImageWriter =
    javax.imageio.ImageIO.getImageWritersByFormatName("png").next()

  private def pngReader(): javax.imageio.ImageReader =
    javax.imageio.ImageIO.getImageReadersByFormatName("png").next()

  /** Attach a REAL (tiny, deterministic) PNG per row as a binary `media`
    * column + typed metadata — the image-corpus stand-in whose decode is
    * honest: the bytes are a genuine compressed image a codec must parse.
    * mapPartitions, not a per-row UDF: the encoder is JVM work with no
    * Catalyst expression form, and per-partition iteration is the shape a
    * real (Arrow-batched) media reader has — the writer (codec context)
    * lives once per partition and is disposed when the iterator drains. */
  def withSyntheticPng(df: DataFrame, idCol: String): DataFrame = {
    val enc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    df.select(col(idCol).cast("long")).as[Long](Encoders.scalaLong)
      .mapPartitions { it =>
        val writer = pngWriter()
        it.map(id => (id, encodePng(writer, synthImage(id)))) ++
          { writer.dispose(); Iterator.empty }
      }(enc)
      .toDF(idCol, "media")
      .withColumn("media_meta", struct(
        octet_length(col("media")).as("n_bytes"),
        lit("image/png").as("mime")))
  }

  case class ImageFeatures(id: Long, width: Int, height: Int,
                           r_sum: Long, g_sum: Long, b_sum: Long)

  case class ImageHash(id: Long, width: Int, height: Int, phash: Long)

  /** dHash PERCEPTUAL image hash over the decoded raster: nearest-
    * neighbor sample the image to a (hw+1)×hh luminance grid (lum =
    * r+g+b, exact integers), bit (y·hw+x) = [lum(x,y) > lum(x+1,y)] —
    * the standard gradient-sign fingerprint that survives re-encoding
    * and small resizes, packed into one long (hw·hh ≤ 60, the simhash
    * long-cap convention). The image-dedup key: equal hashes find
    * re-encoded/resized copies that byte-level dedup misses, and the
    * signature feeds the SAME banded near-dup machinery as simhash
    * (`Dedup.simhashDupPairs`) when hamming tolerance is wanted.
    * Map-only mapPartitions decode (codec context per partition);
    * downstream grouping is a plain hash shuffle on the long. */
  def perceptualHash(df: DataFrame, idCol: String,
                     hw: Int = 8, hh: Int = 7): DataFrame = {
    require(hw >= 1 && hh >= 1 && hw * hh <= 60,
      "1..60 hash bits fit the long (sign bit untouched)")
    val inEnc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    df.select(col(idCol).cast("long"), col("media"))
      .as[(Long, Array[Byte])](inEnc)
      .mapPartitions { it =>
        val reader = pngReader()
        def lum(img: java.awt.image.BufferedImage, x: Int, y: Int): Int = {
          val rgb = img.getRGB(x, y)
          ((rgb >> 16) & 0xFF) + ((rgb >> 8) & 0xFF) + (rgb & 0xFF)
        }
        val out = it.map { case (id, bytes) =>
          val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
            new java.io.ByteArrayInputStream(bytes))
          reader.setInput(iis, true, true)
          val img = try reader.read(0) finally iis.close()
          val (w, h) = (img.getWidth, img.getHeight)
          var bits = 0L
          var y = 0
          while (y < hh) {
            val sy = y * h / hh
            var x = 0
            while (x < hw) {
              if (lum(img, x * w / (hw + 1), sy) >
                  lum(img, (x + 1) * w / (hw + 1), sy))
                bits |= 1L << (y * hw + x)
              x += 1
            }
            y += 1
          }
          ImageHash(id, w, h, bits)
        }
        out ++ { reader.dispose(); Iterator.empty }
      }(Encoders.product[ImageHash])
      .toDF(idCol, "width", "height", "phash")
  }

  /** REAL image decode, partition-batched: javax.imageio parses each
    * row's PNG bytes and the decoded raster reduces to dimensions + exact
    * per-channel pixel sums (integers — no FP accumulation to round).
    * The codec context lives once per partition (the mapPartitions
    * contract a Pandas-UDF/Arrow decoder would have); swapping in a JPEG/
    * audio codec changes only the loop body. Channel sums, not means:
    * exact integers hash identically on any engine. */
  def decodeImages(df: DataFrame, idCol: String): DataFrame = {
    val inEnc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    df.select(col(idCol).cast("long"), col("media"))
      .as[(Long, Array[Byte])](inEnc)
      .mapPartitions { it =>
        // One reader per partition over memory-backed streams — the same
        // temp-file/registry cost the encoder side documents (encodePng).
        val reader = pngReader()
        val out = it.map { case (id, bytes) =>
          val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
            new java.io.ByteArrayInputStream(bytes))
          reader.setInput(iis, true, true)
          val img = try reader.read(0) finally iis.close()
          require(img != null, s"row $id: media bytes are not a decodable image")
          var (rs, gs, bs) = (0L, 0L, 0L)
          var y = 0
          while (y < img.getHeight) {
            var x = 0
            while (x < img.getWidth) {
              val rgb = img.getRGB(x, y)
              rs += (rgb >> 16) & 0xFF
              gs += (rgb >> 8) & 0xFF
              bs += rgb & 0xFF
              x += 1
            }
            y += 1
          }
          ImageFeatures(id, img.getWidth, img.getHeight, rs, gs, bs)
        }
        out ++ { reader.dispose(); Iterator.empty }
      }(Encoders.product[ImageFeatures])
      .toDF(idCol, "width", "height", "r_sum", "g_sum", "b_sum")
  }

  /** Deterministic PCM clip for row `id`: n = 64 + (id mod 64) samples of
    * little-endian int16 forming the exact ramp 0, 1, …, n−1. Because the
    * samples are an analytic function of n, every decoded feature has a
    * CLOSED FORM the SQL oracle computes without touching bytes —
    * Σs² = (n−1)n(2n−1)/6, peak = n−1 — so an endianness, sample-width,
    * or offset bug in the decoder breaks the hash match. */
  private def synthPcm(id: Long): Array[Byte] = {
    val n = 64 + java.lang.Math.floorMod(id, 64).toInt
    val bb = java.nio.ByteBuffer.allocate(n * 2)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var i = 0
    while (i < n) { bb.putShort(i.toShort); i += 1 }
    bb.array()
  }

  /** Attach a real (raw PCM s16le) audio clip per row — the audio-corpus
    * stand-in whose decode is honest byte parsing. Same mapPartitions
    * shape as the PNG path; PCM needs no codec context, but the batch
    * iteration contract (one pass per partition, decoder-state-ready) is
    * kept so a compressed codec drops in without a plan change. */
  def withSyntheticPcm(df: DataFrame, idCol: String,
                       sampleRate: Int = 16000): DataFrame = {
    val enc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    df.select(col(idCol).cast("long")).as[Long](Encoders.scalaLong)
      .mapPartitions(it => it.map(id => (id, synthPcm(id))))(enc)
      .toDF(idCol, "media")
      .withColumn("media_meta", struct(
        octet_length(col("media")).as("n_bytes"),
        lit("audio/pcm;s16le").as("mime"),
        lit(sampleRate).as("sample_rate")))
  }

  case class AudioFeatures(id: Long, n_samples: Int, sum_sq: Long, peak: Int)

  /** REAL audio decode, partition-batched: parse each row's s16le bytes
    * and reduce to exact INTEGER features (sample count, Σs², peak
    * magnitude) — like `decodeImages`' channel sums, integers hash
    * identically on any engine; derived float metrics (duration, RMS)
    * are column expressions on top (`audioMetrics`), where the repo's
    * round-parity conventions apply. */
  def decodeAudio(df: DataFrame, idCol: String): DataFrame = {
    val inEnc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    df.select(col(idCol).cast("long"), col("media"))
      .as[(Long, Array[Byte])](inEnc)
      .mapPartitions { it =>
        it.map { case (id, bytes) =>
          require(bytes.length % 2 == 0,
            s"row $id: odd byte count ${bytes.length} is not s16le PCM")
          val sb = java.nio.ByteBuffer.wrap(bytes)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN).asShortBuffer()
          val n = sb.remaining()
          var (ss, pk) = (0L, 0)
          var i = 0
          while (i < n) {
            val s = sb.get(i).toInt
            ss += s.toLong * s
            val a = math.abs(s)
            if (a > pk) pk = a
            i += 1
          }
          AudioFeatures(id, n, ss, pk)
        }
      }(Encoders.product[AudioFeatures])
      .toDF(idCol, "n_samples", "sum_sq", "peak")
  }

  /** Derived audio metrics over `decodeAudio`'s exact integers: duration
    * and RMS as 6dp-rounded column expressions (one IEEE tree each —
    * cross-engine round parity, per the repo convention). */
  def audioMetrics(decoded: DataFrame, sampleRate: Int = 16000): DataFrame =
    decoded
      .withColumn("duration_s",
        round(col("n_samples").cast("double") / sampleRate, 6))
      .withColumn("rms",
        round(sqrt(col("sum_sq").cast("double") / col("n_samples")), 6))

  /** Deterministic RIFF/WAVE container for row `id` — a REAL wav file,
    * not bare samples: RIFF header, canonical 16-byte fmt chunk, an
    * ODD-sized JUNK chunk between fmt and data (so a parser must walk
    * chunks and honor RIFF's even-byte padding rule — the 44-byte
    * fixed-offset shortcut reads garbage), then interleaved s16le
    * frames. Every field is an analytic function of `id`:
    * frames n = 64 + (id mod 64), channels c = 1 + (id mod 2),
    * sample rate = 8000 + 4000·(id mod 3), and frame i of channel ch
    * carries sample i + ch — so per-channel Σs² and peak have closed
    * forms (Σ_{i=0}^{n−1} (i+ch)² = S(n−1+ch) − S(ch−1) with
    * S(m) = m(m+1)(2m+1)/6) the SQL oracle computes without touching
    * bytes. A header-offset, channel-deinterleave, endianness, or
    * pad-rule bug breaks the hash match. */
  private def synthWav(id: Long): Array[Byte] = {
    val n = 64 + java.lang.Math.floorMod(id, 64).toInt
    val c = 1 + java.lang.Math.floorMod(id, 2).toInt
    val sr = 8000 + 4000 * java.lang.Math.floorMod(id, 3).toInt
    val dataLen = n * c * 2
    val junkBody = "graft".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val junkChunk = 8 + junkBody.length + (junkBody.length % 2)
    val riffSize = 4 + (8 + 16) + junkChunk + (8 + dataLen)
    val bb = java.nio.ByteBuffer.allocate(8 + riffSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes).putInt(riffSize).put("WAVE".getBytes)
    bb.put("fmt ".getBytes).putInt(16)
      .putShort(1.toShort).putShort(c.toShort).putInt(sr)
      .putInt(sr * c * 2).putShort((c * 2).toShort).putShort(16.toShort)
    bb.put("JUNK".getBytes).putInt(junkBody.length).put(junkBody).put(0.toByte)
    bb.put("data".getBytes).putInt(dataLen)
    var i = 0
    while (i < n) {
      var ch = 0
      while (ch < c) { bb.putShort((i + ch).toShort); ch += 1 }
      i += 1
    }
    bb.array()
  }

  /** Attach a real RIFF/WAVE clip per row (see [[synthWav]]) — the
    * audio-corpus stand-in whose decode exercises a genuine container
    * parser, the way `withSyntheticPng` does for images. */
  def withSyntheticWav(df: DataFrame, idCol: String): DataFrame = {
    val enc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    df.select(col(idCol).cast("long")).as[Long](Encoders.scalaLong)
      .mapPartitions(it => it.map(id => (id, synthWav(id))))(enc)
      .toDF(idCol, "media")
      .withColumn("media_meta", struct(
        octet_length(col("media")).as("n_bytes"),
        lit("audio/wav;pcm_s16le").as("mime")))
  }

  case class WavChannelStats(id: Long, channels: Int, sample_rate: Int,
                             channel: Int, n_frames: Long, sum_sq: Long,
                             peak: Int)

  /** REAL WAV decode via the JDK's own codec, partition-batched:
    * `javax.sound.sampled.AudioSystem` parses each row's RIFF bytes
    * (chunk walk, fmt negotiation, pad rule — the whole container
    * format, not a fixed offset), the stream deinterleaves to
    * per-channel exact integers (frame count, Σs², peak magnitude),
    * and one row per (id, channel) comes back — integers hash
    * identically on any engine; derived float metrics close over them
    * in [[wavMetrics]]. Retires the stubbed audio tier: like the
    * imageio PNG path, the bytes go through a genuine third-party
    * decoder the synthesis code shares nothing with. */
  def decodeWav(df: DataFrame, idCol: String): DataFrame = {
    val inEnc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    df.select(col(idCol).cast("long"), col("media"))
      .as[(Long, Array[Byte])](inEnc)
      .mapPartitions { it =>
        it.flatMap { case (id, bytes) =>
          val ais = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(bytes))
          val f = ais.getFormat
          require(f.getEncoding ==
            javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
            f.getSampleSizeInBits == 16 && !f.isBigEndian,
            s"row $id: expected s16le PCM wav, got $f")
          val c = f.getChannels
          val pcm = try ais.readAllBytes() finally ais.close()
          val sb = java.nio.ByteBuffer.wrap(pcm)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN).asShortBuffer()
          val nFrames = sb.remaining() / c
          val ssq = new Array[Long](c)
          val pk = new Array[Int](c)
          var i = 0
          while (i < nFrames) {
            var ch = 0
            while (ch < c) {
              val s = sb.get(i * c + ch).toInt
              ssq(ch) += s.toLong * s
              val a = math.abs(s)
              if (a > pk(ch)) pk(ch) = a
              ch += 1
            }
            i += 1
          }
          (0 until c).iterator.map(ch =>
            WavChannelStats(id, c, f.getSampleRate.toInt, ch,
              nFrames.toLong, ssq(ch), pk(ch)))
        }
      }(Encoders.product[WavChannelStats])
      .toDF(idCol, "channels", "sample_rate", "channel", "n_frames",
        "sum_sq", "peak")
  }

  /** Duration/RMS over [[decodeWav]]'s exact integers, with the sample
    * rate read FROM the container (not assumed) — one rounded IEEE
    * tree each, the repo's cross-engine round-parity convention. */
  def wavMetrics(decoded: DataFrame): DataFrame =
    decoded
      .withColumn("duration_s",
        round(col("n_frames").cast("double") / col("sample_rate"), 6))
      .withColumn("rms",
        round(sqrt(col("sum_sq").cast("double") / col("n_frames")), 6))

  /** Deterministic palette frame for clip seed `seed` at a FIXED clip
    * size: the standard analytic channel formula rendered as a
    * TYPE_BYTE_INDEXED raster whose IndexColorModel holds EXACTLY the
    * frame's distinct colors (≤ w·h ≤ 48 « 256) — so the GIF encode is
    * LOSSLESS by construction (no quantizer ever runs) and the oracle's
    * pixel formula predicts the decoded raster bit-for-bit. */
  private def synthFrame(seed: Long, w: Int, h: Int): java.awt.image.BufferedImage = {
    import java.lang.Math.floorMod
    val rgb = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val r = floorMod(seed * 7 + x * 3 + y * 5, 256).toInt
        val g = floorMod(seed * 11 + x * 13 + y * 17, 256).toInt
        val b = floorMod(seed * 19 + x * 23 + y * 29, 256).toInt
        rgb(y * w + x) = (r << 16) | (g << 8) | b
        x += 1
      }
      y += 1
    }
    val palette = rgb.distinct
    val icm = new java.awt.image.IndexColorModel(8, palette.length,
      palette.map(0xFF000000 | _), 0, false, -1,
      java.awt.image.DataBuffer.TYPE_BYTE)
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, icm)
    val idx = new Array[Byte](w * h)
    var i = 0
    while (i < rgb.length) { idx(i) = palette.indexOf(rgb(i)).toByte; i += 1 }
    img.getRaster.setDataElements(0, 0, w, h, idx)
    img
  }

  /** Deterministic REAL video clip for row `id`: an ANIMATED GIF
    * (GIF89a, the JVM-standard multi-frame container javax.imageio
    * writes and reads with no external codec) of 2 + (id mod 3) frames
    * at the clip-wide size w = 4 + id mod 5, h = 5 + id mod 4, frame f
    * carrying the analytic raster seeded id·31 + f. Height floor is 5,
    * NOT the PNG path's 3: the JDK's GIF codec row-shifts any frame
    * shorter than 5 rows (verified empirically — h<5 round-trips drop
    * the last row and insert a palette[0] fill row; h>=5 is exact over
    * 500-clip sweeps), so the size formula stays out of the broken
    * regime. Frames are indexed
    * with exact per-frame palettes (see [[synthFrame]]), so the encode
    * is lossless and every sampled frame's stats have the closed form
    * the SQL oracle computes without touching bytes. Replaces the
    * earlier invented `video/x-graft-frames` layout — the container a
    * sampler must now walk is a real interchange format (logical
    * screen descriptor, per-frame image descriptors + local color
    * tables, LZW-compressed rasters). */
  private def synthGif(writer: javax.imageio.ImageWriter, id: Long): Array[Byte] = {
    import java.lang.Math.floorMod
    val nFrames = 2 + floorMod(id, 3).toInt
    val w = 4 + floorMod(id, 5).toInt
    val h = 5 + floorMod(id, 4).toInt
    val bos = new java.io.ByteArrayOutputStream()
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(bos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    var f = 0
    while (f < nFrames) {
      writer.writeToSequence(
        new javax.imageio.IIOImage(synthFrame(id * 31 + f, w, h), null, null),
        null)
      f += 1
    }
    writer.endWriteSequence()
    ios.close()
    bos.toByteArray
  }

  private def gifWriter(): javax.imageio.ImageWriter =
    javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()

  private def gifReader(): javax.imageio.ImageReader =
    javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()

  /** Attach a real animated-GIF clip per row (see [[synthGif]]). Same
    * per-partition writer contract as the PNG path. */
  def withSyntheticGif(df: DataFrame, idCol: String): DataFrame = {
    val enc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    df.select(col(idCol).cast("long")).as[Long](Encoders.scalaLong)
      .mapPartitions { it =>
        val writer = gifWriter()
        it.map(id => (id, synthGif(writer, id))) ++
          { writer.dispose(); Iterator.empty }
      }(enc)
      .toDF(idCol, "media")
      .withColumn("media_meta", struct(
        octet_length(col("media")).as("n_bytes"),
        lit("image/gif").as("mime")))
  }

  case class FrameFeatures(id: Long, frame_idx: Int, width: Int, height: Int,
                           r_sum: Long, g_sum: Long, b_sum: Long)

  /** REAL frame sampling over a real container: javax.imageio's GIF
    * reader parses each row's animated-GIF bytes (logical screen, frame
    * directory, LZW), decodes every `every`-th frame, and emits that
    * frame's exact stats — the video analogue of `decodeImages`,
    * exploding one row per SAMPLED frame. Unsampled frames are never
    * DECODED (no LZW expansion, no raster) — the reader still indexes
    * their directory entries, which is what any container format
    * charges for a frame seek. One reader per partition. */
  def sampleFramesDecoded(df: DataFrame, idCol: String, every: Int): DataFrame = {
    require(every >= 1, "need every >= 1")
    val inEnc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    df.select(col(idCol).cast("long"), col("media"))
      .as[(Long, Array[Byte])](inEnc)
      .mapPartitions { it =>
        val reader = gifReader()
        val out = it.flatMap { case (id, bytes) =>
          val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
            new java.io.ByteArrayInputStream(bytes))
          // seekForwardOnly = false: getNumImages(allowSearch = true)
          // walks the frame directory before any decode.
          reader.setInput(iis, false, true)
          val nFrames = reader.getNumImages(true)
          val rows = (0 until nFrames).flatMap { f =>
            if (f % every != 0) None
            else {
              val img = reader.read(f)
              var (rs, gs, bs) = (0L, 0L, 0L)
              var y = 0
              while (y < img.getHeight) {
                var x = 0
                while (x < img.getWidth) {
                  val rgb = img.getRGB(x, y)
                  rs += (rgb >> 16) & 0xFF; gs += (rgb >> 8) & 0xFF; bs += rgb & 0xFF
                  x += 1
                }
                y += 1
              }
              Some(FrameFeatures(id, f, img.getWidth, img.getHeight, rs, gs, bs))
            }
          }
          iis.close()
          rows
        }
        out ++ { reader.dispose(); Iterator.empty }
      }(Encoders.product[FrameFeatures])
      .toDF(idCol, "frame_idx", "width", "height", "r_sum", "g_sum", "b_sum")
  }

  /** Attach a binary media column + metadata struct to a text row —
    * stand-in for reading (path, bytes, metadata) from an object store. */
  def withFakeMedia(df: DataFrame, textCol: String): DataFrame = df
    .withColumn("media", encode(col(textCol), "UTF-8"))
    .withColumn("media_meta", struct(
      octet_length(col("media")).as("n_bytes"),
      lit("application/octet-stream").as("mime")))

  /** STUB decode: deterministic per-row features standing in for a real
    * image/audio decoder. A production build swaps the body for a
    * mapPartitions/Arrow batch decode; the schema and call shape stay. */
  def decodeStub(media: Column): Column = struct(
    octet_length(media).as("n_bytes"),
    md5(media.cast("string")).as("content_sig"),
    (octet_length(media) % 64).as("fake_width"),
    (octet_length(media) % 48).as("fake_height"))

  /** Frame sampling: one output row per sampled frame index — the video
    * path's explode. Frame count is derived deterministically from the
    * (fake) byte length; a real decoder would read container metadata. */
  def sampleFrames(df: DataFrame, idCol: String, every: Int): DataFrame = {
    val nFrames = floor(octet_length(col("media")) / every).cast("long")
    df.withColumn("frame_idx",
        explode(sequence(lit(0), greatest(nFrames - 1, lit(0)))))
      .select(col(idCol), col("frame_idx"),
        decodeStub(col("media")).getField("content_sig").as("frame_sig"))
  }

  case class MediaFeatures(id: Long, n_bytes: Int, content_sig: String)

  /** Partition-batched decode — the Scala analogue of an Arrow/Pandas-UDF
    * batch decoder: one iterator pass per partition with decoder state
    * (here a MessageDigest standing in for a codec context) initialized
    * once per PARTITION, not per row. The row contract (schema, batch
    * shape, partition distribution) is the real engineering; swap the loop
    * body for an actual image/audio codec when one is available. Features
    * are deterministic so the expression-based `decodeStub` cross-checks it.
    */
  def decodePartitioned(df: DataFrame, idCol: String): DataFrame = {
    val inEnc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    df.select(col(idCol).cast("long"), col("media"))
      .as[(Long, Array[Byte])](inEnc)
      .mapPartitions { it =>
        val md = java.security.MessageDigest.getInstance("MD5")
        it.map { case (id, bytes) =>
          md.reset()
          val sig = md.digest(bytes).map("%02x".format(_)).mkString
          MediaFeatures(id, bytes.length, sig)
        }
      }(Encoders.product[MediaFeatures])
      .toDF(idCol, "n_bytes", "content_sig")
  }

  /** REAL image resize, partition-batched: decode each row's PNG and
    * resample to `outW`×`outH` by NEAREST NEIGHBOR — output pixel (x, y)
    * reads input pixel (⌊x·wᵢ/wₒ⌋, ⌊y·hᵢ/hₒ⌋) — then reduce the resized
    * raster to exact channel sums. Nearest neighbor (not bilinear) is
    * deliberate: every output pixel is an EXACT copy of one input pixel,
    * so the resized stats stay integer-exact, closed-form, and
    * engine-independent — the oracle recomputes them from the pixel
    * formula + the index mapping, and any interpolation/rounding
    * disagreement a float resampler would smuggle in cannot exist. */
  def resizeImages(df: DataFrame, idCol: String, outW: Int, outH: Int): DataFrame = {
    require(outW >= 1 && outH >= 1, "target dimensions must be >= 1")
    val inEnc = Encoders.tuple(Encoders.scalaLong, Encoders.BINARY)
    df.select(col(idCol).cast("long"), col("media"))
      .as[(Long, Array[Byte])](inEnc)
      .mapPartitions { it =>
        val reader = pngReader()
        val out = it.map { case (id, bytes) =>
          val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
            new java.io.ByteArrayInputStream(bytes))
          reader.setInput(iis, true, true)
          val img = try reader.read(0) finally iis.close()
          var (rs, gs, bs) = (0L, 0L, 0L)
          var y = 0
          while (y < outH) {
            val sy = y * img.getHeight / outH
            var x = 0
            while (x < outW) {
              val rgb = img.getRGB(x * img.getWidth / outW, sy)
              rs += (rgb >> 16) & 0xFF; gs += (rgb >> 8) & 0xFF; bs += rgb & 0xFF
              x += 1
            }
            y += 1
          }
          ImageFeatures(id, outW, outH, rs, gs, bs)
        }
        out ++ { reader.dispose(); Iterator.empty }
      }(Encoders.product[ImageFeatures])
      .toDF(idCol, "width", "height", "r_sum", "g_sum", "b_sum")
  }
}
