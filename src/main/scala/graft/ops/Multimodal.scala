package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (SURVEY.md §2.11): media as opaque binary
  * columns with typed metadata, batch-shaped decode/feature extraction
  * via mapPartitions.
  *
  * Image decode is REAL: [[decodeImages]] runs `javax.imageio` (JDK —
  * public classpath) PNG decode inside the batched partition shape, and
  * [[synthesizePngs]] builds deterministic grayscale PNGs to feed it.
  * The generic byte-histogram [[decodeStub]] remains as the documented
  * stand-in for codecs that are NOT on this classpath (audio/video);
  * everything around it is the real engine surface: schema, encoders,
  * partition-batched iteration (the JVM twin of a mapInPandas-style
  * batched UDF), and the columnar contract a decoder slots into.
  */
object Multimodal {

  /** Run a per-partition codec's dispose when its task completes — also
    * when a downstream `limit` stops the partition iterator early.
    */
  private def disposeAtTaskEnd(dispose: () => Unit): Unit =
    org.apache.spark.TaskContext.get().addTaskCompletionListener[Unit](_ => dispose())

  val FeatDim = 16
  val BatchSize = 256

  /** Attach the media binary + typed metadata to a text corpus: the blob
    * is the UTF-8 encoding of the text (deterministic fake media), the
    * metadata struct is what a real ingest would carry.
    */
  def withBlob(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol),
      col(textCol).cast("binary").as("media"),
      struct(
        lit("application/octet-stream").as("mime"),
        length(col(textCol)).as("n_bytes"),
        (col(idCol) % 3).cast("int").as("channel")).as("media_meta"))

  /** STUBBED decoder: a real implementation would decode image/audio
    * frames here; this deterministic stand-in histograms bytes into
    * FeatDim bins and L1-normalizes, so the batch plumbing and output
    * schema are fully exercised and testable.
    */
  def decodeStub(bytes: Array[Byte]): Array[Float] = {
    val bins = new Array[Float](FeatDim)
    var i = 0
    while (i < bytes.length) {
      bins((bytes(i) & 0xff) % FeatDim) += 1f
      i += 1
    }
    if (bytes.length > 0) {
      var j = 0
      while (j < FeatDim) { bins(j) /= bytes.length; j += 1 }
    }
    bins
  }

  /** Per-document features through partition-batched decode. The
    * iterator is consumed in BatchSize groups — the same batch shape a
    * vectorized (Arrow/pandas-style) UDF would see — so a real decoder
    * can amortize model/codec setup per batch.
    */
  def features(spark: SparkSession, media: DataFrame, idCol: String): DataFrame = {
    import spark.implicits._
    // null media rows are dropped up front (a real ingest quarantines
    // them); without this every map below NPEs and kills the stage
    val ds: Dataset[(Long, Array[Byte])] =
      media.filter(col("media").isNotNull)
        .select(col(idCol).cast("long"), col("media")).as[(Long, Array[Byte])]
    ds.mapPartitions { rows =>
      rows.grouped(BatchSize).flatMap { batch =>
        // per-batch setup would go here (decoder init, model session…)
        batch.iterator.map { case (id, bytes) =>
          (id, bytes.length, decodeStub(bytes))
        }
      }
    }.toDF(idCol, "n_bytes", "features")
  }

  /** Deterministic grayscale test image: width 1 + id % 8, height
    * 1 + id % 5, pixel (x, y) = (id·31 + y·w + x) mod 256 — every
    * decoded property is recomputable from id alone, so a SQL oracle can
    * certify a REAL codec roundtrip.
    */
  def synthPng(id: Long): Array[Byte] = {
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
    try synthPngWith(id, writer) finally writer.dispose()
  }

  /** Encode one deterministic PNG through a CALLER-owned writer —
    * resolve the ImageIO SPI once per partition, not per row (the
    * [[synthGifWith]] / AudioSystem amortization: `ImageIO.write`'s
    * convenience path re-runs the registry lookup and stream-cache
    * plumbing per call, which serializes on JDK-wide registry state
    * under 32 concurrent tasks).
    */
  private def synthPngWith(id: Long, writer: javax.imageio.ImageWriter): Array[Byte] = {
    // in-memory streams only: ImageIO's default disk-backed stream cache
    // costs a temp file per encode/decode call
    javax.imageio.ImageIO.setUseCache(false)
    val w = (1 + id % 8).toInt
    val h = (1 + id % 5).toInt
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    val raster = img.getRaster
    var yy = 0
    while (yy < h) {
      var xx = 0
      while (xx < w) {
        raster.setSample(xx, yy, 0, ((id * 31 + yy * w + xx) % 256).toInt)
        xx += 1
      }
      yy += 1
    }
    val baos = new java.io.ByteArrayOutputStream(256)
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(baos)
    try {
      writer.setOutput(ios)
      writer.write(img)
    } finally {
      writer.setOutput(null)
      ios.close()
    }
    baos.toByteArray
  }

  /** (id) → (id, media = encoded PNG bytes): the deterministic ingest
    * side of the real-decode contract. Scan-side, no shuffle; one
    * SPI-resolved writer per partition (see [[synthPngWith]]).
    */
  def synthesizePngs(spark: SparkSession, docs: DataFrame, idCol: String): DataFrame = {
    import spark.implicits._
    docs.select(col(idCol).cast("long")).as[Long]
      .mapPartitions { it =>
        val writer = javax.imageio.ImageIO.getImageWritersByFormatName("png").next()
        disposeAtTaskEnd(() => writer.dispose())
        it.grouped(BatchSize).flatMap(_.iterator.map(id => (id, synthPngWith(id, writer))))
      }
      .toDF(idCol, "media")
  }

  /** REAL image decode through the batched partition shape: javax.imageio
    * PNG decode per blob, emitting (id, img_w, img_h, px_sum) where
    * px_sum totals the decoded gray samples. PNG is lossless, so for
    * synthesized media every output is pure arithmetic an oracle replays.
    * Same cost model as a production decoder: narrow map, decode before
    * any wide operator — and the codec IS amortized per partition: one
    * ImageReader instance reused for every blob (the `ImageIO.read`
    * convenience path re-runs reader lookup and a disk-backed stream
    * cache per call, which measured 10× slower at 50k images).
    */
  /** Perceptual average-hash (aHash, public technique) from a REAL
    * image decode: bit i of the 64-bit signature is set iff gray
    * sample i (row-major) exceeds the image's mean gray — the
    * brightness-pattern fingerprint image dedup pipelines bucket on.
    * Same batched-partition codec shape as [[decodeImages]] (one
    * reader per partition). Images wider than 64 samples would
    * normally be resampled to 8×8 first; the synthetic corpus's frames
    * are ≤ 64 samples, so the hash covers every sample directly and
    * stays pure arithmetic an oracle replays.
    */
  def imagePhash(spark: SparkSession, media: DataFrame, idCol: String): DataFrame = {
    import spark.implicits._
    val ds: Dataset[(Long, Array[Byte])] =
      media.filter(col("media").isNotNull)
        .select(col(idCol).cast("long"), col("media")).as[(Long, Array[Byte])]
    ds.mapPartitions { rows =>
      val reader = javax.imageio.ImageIO.getImageReadersByFormatName("png").next()
      disposeAtTaskEnd(() => reader.dispose())
      rows.grouped(BatchSize).flatMap { batch =>
        batch.iterator.map { case (id, bytes) =>
          val stream = new javax.imageio.stream.MemoryCacheImageInputStream(
            new java.io.ByteArrayInputStream(bytes))
          val img =
            try { reader.setInput(stream); reader.read(0) }
            finally stream.close()
          require(img != null, s"undecodable image for id $id")
          val raster = img.getRaster
          val (w, h) = (img.getWidth, img.getHeight)
          val n = math.min(w * h, 64)
          val px = new Array[Int](n)
          var sum = 0L
          var i = 0
          while (i < n) {
            px(i) = raster.getSample(i % w, i / w, 0)
            sum += px(i)
            i += 1
          }
          val mean = sum.toDouble / n
          var hash = 0L
          i = 0
          while (i < n) {
            if (px(i) > mean) hash |= (1L << i)
            i += 1
          }
          (id, hash)
        }
      }
    }.toDF(idCol, "phash")
  }

  def decodeImages(spark: SparkSession, media: DataFrame, idCol: String): DataFrame = {
    import spark.implicits._
    val ds: Dataset[(Long, Array[Byte])] =
      media.filter(col("media").isNotNull)
        .select(col(idCol).cast("long"), col("media")).as[(Long, Array[Byte])]
    ds.mapPartitions { rows =>
      val reader = javax.imageio.ImageIO.getImageReadersByFormatName("png").next()
      disposeAtTaskEnd(() => reader.dispose())
      rows.grouped(BatchSize).flatMap { batch =>
        batch.iterator.map { case (id, bytes) =>
          val stream = new javax.imageio.stream.MemoryCacheImageInputStream(
            new java.io.ByteArrayInputStream(bytes))
          val img =
            try { reader.setInput(stream); reader.read(0) }
            finally stream.close()
          require(img != null, s"undecodable image for id $id")
          val raster = img.getRaster
          val (w, h) = (img.getWidth, img.getHeight)
          var sum = 0L
          var yy = 0
          while (yy < h) {
            var xx = 0
            while (xx < w) { sum += raster.getSample(xx, yy, 0); xx += 1 }
            yy += 1
          }
          (id, w, h, sum)
        }
      }
    }.toDF(idCol, "img_w", "img_h", "px_sum")
  }

  /** Deterministic multi-frame test video: a 2 + id % 3 frame animated
    * GIF (the one multi-frame container the JDK encodes/decodes without
    * external codecs), frame size (1 + id % 6) × (1 + id % 4), pixel
    * (f, x, y) = (id·31 + f·97 + y·w + x) mod 256 as a 256-gray indexed
    * palette. GIF's LZW is lossless over indexed data and palettes are
    * stored exactly, so every decoded frame property is pure arithmetic
    * an oracle replays — the real-codec contract of [[synthPng]],
    * extended to the frame-sampling shape.
    */
  def synthGif(id: Long): Array[Byte] = {
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    try synthGifWith(id, writer) finally writer.dispose()
  }

  private val gifGrayModel: java.awt.image.IndexColorModel = {
    val gray = new Array[Byte](256 * 3)
    var i = 0
    while (i < 256) {
      gray(3 * i) = i.toByte; gray(3 * i + 1) = i.toByte; gray(3 * i + 2) = i.toByte
      i += 1
    }
    new java.awt.image.IndexColorModel(8, 256, gray, 0, false)
  }

  /** Encode one animation through a caller-owned writer so partitions
    * resolve the ImageIO SPI ONCE, not per row — the same amortization
    * that fixed the 18.9× mm_audio scaling (AudioSystem's provider cache
    * serializes on a JDK-wide lock under 32 threads; ImageIO's registry
    * costs the same shape).
    */
  private def synthGifWith(id: Long, writer: javax.imageio.ImageWriter): Array[Byte] = {
    javax.imageio.ImageIO.setUseCache(false)
    val frames = (2 + id % 3).toInt
    val w = (1 + id % 6).toInt
    val h = (1 + id % 4).toInt
    val baos = new java.io.ByteArrayOutputStream(512)
    val ios = new javax.imageio.stream.MemoryCacheImageOutputStream(baos)
    // the JDK GIF writer interlaces by default and writes corrupt row
    // data for small frames (rows land at interlace positions with the
    // tail truncated) — force sequential scan order
    val param = writer.getDefaultWriteParam
    param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DISABLED)
    try {
      writer.setOutput(ios)
      writer.prepareWriteSequence(null)
      var f = 0
      while (f < frames) {
        val img = new java.awt.image.BufferedImage(w, h,
          java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, gifGrayModel)
        val raster = img.getRaster
        var yy = 0
        while (yy < h) {
          var xx = 0
          while (xx < w) {
            raster.setSample(xx, yy, 0, ((id * 31 + f * 97 + yy * w + xx) % 256).toInt)
            xx += 1
          }
          yy += 1
        }
        writer.writeToSequence(new javax.imageio.IIOImage(img, null, null), param)
        f += 1
      }
      writer.endWriteSequence()
    } finally ios.close()
    baos.toByteArray
  }

  /** (id) → (id, media = animated GIF bytes). Scan-side, no shuffle;
    * one SPI-resolved writer per partition (see [[synthGifWith]]).
    */
  def synthesizeGifs(spark: SparkSession, docs: DataFrame, idCol: String): DataFrame = {
    import spark.implicits._
    docs.select(col(idCol).cast("long")).as[Long]
      .mapPartitions { it =>
        val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
        disposeAtTaskEnd(() => writer.dispose())
        it.grouped(BatchSize).flatMap(_.iterator.map(id => (id, synthGifWith(id, writer))))
      }
      .toDF(idCol, "media")
  }

  /** REAL video-frame sampling: decode every `stride`-th frame of each
    * multi-frame GIF through one per-partition ImageReader (same SPI
    * amortization as [[decodeImages]]), emitting
    * (id, frame_idx, frame_w, frame_h, px_sum). Gray values are read
    * back through the reconstructed palette color (getRGB & 0xFF) so the
    * roundtrip is exact even if the encoder permutes palette indices.
    * flatMap explode at the scan — frames fan out before any wide
    * operator, the production frame-sampling shape with a real codec.
    */
  def decodeFrames(spark: SparkSession, media: DataFrame, idCol: String,
                   stride: Int = 2): DataFrame = {
    import spark.implicits._
    val ds: Dataset[(Long, Array[Byte])] =
      media.filter(col("media").isNotNull)
        .select(col(idCol).cast("long"), col("media")).as[(Long, Array[Byte])]
    ds.mapPartitions { rows =>
      val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
      disposeAtTaskEnd(() => reader.dispose())
      rows.grouped(BatchSize).flatMap { batch =>
        batch.iterator.flatMap { case (id, bytes) =>
          val stream = new javax.imageio.stream.MemoryCacheImageInputStream(
            new java.io.ByteArrayInputStream(bytes))
          try {
            reader.setInput(stream)
            val n = reader.getNumImages(true)
            (0 until n by stride).map { f =>
              val img = reader.read(f)
              val (w, h) = (img.getWidth, img.getHeight)
              var sum = 0L
              var yy = 0
              while (yy < h) {
                var xx = 0
                while (xx < w) { sum += (img.getRGB(xx, yy) & 0xff); xx += 1 }
                yy += 1
              }
              (id, f, w, h, sum)
            }.toVector
          } finally stream.close()
        }
      }
    }.toDF(idCol, "frame_idx", "frame_w", "frame_h", "px_sum")
  }

  /** Deterministic test audio: 16-bit mono PCM at 8 kHz, 16 + id % 32
    * samples, sample(i) = ((id·131 + i·17) mod 65536) − 32768 — every
    * decoded property is recomputable from id alone (WAV PCM is
    * lossless), so a SQL oracle can certify a REAL codec roundtrip,
    * exactly like [[synthPng]] does for images.
    */
  // The AudioSystem facade resolves its SPI providers through a
  // JDK-wide synchronized cache on EVERY call — 32 executor threads
  // serialize on that lock (measured 19× on 10× clips before this).
  // Resolving the WAV reader/writer once per partition through the
  // public ServiceLoader SPI keeps the decode embarrassingly parallel,
  // exactly like decodeImages' reused ImageReader.
  private def wavWriter(): javax.sound.sampled.spi.AudioFileWriter = {
    val it = java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileWriter]).iterator()
    while (it.hasNext) {
      val w = it.next()
      if (w.isFileTypeSupported(javax.sound.sampled.AudioFileFormat.Type.WAVE)) return w
    }
    throw new IllegalStateException("no WAVE AudioFileWriter on this JDK")
  }

  private def wavReader(): javax.sound.sampled.spi.AudioFileReader = {
    val it = java.util.ServiceLoader.load(classOf[javax.sound.sampled.spi.AudioFileReader]).iterator()
    val probe = synthWavBytesOnly(0L)
    while (it.hasNext) {
      val r = it.next()
      try {
        r.getAudioInputStream(new java.io.ByteArrayInputStream(probe)).close()
        return r
      } catch { case _: javax.sound.sampled.UnsupportedAudioFileException => }
    }
    throw new IllegalStateException("no WAVE AudioFileReader on this JDK")
  }

  private def synthWavBytesOnly(id: Long): Array[Byte] = synthWavWith(wavWriter(), id)

  /** Per-clip synthesis seed: every 100th id clones its block's base
    * clip byte-for-byte (~1% exact-duplicate rate — the realistic
    * duplication the dedup rows should measure, replacing the r10
    * formula whose periodicity collapsed 50k clips onto 76
    * fingerprints and made the sf1 row measure output size, not the
    * operator).
    */
  private[graft] def wavEffId(id: Long): Long =
    if (id % 100 == 99) id - 99 else id

  /** ≥ 64 samples per clip, so the 64-bit fingerprint uses every bit
    * (the r10 ≤47-sample clips left bits 47–63 identically zero).
    */
  private[graft] def wavNumSamples(id: Long): Int =
    (64 + wavEffId(id) % 32).toInt

  /** Signed 16-bit PCM sample i: the XOR of two SQUARED Lehmer streams
    * over the combined sample key k = eff·64 + i, mod two distinct
    * 31-bit primes. Anything LINEAR in k fails here — the r10 formula
    * and two r11 candidates (XOR of linear streams; one multiplicative
    * round) all left the 64 samples of a clip an arithmetic
    * progression mod 2¹⁶, so the sign-threshold fingerprint collapsed
    * onto a few rotation patterns and sf1 paired quadratically
    * (measured 36M pairs; SCALE_r11). Squaring breaks the fixed step
    * (consecutive-k differences vary with k), the two-prime XOR breaks
    * the quadratic-residue symmetry, and the measured result is exact:
    * at 5,000 ids the dist ≤ 2 pair set is PRECISELY the 50 planted
    * clones — near-dup structure is linear in the corpus, as a real
    * fingerprint corpus's is. Overflow-exact in both engines: x < 2³¹
    * so x·x < 2⁶², inside int64 for an oracle that raises on overflow.
    */
  private[graft] def wavSample(id: Long, i: Int): Int = {
    val e = wavEffId(id)
    val p = 2147483647L
    val q = 2147483629L
    val k = e * 64 + i
    val x = k % p * 48271 % p
    val y = k % q * 16807 % q
    (((x * x % p) ^ (y * y % q)) % 65536 - 32768).toInt
  }

  private def synthWavWith(writer: javax.sound.sampled.spi.AudioFileWriter, id: Long): Array[Byte] = {
    val n = wavNumSamples(id)
    val data = new Array[Byte](n * 2)
    var i = 0
    while (i < n) {
      val s = wavSample(id, i)
      data(2 * i) = (s & 0xff).toByte
      data(2 * i + 1) = ((s >> 8) & 0xff).toByte
      i += 1
    }
    val fmt = new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(data), fmt, n.toLong)
    val baos = new java.io.ByteArrayOutputStream(64 + data.length)
    writer.write(ais, javax.sound.sampled.AudioFileFormat.Type.WAVE, baos)
    baos.toByteArray
  }

  def synthWav(id: Long): Array[Byte] = synthWavWith(wavWriter(), id)

  /** (id) → (id, media = encoded WAV bytes), scan-side; one SPI writer
    * per partition.
    */
  def synthesizeWavs(spark: SparkSession, docs: DataFrame, idCol: String): DataFrame = {
    import spark.implicits._
    docs.select(col(idCol).cast("long")).as[Long]
      .mapPartitions { it =>
        val writer = wavWriter()
        it.grouped(BatchSize).flatMap(_.iterator.map(id => (id, synthWavWith(writer, id))))
      }
      .toDF(idCol, "media")
  }

  /** REAL audio decode through the batched partition shape:
    * javax.sound.sampled (JDK — public classpath) WAV parse per blob,
    * emitting (id, sample_rate, n_channels, n_samples, sample_sum) with
    * the signed 16-bit samples decoded little-endian from the PCM
    * stream. Narrow map before any wide operator — the same cost model
    * as [[decodeImages]].
    */
  def decodeAudio(spark: SparkSession, media: DataFrame, idCol: String): DataFrame = {
    import spark.implicits._
    val ds: Dataset[(Long, Array[Byte])] =
      media.filter(col("media").isNotNull)
        .select(col(idCol).cast("long"), col("media")).as[(Long, Array[Byte])]
    ds.mapPartitions { rows =>
      val reader = wavReader()
      rows.grouped(BatchSize).flatMap { batch =>
        batch.iterator.map { case (id, bytes) =>
          val ais = reader.getAudioInputStream(
            new java.io.ByteArrayInputStream(bytes))
          val fmt = ais.getFormat
          require(fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian,
            s"expected 16-bit little-endian PCM for id $id, got $fmt")
          val pcm = try ais.readAllBytes() finally ais.close()
          val n = pcm.length / 2
          var sum = 0L
          var i = 0
          while (i < n) {
            sum += (((pcm(2 * i + 1) << 8) | (pcm(2 * i) & 0xff))).toShort.toLong
            i += 1
          }
          (id, fmt.getSampleRate.toInt, fmt.getChannels, n.toLong, sum)
        }
      }
    }.toDF(idCol, "sample_rate", "n_channels", "n_samples", "sample_sum")
  }

  /** 64-bit audio fingerprint: REAL WAV decode, bit i set iff PCM
    * sample i exceeds the clip mean (i < min(n, 64)) — the aHash
    * analog for audio, feeding the same generic
    * [[Dedup.hammingPairs]] signature join the image path uses (the
    * "any 64-bit signature" claim, certified on a second modality).
    * Production fingerprints hash windowed spectral energies; the
    * sample-sign form keeps the bits pure arithmetic of the synthetic
    * PCM so the oracle replays decode → bits → the full pair set.
    */
  def audioPhash(spark: SparkSession, media: DataFrame, idCol: String): DataFrame = {
    import spark.implicits._
    val ds: Dataset[(Long, Array[Byte])] =
      media.filter(col("media").isNotNull)
        .select(col(idCol).cast("long"), col("media")).as[(Long, Array[Byte])]
    ds.mapPartitions { rows =>
      val reader = wavReader()
      rows.grouped(BatchSize).flatMap { batch =>
        batch.iterator.flatMap { case (id, bytes) =>
          val ais = reader.getAudioInputStream(
            new java.io.ByteArrayInputStream(bytes))
          // same loud wrong-format guard as decodeAudio — a non-16-bit
          // or big-endian clip must not fingerprint silently wrong
          val fmt = ais.getFormat
          require(fmt.getSampleSizeInBits == 16 && !fmt.isBigEndian,
            s"expected 16-bit little-endian PCM for id $id, got $fmt")
          val pcm = try ais.readAllBytes() finally ais.close()
          val n = math.min(pcm.length / 2, 64)
          // a header-only clip (0 samples) has no fingerprint: skip the
          // row (decodeAudio reports it as n_samples = 0) instead of
          // failing the stage for one degenerate clip
          if (n == 0) Iterator.empty
          else {
            val smp = new Array[Long](n)
            var sum = 0L
            var i = 0
            while (i < n) {
              smp(i) = (((pcm(2 * i + 1) << 8) | (pcm(2 * i) & 0xff))).toShort.toLong
              sum += smp(i)
              i += 1
            }
            val mean = sum.toDouble / n
            var hash = 0L
            i = 0
            while (i < n) {
              if (smp(i) > mean) hash |= (1L << i)
              i += 1
            }
            Iterator.single((id, hash))
          }
        }
      }
    }.toDF(idCol, "ahash")
  }

  /** STUBBED resize: a real implementation would decode, scale to
    * `targetBytes`-worth of pixels and re-encode; the stand-in
    * deterministically downsamples the byte stream by striding, so output
    * size contracts are exercised (len = min(targetBytes, len)).
    */
  def resizeStub(bytes: Array[Byte], targetBytes: Int): Array[Byte] =
    if (bytes.length <= targetBytes) bytes
    else {
      val out = new Array[Byte](targetBytes)
      var i = 0
      while (i < targetBytes) {
        out(i) = bytes((i.toLong * bytes.length / targetBytes).toInt)
        i += 1
      }
      out
    }

  /** Media resize through the same batched partition shape: (id, media)
    * → (id, media ≤ targetBytes, orig_bytes). Narrow map, no shuffle —
    * at 100 TB this runs scan-side and shrinks the data before any wide
    * operator sees it.
    */
  def resize(spark: SparkSession, media: DataFrame, idCol: String,
             targetBytes: Int): DataFrame = {
    import spark.implicits._
    val ds: Dataset[(Long, Array[Byte])] =
      media.filter(col("media").isNotNull)
        .select(col(idCol).cast("long"), col("media")).as[(Long, Array[Byte])]
    ds.mapPartitions { rows =>
      rows.grouped(BatchSize).flatMap { batch =>
        batch.iterator.map { case (id, bytes) =>
          (id, resizeStub(bytes, targetBytes), bytes.length)
        }
      }
    }.toDF(idCol, "media", "orig_bytes")
  }

  /** Frame sampling for "video" media: treat the blob as fixed-size
    * frames and emit every `stride`-th frame as its own row
    * (id, frame_idx, frame). One row explodes to n/stride rows —
    * flatMap-shaped, still scan-side; a real codec would replace the
    * fixed-size slicing with container parsing + keyframe selection.
    */
  def sampleFrames(spark: SparkSession, media: DataFrame, idCol: String,
                   frameBytes: Int, stride: Int): DataFrame = {
    import spark.implicits._
    require(frameBytes > 0 && stride > 0, "frameBytes and stride must be positive")
    val ds: Dataset[(Long, Array[Byte])] =
      media.filter(col("media").isNotNull)
        .select(col(idCol).cast("long"), col("media")).as[(Long, Array[Byte])]
    ds.mapPartitions { rows =>
      rows.flatMap { case (id, bytes) =>
        val nFrames = bytes.length / frameBytes
        (0 until nFrames by stride).iterator.map { f =>
          (id, f, java.util.Arrays.copyOfRange(bytes, f * frameBytes, (f + 1) * frameBytes))
        }
      }
    }.toDF(idCol, "frame_idx", "frame")
  }
}
