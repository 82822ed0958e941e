package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, processed in partition-local batches.
  *
  * The Spark side is real and tested — schema, partitioning, batch
  * iteration via `mapPartitions` on a typed Dataset (the Scala
  * equivalent of `mapInPandas` batch processing: one decoder
  * instantiation per partition, rows streamed through it). IMAGE
  * decode/resize/features are REAL, via the JDK's own codecs
  * ([[ImageCodec]]: `javax.imageio` PNG/JPEG decode, `java.awt`
  * bilinear scaling, luminance-histogram features). AUDIO decode is
  * REAL too: `javax.sound.sampled` ships in every JDK and parses
  * PCM WAV ([[AudioCodec]]: sample-level RMS energy, zero-crossing
  * rate, amplitude histogram). VIDEO decode is real for MJPEG-in-AVI
  * ([[VideoCodec]]: a zero-dep RIFF chunk walk whose `00dc` frames
  * are JPEGs for the imageio reader — true frames, true dimensions);
  * other video containers (H.264 in MP4 needs a native codec) and
  * undecodable bytes of any modality fall back to a deterministic
  * stub ([[FakeCodec]]) behind the same call shape — swap in a
  * JNI/library codec without touching any distributed plumbing
  * (corrupt blobs are a fact of crawled corpora; a task never fails
  * on one).
  *
  * At 100 TB: binary payloads dominate row size, so ops that don't
  * need bytes must prune the column (schema keeps media metadata in
  * separate scalar columns precisely so planners can skip the blob),
  * and `maxPartitionBytes` should be sized to a few hundred media rows
  * per task.
  */
object Multimodal {

  /** Typed media row — binary payload + scalar metadata columns that
    * survive column pruning independently of the blob. */
  final case class MediaRow(
      media_id: Long,
      kind: String,           // image | audio | video
      format: String,         // png | jpg | wav | mp4 | ...
      width: Int,
      height: Int,
      duration_ms: Long,
      content: Array[Byte])

  final case class MediaFeatures(
      media_id: Long,
      kind: String,
      n_bytes: Long,
      feature: Array[Float])

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("kind", StringType, nullable = false),
    StructField("format", StringType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("duration_ms", LongType, nullable = false),
    StructField("content", BinaryType, nullable = true)))

  /** REAL image codec on the JDK's own machinery — no external
    * libraries: `javax.imageio` reads PNG/JPEG (and GIF/BMP), AWT
    * scales, the feature is a normalized luminance histogram (the
    * deterministic stand-in for a learned embedding — same shape:
    * pixels in, fixed-width float vector out). All pure-JVM and
    * headless-safe, so it runs identically in every executor. */
  object ImageCodec {
    import java.awt.image.BufferedImage

    def decode(bytes: Array[Byte]): Option[BufferedImage] =
      if (bytes == null || bytes.isEmpty) None
      else
        try Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes)))
        catch { case _: java.io.IOException | _: RuntimeException => None }

    /** Normalized luminance histogram over `dims` bins (Rec. 601
      * integer weights) — sums to 1 over the image's pixels. */
    def features(img: BufferedImage, dims: Int): Array[Float] = {
      val hist = new Array[Long](dims)
      val w = img.getWidth
      val h = img.getHeight
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val lum = (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
            (rgb & 0xFF) * 114) / 1000
          hist((lum * dims) / 256) += 1
          x += 1
        }
        y += 1
      }
      val total = (w.toLong * h).toDouble
      hist.map(c => (c / total).toFloat)
    }

    /** Bilinear scale to `targetWidth`, height keeps aspect. */
    def resizeTo(img: BufferedImage, targetWidth: Int): BufferedImage = {
      import java.awt.RenderingHints
      val th = math.max(1,
        math.round(img.getHeight.toDouble * targetWidth / img.getWidth).toInt)
      val out = new BufferedImage(targetWidth, th, BufferedImage.TYPE_INT_RGB)
      val g = out.createGraphics()
      try {
        g.setRenderingHint(RenderingHints.KEY_INTERPOLATION,
          RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, targetWidth, th, null)
      } finally g.dispose()
      out
    }

    def encodePng(img: BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "png", bos)
      bos.toByteArray
    }

    /** JPEG encode — the frame format MJPEG AVIs carry
      * ([[VideoCodec]]); the JDK ships a JPEG writer alongside the
      * PNG one. */
    def encodeJpeg(img: BufferedImage): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, "jpg", bos)
      bos.toByteArray
    }

    /** Perceptual difference hash (dHash, 64-bit): grayscale-shrink
      * to 9×8 (aspect deliberately discarded — the hash must be
      * scale-invariant), one bit per horizontally adjacent thumbnail
      * pixel pair (left brighter than right). Re-encodes, resizes and
      * small edits flip few bits; unrelated images differ in ~32.
      * Needs STRUCTURED content — on pixel noise the thumbnail
      * comparisons are coin flips under resampling (why
      * [[Multimodal.syntheticImageCorpus]] draws smooth harmonics,
      * not the noise [[Multimodal.syntheticMedia]] uses). */
    def dHash(img: BufferedImage): Long = {
      import java.awt.RenderingHints
      val thumb = new BufferedImage(9, 8, BufferedImage.TYPE_INT_RGB)
      val g = thumb.createGraphics()
      try {
        g.setRenderingHint(RenderingHints.KEY_INTERPOLATION,
          RenderingHints.VALUE_INTERPOLATION_BILINEAR)
        g.drawImage(img, 0, 0, 9, 8, null)
      } finally g.dispose()
      def lum(x: Int, y: Int): Int = {
        val rgb = thumb.getRGB(x, y)
        (((rgb >> 16) & 0xFF) * 299 + ((rgb >> 8) & 0xFF) * 587 +
          (rgb & 0xFF) * 114) / 1000
      }
      var sig = 0L
      var bit = 0
      var y = 0
      while (y < 8) {
        var x = 0
        while (x < 8) {
          if (lum(x, y) > lum(x + 1, y)) sig |= (1L << bit)
          bit += 1
          x += 1
        }
        y += 1
      }
      sig
    }
  }

  /** REAL audio codec on the JDK's own machinery — no external
    * libraries: `javax.sound.sampled.AudioSystem` parses WAV (and
    * AIFF/AU) containers and converts to signed 16-bit PCM. Features
    * are computed from the actual samples: RMS energy, zero-crossing
    * rate, peak amplitude, and a normalized |amplitude| histogram —
    * the deterministic stand-in for a learned audio embedding (same
    * shape: samples in, fixed-width float vector out). */
  object AudioCodec {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}

    /** Decoded PCM: channel-averaged (mono-mixed) samples in [−1, 1]
      * plus the container's sample rate. */
    final case class Pcm(samples: Array[Double], sampleRate: Float)

    def decode(bytes: Array[Byte]): Option[Pcm] =
      if (bytes == null || bytes.isEmpty) None
      else
        try {
          val in = AudioSystem.getAudioInputStream(new java.io.ByteArrayInputStream(bytes))
          try {
            val fmt = in.getFormat
            val channels = math.max(1, fmt.getChannels)
            // normalize any supported encoding (8-bit, big-endian,
            // a-law…) to 16-bit signed little-endian PCM
            val target = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
              fmt.getSampleRate, 16, channels, channels * 2, fmt.getSampleRate, false)
            val pcm = AudioSystem.getAudioInputStream(target, in)
            val data = pcm.readAllBytes()
            val nFrames = data.length / (2 * channels)
            if (nFrames == 0) None
            else {
              val out = new Array[Double](nFrames)
              var f = 0
              while (f < nFrames) {
                var c = 0
                var acc = 0.0
                while (c < channels) {
                  val o = (f * channels + c) * 2
                  val s = ((data(o) & 0xFF) | (data(o + 1) << 8)).toShort
                  acc += s / 32768.0
                  c += 1
                }
                out(f) = acc / channels
                f += 1
              }
              Some(Pcm(out, fmt.getSampleRate))
            }
          } finally in.close()
        } catch {
          // UnsupportedAudioFileException on non-WAV bytes, IOException
          // on truncated containers — both mean "fall back to the stub"
          case _: Exception => None
        }

    /** Perceptual audio fingerprint (64-bit, energy-delta — the
      * Haitsma-Kalker "sign of band-energy difference" idea reduced
      * to the time axis): the clip splits into 65 equal frames, bit
      * i = energy(frame i+1) > energy(frame i). Invariant to global
      * gain (energy ORDERING survives volume scaling) and robust to
      * re-encode dither; needs an amplitude ENVELOPE — on a
      * constant-envelope tone the comparisons are coin flips, the
      * audio analog of dHash-on-noise. Degenerate clips (< 130
      * samples) hash to 0. */
    def fingerprint(pcm: Pcm): Long = {
      val frames = 65
      val s = pcm.samples
      if (s.length < 2 * frames) return 0L
      val e = new Array[Double](frames)
      var i = 0
      while (i < s.length) {
        e((i.toLong * frames / s.length).toInt) += s(i) * s(i)
        i += 1
      }
      var sig = 0L
      var b = 0
      while (b < 64) {
        if (e(b + 1) > e(b)) sig |= (1L << b)
        b += 1
      }
      sig
    }

    /** Sample-derived features: `[rms, zero_crossing_rate, peak,
      * hist...]` with a `dims − 3`-bin normalized |amplitude|
      * histogram (sums to 1 over the clip's samples). */
    def features(pcm: Pcm, dims: Int): Array[Float] = {
      require(dims >= 4, s"audio features need >= 4 dims, got $dims")
      val s = pcm.samples
      val bins = dims - 3
      val hist = new Array[Long](bins)
      var sumSq = 0.0
      var crossings = 0
      var peak = 0.0
      var i = 0
      while (i < s.length) {
        val v = s(i)
        sumSq += v * v
        val a = math.abs(v)
        if (a > peak) peak = a
        if (i > 0 && (v >= 0) != (s(i - 1) >= 0)) crossings += 1
        hist(math.min(bins - 1, (a * bins).toInt)) += 1
        i += 1
      }
      val rms = math.sqrt(sumSq / s.length)
      val zcr = if (s.length > 1) crossings.toDouble / (s.length - 1) else 0.0
      Array(rms.toFloat, zcr.toFloat, peak.toFloat) ++
        hist.map(c => (c.toDouble / s.length).toFloat)
    }

    def durationMs(pcm: Pcm): Long =
      math.round(pcm.samples.length * 1000.0 / pcm.sampleRate)

    /** Mono 16-bit PCM WAV encoder (fixture generator — the decode
      * path's round-trip partner, like [[ImageCodec.encodePng]]). */
    def encodeWav(samples: Array[Double], sampleRate: Float): Array[Byte] = {
      val data = new Array[Byte](samples.length * 2)
      var i = 0
      while (i < samples.length) {
        val clamped = math.max(-1.0, math.min(1.0, samples(i)))
        val v = math.round(clamped * 32767).toShort
        data(i * 2) = (v & 0xFF).toByte
        data(i * 2 + 1) = ((v >> 8) & 0xFF).toByte
        i += 1
      }
      val fmt = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
        sampleRate, 16, 1, 2, sampleRate, false)
      val stream = new AudioInputStream(
        new java.io.ByteArrayInputStream(data), fmt, samples.length.toLong)
      val bos = new java.io.ByteArrayOutputStream()
      AudioSystem.write(stream, AudioFileFormat.Type.WAVE, bos)
      bos.toByteArray
    }
  }

  /** REAL video codec for the one container a bare JVM can fully
    * decode: MJPEG-in-AVI. An AVI is a RIFF file — fourcc-tagged
    * chunks with little-endian u32 sizes, word-aligned — and in the
    * MJPEG flavor every `00dc`/`00db` chunk inside the `movi` LIST
    * is a complete JPEG image, so frame decode reuses [[ImageCodec]]
    * (javax.imageio ships a JPEG reader). Zero external
    * dependencies: the container walk is plain chunk arithmetic per
    * the public AVI RIFF layout (Microsoft "AVI RIFF File
    * Reference"). Bytes that are not a well-formed RIFF/AVI return
    * None and callers fall back to the deterministic stub — the same
    * posture as corrupt image/audio blobs. The reference pipeline
    * has no video operator at all (SURVEY §2); this closes the
    * builder-brief multimodal arm with a real, testable decode. */
  object VideoCodec {
    private def u32(b: Array[Byte], off: Int): Long =
      (b(off) & 0xFFL) | ((b(off + 1) & 0xFFL) << 8) |
        ((b(off + 2) & 0xFFL) << 16) | ((b(off + 3) & 0xFFL) << 24)

    private def fourcc(b: Array[Byte], off: Int): String =
      new String(b, off, 4, java.nio.charset.StandardCharsets.US_ASCII)

    /** Frame payloads (raw JPEG bytes) in stream order, or None when
      * the bytes are not a RIFF/AVI container. A TRUNCATED container
      * yields the frames that fit — crawled media truncates
      * mid-download, and the intact prefix is still usable. */
    def frames(bytes: Array[Byte]): Option[Seq[Array[Byte]]] = {
      if (bytes == null || bytes.length < 12 ||
        fourcc(bytes, 0) != "RIFF" || fourcc(bytes, 8) != "AVI ") None
      else {
        val out = scala.collection.mutable.ArrayBuffer.empty[Array[Byte]]
        def walk(start: Int, end: Int): Unit = {
          var off = start
          var ok = true
          while (ok && off + 8 <= end) {
            val id = fourcc(bytes, off)
            val size = u32(bytes, off + 4)
            val dataStart = off + 8
            // clamp to the buffer: a truncated final chunk keeps its
            // readable prefix, a corrupt oversized length can't loop
            val dataEnd = math.min(end.toLong, dataStart.toLong + size).toInt
            if (dataEnd < dataStart || size > Int.MaxValue.toLong) ok = false
            else {
              if (id == "LIST" && dataEnd - dataStart >= 4)
                walk(dataStart + 4, dataEnd) // skip the list-type fourcc
              else if ((id.endsWith("dc") || id.endsWith("db")) &&
                id.take(2).forall(_.isDigit) && dataEnd > dataStart)
                out += java.util.Arrays.copyOfRange(bytes, dataStart, dataEnd)
              // chunks are word-aligned: odd sizes carry one pad byte;
              // advance in Long so a near-2GB size can't wrap negative
              val next = dataStart.toLong + size + (size & 1L)
              if (next > end.toLong) ok = false else off = next.toInt
            }
          }
        }
        walk(12, bytes.length)
        Some(out.toSeq)
      }
    }

    private def le32(v: Long): Array[Byte] = Array(
      (v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte,
      ((v >> 16) & 0xFF).toByte, ((v >> 24) & 0xFF).toByte)
    private def le16(v: Int): Array[Byte] =
      Array((v & 0xFF).toByte, ((v >> 8) & 0xFF).toByte)
    private def cc(s: String): Array[Byte] =
      s.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    private def chunk(id: String, payload: Array[Byte]): Array[Byte] =
      cc(id) ++ le32(payload.length.toLong) ++ payload ++
        (if (payload.length % 2 == 1) Array(0.toByte) else Array.empty[Byte])
    private def list(typ: String, payload: Array[Byte]): Array[Byte] =
      chunk("LIST", cc(typ) ++ payload)

    /** Minimal MJPEG-AVI encoder — [[frames]]' round-trip partner
      * (the fixture-generator role [[ImageCodec.encodePng]] and
      * [[AudioCodec.encodeWav]] play for their codecs): a real
      * `hdrl` (avih + one vids/MJPG strl with true width/height/fps)
      * and a `movi` LIST of `00dc` JPEG chunks. */
    def encodeAvi(jpegFrames: Seq[Array[Byte]], width: Int, height: Int,
        fps: Int = 10): Array[Byte] = {
      require(fps > 0, "fps must be positive")
      val n = jpegFrames.length
      val avih = chunk("avih",
        le32(1000000L / fps) ++ le32(0) ++ le32(0) ++ le32(0) ++
          le32(n.toLong) ++ le32(0) ++ le32(1) ++ le32(0) ++
          le32(width.toLong) ++ le32(height.toLong) ++
          le32(0) ++ le32(0) ++ le32(0) ++ le32(0))
      val strh = chunk("strh",
        cc("vids") ++ cc("MJPG") ++ le32(0) ++ le32(0) ++ le32(0) ++
          le32(1) ++ le32(fps.toLong) ++ le32(0) ++ le32(n.toLong) ++
          le32(0) ++ le32(0xFFFFFFFFL) ++ le32(0) ++
          le16(0) ++ le16(0) ++ le16(width) ++ le16(height))
      val strf = chunk("strf", // BITMAPINFOHEADER
        le32(40) ++ le32(width.toLong) ++ le32(height.toLong) ++
          le16(1) ++ le16(24) ++ cc("MJPG") ++
          le32(width.toLong * height * 3) ++
          le32(0) ++ le32(0) ++ le32(0) ++ le32(0))
      val hdrl = list("hdrl", avih ++ list("strl", strh ++ strf))
      val movi = list("movi",
        jpegFrames.flatMap(f => chunk("00dc", f)).toArray)
      val body = cc("AVI ") ++ hdrl ++ movi
      cc("RIFF") ++ le32(body.length.toLong) ++ body
    }
  }

  /** STUB codec — deterministic stand-in for bytes no real codec
    * here can decode (corrupt/foreign blobs of any modality; video
    * containers other than [[VideoCodec]]'s MJPEG-AVI). The call
    * shape (bytes in, fixed-width float feature out) is what a
    * CLIP-style embedder or mel-spectrogram extractor produces. */
  object FakeCodec {
    def features(content: Array[Byte], dims: Int): Array[Float] = {
      import graft.functions.SketchHash.mix64
      var h = 0x6a09e667f3bcc908L
      var i = 0
      while (i < content.length) { h = mix64(h ^ content(i)); i += 1 }
      Array.tabulate(dims) { d =>
        // map each seeded hash to [-1, 1) — fake but deterministic
        (mix64(h + d).toDouble / Long.MaxValue.toDouble).toFloat
      }
    }

    /** "Frame sampling" stub: n evenly spaced byte slices standing in
      * for decoded video frames. */
    def sampleFrames(content: Array[Byte], n: Int): Seq[Array[Byte]] = {
      if (content.isEmpty) Seq.empty
      else {
        val step = math.max(1, content.length / n)
        (0 until math.min(n, content.length)).map { i =>
          content.slice(i * step, math.min(i * step + step, content.length))
        }
      }
    }
  }

  /** Batch feature extraction: one codec per partition, rows streamed
    * through — the mapInPandas-shaped path. The output drops the blob
    * (features only), so downstream plans never carry bytes. Image
    * rows get REAL pixel features ([[ImageCodec]] histogram), audio
    * rows REAL sample features ([[AudioCodec]] RMS/ZCR/histogram);
    * video (and undecodable image/audio bytes) fall to the stub. */
  def extractFeatures(media: Dataset[MediaRow], dims: Int = 16): Dataset[MediaFeatures] = {
    // driver-side contract: a nonsensical width must fail HERE, not
    // as an ArrayIndexOutOfBounds inside an executor task (the image
    // histogram needs >= 1 bin; audio additionally falls to the stub
    // below 4 — see the dispatch)
    require(dims >= 1, s"feature dims must be >= 1, got $dims")
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition codec init would go here (model load, JNI handle)
      rows.map { r =>
        val bytes = if (r.content == null) Array.empty[Byte] else r.content
        val feature =
          if (r.kind == "image")
            ImageCodec.decode(bytes).map(ImageCodec.features(_, dims))
              .getOrElse(FakeCodec.features(bytes, dims))
          else if (r.kind == "audio" && dims >= 4)
            // dims < 4 can't carry the rms/zcr/peak+histogram layout —
            // fall to the stub rather than throwing inside a task
            // (AudioCodec.features requires >= 4 as its driver-side
            // contract)
            AudioCodec.decode(bytes).map(AudioCodec.features(_, dims))
              .getOrElse(FakeCodec.features(bytes, dims))
          else if (r.kind == "video")
            // REAL pixels for MJPEG AVIs: the middle frame is the
            // clip's representative image (first frames are often
            // title cards/black); non-AVI containers fall to the stub
            VideoCodec.frames(bytes)
              .flatMap(fs => fs.lift(fs.length / 2))
              .flatMap(ImageCodec.decode)
              .map(ImageCodec.features(_, dims))
              .getOrElse(FakeCodec.features(bytes, dims))
          else FakeCodec.features(bytes, dims)
        MediaFeatures(r.media_id, r.kind, bytes.length.toLong, feature)
      }
    }
  }

  /** Frame sampling for video rows: explodes each video into ≤ n frame
    * rows (media_id, frame_idx, frame_bytes). MJPEG AVIs yield REAL
    * frames ([[VideoCodec]]): n evenly spaced JPEG payloads, each
    * independently decodable by [[ImageCodec]]; other containers fall
    * to the deterministic byte-slice stub. Map-only either way — the
    * blob is consumed here and only frame bytes flow on. */
  def sampleFrames(media: Dataset[MediaRow], n: Int = 4): DataFrame = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "video")
      .flatMap { r =>
        val bytes = if (r.content == null) Array.empty[Byte] else r.content
        val frames = VideoCodec.frames(bytes) match {
          case Some(fs) if fs.length <= n => fs
          case Some(fs) => // evenly spaced over the clip, first-aligned
            (0 until n).map(i => fs((i.toLong * fs.length / n).toInt))
          case None => FakeCodec.sampleFrames(bytes, n)
        }
        frames.zipWithIndex.map {
          case (frame, idx) => (r.media_id, idx, frame)
        }
      }
      .toDF("media_id", "frame_idx", "frame_bytes")
  }

  /** Perceptual dHash per image row — the blob is consumed HERE, in
    * one map-only mapPartitions pass (per-partition codec init), and
    * only (media_id, 8-byte sig) flows on. Undecodable images are
    * DROPPED: corrupt bytes have no perceptual identity, and a stub
    * hash would manufacture false near-dup pairs. */
  def imageSignatures(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "image")
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val bytes = if (r.content == null) Array.empty[Byte] else r.content
          ImageCodec.decode(bytes).map(img => (r.media_id, ImageCodec.dHash(img)))
        }
      }
      .toDF("media_id", "sig")
  }

  /** Image near-duplicate pairs by perceptual hash — the multimodal
    * member of the dedup family: [[imageSignatures]]' dHash, then the
    * SimHash banding shape (`Dedup.simhashNearDuplicates`): 4×16-bit
    * chunks, candidates only materialize inside shared (band, chunk)
    * buckets, exact Hamming distance verifies. Pigeonhole: Hamming
    * ≤ 3 ⇒ some band intact ⇒ guaranteed candidate; 4..maxHamming
    * pairs surface unless the flipped bits straddle all four bands.
    *
    * 100 TB shape: decode cost is map-only and the signature frame
    * is 16 bytes/row — the repartition materializes the expensive
    * projection at an exchange both join sides reuse; the bucket
    * join is shuffle-hash, never broadcast. */
  def imageNearDuplicates(media: Dataset[MediaRow],
      maxHamming: Int = 4): DataFrame =
    bandedHammingPairs(imageSignatures(media), maxHamming)

  /** Perceptual dHash per audio row — [[AudioCodec.fingerprint]] over
    * the decoded PCM, same map-only shape and drop-on-corrupt policy
    * as [[imageSignatures]]. */
  def audioSignatures(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.filter(_.kind == "audio")
      .mapPartitions { rows =>
        rows.flatMap { r =>
          val bytes = if (r.content == null) Array.empty[Byte] else r.content
          AudioCodec.decode(bytes).map(p => (r.media_id, AudioCodec.fingerprint(p)))
        }
      }
      .toDF("media_id", "sig")
  }

  /** Audio near-duplicate pairs (gain-shifted re-encodes of the same
    * clip) — [[audioSignatures]] through the same banded bucket join
    * as [[imageNearDuplicates]]. */
  def audioNearDuplicates(media: Dataset[MediaRow],
      maxHamming: Int = 4): DataFrame =
    bandedHammingPairs(audioSignatures(media), maxHamming)

  /** Perceptual dedup shares one banding tail with the text SimHash
    * path ([[Dedup.hamming64Pairs]]) — a single implementation of
    * the band/bucket-join/Hamming-verify pipeline, so a banding fix
    * can never silently diverge between modalities. */
  private def bandedHammingPairs(sigFrame: DataFrame,
      maxHamming: Int): DataFrame =
    Dedup.hamming64Pairs(
      sigFrame.select(col("media_id").as("id"), col("sig")), maxHamming)

  /** Deterministic STRUCTURED image corpus with planted near-dups:
    * smooth two-harmonic luminance patterns (diagonal + horizontal
    * waves, golden-ratio phases so no two seeds coincide), and every
    * `i ≡ 1 (mod 4)` row a downscaled re-encode of row `i-1` — the
    * perceptual-dedup ground truth. Kept separate from
    * [[syntheticMedia]] (noise images), whose dHashes are
    * deliberately uncorrelated. */
  def syntheticImageCorpus(spark: SparkSession, n: Int): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n).map { i =>
      val dup = i % 4 == 1 && i > 0
      val seed: Long = if (dup) i - 1 else i
      val w = 64
      val h = 64
      val fx = 1 + (seed % 3).toInt
      val fy = 1 + ((seed / 3) % 3).toInt
      val ph = seed * 0.6180339887 * 2 * math.Pi % (2 * math.Pi)
      val amp = 35 + (seed % 5).toInt * 6
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val v = 128 +
            amp * math.sin(2 * math.Pi * (fx * x + fy * y) / w + ph) +
            (90 - amp) * math.cos(2 * math.Pi * fy * x / w - ph)
          val lum = math.max(0, math.min(255, v.toInt))
          img.setRGB(x, y, (lum << 16) | (lum << 8) | lum)
          x += 1
        }
        y += 1
      }
      val (bytes, width, height) =
        if (dup) {
          val scaled = ImageCodec.resizeTo(img, 48)
          (ImageCodec.encodePng(scaled), scaled.getWidth, scaled.getHeight)
        } else (ImageCodec.encodePng(img), w, h)
      MediaRow(i, "image", "png", width, height, 0L, bytes)
    }
  }

  /** Deterministic STRUCTURED audio corpus with planted near-dups:
    * seeded tones under a slow seed-dependent amplitude ENVELOPE
    * (the fingerprint hashes envelope shape — constant-envelope
    * tones would be the audio analog of dHash-on-noise), and every
    * `i ≡ 1 (mod 4)` row a gain-scaled (×0.8) re-encode of row
    * `i-1` — energy ordering survives the gain, so the planted pair
    * fingerprints nearly coincide. */
  def syntheticAudioCorpus(spark: SparkSession, n: Int): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n).map { i =>
      val dup = i % 4 == 1 && i > 0
      val seed: Long = if (dup) i - 1 else i
      val sampleRate = 8000f
      val nSamples = 1600 + (seed % 7).toInt * 80
      val freq = 180.0 + (seed % 12).toDouble * 37.0
      val envCycles = 1.5 + (seed % 5).toDouble
      val envPhase = seed * 0.6180339887 * 2 * math.Pi % (2 * math.Pi)
      val gain = if (dup) 0.8 else 1.0
      val samples = Array.tabulate(nSamples) { t =>
        val env = 0.55 + 0.4 * math.sin(
          2 * math.Pi * envCycles * t / nSamples + envPhase)
        gain * env * math.sin(2 * math.Pi * freq * t / sampleRate)
      }
      MediaRow(i, "audio", "wav", 0, 0,
        math.round(nSamples * 1000.0 / sampleRate),
        AudioCodec.encodeWav(samples, sampleRate))
    }
  }

  /** Deterministic synthetic media table for tests/demos. Image rows
    * carry REAL PNGs (seeded pixel noise, encoded by the JDK writer),
    * audio rows REAL 16-bit PCM WAVs (seeded sine + noise), and video
    * rows REAL MJPEG AVIs (seeded-noise JPEG frames in a RIFF
    * container, [[VideoCodec.encodeAvi]]) — all three decode paths
    * exercised end-to-end with zero external dependencies. */
  def syntheticMedia(spark: SparkSession, n: Int): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(n).map { i =>
      import graft.functions.SketchHash.mix64
      val kind = Seq("image", "audio", "video")((i % 3).toInt)
      val fmt = Map("image" -> "png", "audio" -> "wav", "video" -> "avi")(kind)
      val w = 64 + (i % 8).toInt * 16
      val h = 64
      var durationMs = if (kind == "video") 4000L else 0L
      val content =
        if (kind == "image") {
          val img = new java.awt.image.BufferedImage(
            w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              img.setRGB(x, y, (mix64(i * 1000003L + y * 4099L + x) & 0xFFFFFF).toInt)
              x += 1
            }
            y += 1
          }
          ImageCodec.encodePng(img)
        } else if (kind == "audio") {
          // ~0.1–0.13 s of a seeded tone + noise at 8 kHz mono
          val sampleRate = 8000f
          val nSamples = 800 + (mix64(i) & 0xFF).toInt
          val freq = 200.0 + (i % 10).toDouble * 50.0
          val samples = Array.tabulate(nSamples) { t =>
            0.5 * math.sin(2 * math.Pi * freq * t / sampleRate) +
              0.05 * ((mix64(i * 31L + t) & 0xFF) / 255.0 - 0.5)
          }
          durationMs = math.round(nSamples * 1000.0 / sampleRate)
          AudioCodec.encodeWav(samples, sampleRate)
        } else {
          // 3–6 frames of seeded pixel noise, JPEG-encoded, in a
          // real RIFF/AVI container at 10 fps
          val nFrames = 3 + (mix64(i) & 0x3).toInt
          val frames = (0 until nFrames).map { f =>
            val img = new java.awt.image.BufferedImage(
              w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
            var y = 0
            while (y < h) {
              var x = 0
              while (x < w) {
                img.setRGB(x, y,
                  (mix64(i * 7919L + f * 104729L + y * 4099L + x) & 0xFFFFFF).toInt)
                x += 1
              }
              y += 1
            }
            ImageCodec.encodeJpeg(img)
          }
          durationMs = nFrames * 100L // 10 fps
          VideoCodec.encodeAvi(frames, w, h, fps = 10)
        }
      MediaRow(i, kind, fmt, w, h, durationMs, content)
    }
  }
}
