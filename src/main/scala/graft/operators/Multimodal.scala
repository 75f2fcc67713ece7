package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Multimodal column support: image/audio/video payloads ride as opaque
  * `BinaryType` columns with typed metadata, processed per-partition so a
  * real decoder (libjpeg/ffmpeg/...) amortizes init across a batch.
  *
  * The decode step is REAL for the formats the JDK ships codecs for:
  * `ImageDecoder` routes payloads through `javax.imageio` (PNG, BMP,
  * GIF, JPEG — whatever readers the JVM registers; zero external deps)
  * and derives an 8-dim pixel-statistics feature from the decoded
  * raster; `AudioDecoder` routes through `javax.sound.sampled`
  * (WAV/AIFF/AU PCM — the Java Sound guarantees) and derives an 8-dim
  * sample-statistics feature (RMS, zero-crossings, silence ratio, ...)
  * from the decoded frames. Payloads no registered reader accepts —
  * video, or formats this container lacks codecs for — fall back to
  * `FakeDecoder`'s deterministic byte-statistics stub, so the pipeline
  * shape is identical either way and swapping in a richer codec stack
  * widens the real path without touching the plumbing.
  *
  * 100 TB notes: payloads never shuffle (all derivations are projections);
  * `spark.sql.files.maxPartitionBytes` bounds per-task memory since blobs
  * stream through one partition-iterator at a time; metadata-only queries
  * prune the payload column at the parquet scan.
  */
object Multimodal {

  case class MediaRow(
      media_id: Long,
      modality: String,     // image | audio | video
      payload: Array[Byte],
      width: Int, height: Int, sample_rate: Int)

  case class MediaFeatures(
      media_id: Long,
      modality: String,
      n_bytes: Long,
      digest: String,
      feat: Array[Double])  // stubbed "embedding" of the decoded media

  /** Real image decode via the JDK's built-in `javax.imageio` readers
    * (PNG and BMP are guaranteed by the ImageIO spec; GIF/JPEG register
    * on stock JVMs). Header sniffing is ImageIO's own: bytes no reader
    * claims return None FAST (magic-number check, no full parse), which
    * is what keeps the fallback path cheap for audio/video blobs.
    */
  object ImageDecoder {

    // ImageIO.read wraps the stream in an ImageInputStream whose cache
    // defaults to a DISK temp file — created and deleted per call, even
    // when no reader claims the bytes. At the 10× fixture that filesystem
    // churn under 32-way task concurrency cost ~10 ms/doc (521 CPU-s for
    // 50k docs, 60× the per-doc cost of the single-task sf0.1 run —
    // found by the r9 sf1 bench leg, SCALE.md §sf1-bench). Payloads are
    // already in memory; cache in memory.
    javax.imageio.ImageIO.setUseCache(false)

    final case class Decoded(width: Int, height: Int, channels: Int,
        feat: Array[Double])

    /** Decode and reduce to the 8-dim feature contract shared with the
      * stub: mean R, G, B, mean luminance, luminance stddev, width and
      * height normalized to a 4096 box, aspect ratio — all from REAL
      * pixels. Rounded to 1e-6 like the stub so parquet round-trips
      * exactly.
      */
    def decode(payload: Array[Byte]): Option[Decoded] = {
      if (payload == null || payload.length < 8) return None
      try {
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(payload))
        if (img == null) None
        else {
          val w = img.getWidth; val h = img.getHeight
          if (w <= 0 || h <= 0) return None
          var sr = 0.0; var sg = 0.0; var sb = 0.0; var sy = 0.0; var syy = 0.0
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              val rgb = img.getRGB(x, y) // sRGB regardless of raster layout
              val r = (rgb >> 16) & 0xFF
              val g = (rgb >> 8) & 0xFF
              val b = rgb & 0xFF
              val lum = 0.299 * r + 0.587 * g + 0.114 * b
              sr += r; sg += g; sb += b; sy += lum; syy += lum * lum
              x += 1
            }
            y += 1
          }
          val n = w.toDouble * h
          val mean = sy / n
          val variance = math.max(0.0, syy / n - mean * mean)
          def r6(v: Double) = math.rint(v * 1e6) / 1e6
          Some(Decoded(w, h, img.getColorModel.getNumComponents, Array(
            r6(sr / n / 255.0), r6(sg / n / 255.0), r6(sb / n / 255.0),
            r6(mean / 255.0), r6(math.sqrt(variance) / 255.0),
            r6(w / 4096.0), r6(h / 4096.0), r6(w.toDouble / h))))
        }
      } catch {
        // a claimed-but-corrupt payload is a data-quality event, not a
        // job-killer: fall back to the byte-statistics path
        case _: Exception => None
      }
    }
  }

  /** Real image RESIZE — the remaining member of the multimodal
    * operator quartet (decode ✓, feature-extract ✓, resize, frame-sample
    * = documented video stub): decode via `javax.imageio`, scale the
    * longest side down to `maxDim` (never upscales — a training-data
    * resize normalizes oversized images, it doesn't fabricate pixels)
    * with bilinear interpolation, re-encode as PNG (the one format the
    * ImageIO spec guarantees writable). Payloads at-or-under the bound
    * pass through byte-identical (no decode-recode churn on the common
    * already-small case); payloads no reader claims return None and the
    * caller keeps the original (the decode-chain fallback rule).
    */
  object ImageResizer {

    final case class Resized(width: Int, height: Int, payload: Array[Byte])

    def resize(payload: Array[Byte], maxDim: Int): Option[Resized] = {
      require(maxDim > 0, s"maxDim must be positive: $maxDim")
      if (payload == null || payload.length < 8) return None
      try {
        val img = javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(payload))
        if (img == null) return None
        val w = img.getWidth; val h = img.getHeight
        if (w <= 0 || h <= 0) return None
        if (math.max(w, h) <= maxDim) return Some(Resized(w, h, payload))
        val scale = maxDim.toDouble / math.max(w, h)
        val nw = math.max(1, math.round(w * scale).toInt)
        val nh = math.max(1, math.round(h * scale).toInt)
        // Preserve the alpha channel: re-encoding a transparent PNG/GIF
        // onto an RGB canvas would silently composite transparent pixels
        // onto black for every downstream consumer. PNG (the re-encode
        // target) carries ARGB natively; opaque sources stay RGB.
        val imgType =
          if (img.getColorModel.hasAlpha) java.awt.image.BufferedImage.TYPE_INT_ARGB
          else java.awt.image.BufferedImage.TYPE_INT_RGB
        val out = new java.awt.image.BufferedImage(nw, nh, imgType)
        val g = out.createGraphics()
        try {
          g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
            java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
          g.drawImage(img, 0, 0, nw, nh, null)
        } finally g.dispose()
        val bos = new java.io.ByteArrayOutputStream()
        javax.imageio.ImageIO.write(out, "png", bos)
        Some(Resized(nw, nh, bos.toByteArray))
      } catch { case _: Exception => None }
    }
  }

  /** Resize pass over a media table — partition-batched like
    * [[extractFeatures]]: images over `maxDim` come back as re-encoded
    * PNGs with their new dims, everything else (small images, audio,
    * video, corrupt bytes) passes through untouched with resized=false.
    * Payloads never shuffle: this is a projection over the scan, and at
    * 100 TB the resize is exactly where the byte volume SHRINKS before
    * any downstream stage sees it.
    */
  def resizeImages(media: Dataset[MediaRow], maxDim: Int): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { m =>
        ImageResizer.resize(m.payload, maxDim) match {
          case Some(r) =>
            val changed = !(r.payload eq m.payload)
            (m.media_id, m.modality, changed, r.width, r.height, r.payload)
          case None =>
            (m.media_id, m.modality, false, 0, 0, m.payload)
        }
      }
    }.toDF("media_id", "modality", "resized", "out_width", "out_height",
      "payload")
  }

  /** Real audio decode via the JDK's built-in `javax.sound.sampled`
    * readers (WAV/AIFF/AU with PCM payloads are guaranteed by the Java
    * Sound spec; zero external deps — the ImageDecoder rule applied to
    * the audio modality). Non-audio bytes are rejected FAST by header
    * sniffing (`UnsupportedAudioFileException` before any full parse),
    * which keeps the fallback path cheap for image/video blobs.
    */
  object AudioDecoder {

    final case class DecodedAudio(sampleRate: Int, channels: Int,
        frames: Long, feat: Array[Double])

    /** Decode and reduce to the 8-dim feature contract shared with the
      * other decoders: duration (s, normalized to a 600 s box), sample
      * rate /48 kHz, channels /8, mean |amplitude|, RMS, zero-crossing
      * rate, peak |amplitude|, silence ratio (<1% full scale) — all from
      * REAL samples (frames averaged across channels), amplitudes in
      * [-1, 1]. Rounded to 1e-6 like the others so parquet round-trips
      * exactly. PCM 8/16-bit, either endianness, any channel count.
      */
    /** Container magics the JDK readers accept: RIFF (WAV), FORM (AIFF),
      * .snd (AU). Checked BEFORE AudioSystem: its rejection path is an
      * UnsupportedAudioFileException per call, and throwing one per
      * non-audio payload cost a measured 2.9× CPU on the mixed-modality
      * feature pass (0.44 → 1.29 CPU-s at sf0.1) — byte compares reject
      * for free.
      */
    private def looksLikeAudio(p: Array[Byte]): Boolean =
      (p(0) == 'R' && p(1) == 'I' && p(2) == 'F' && p(3) == 'F') ||
      (p(0) == 'F' && p(1) == 'O' && p(2) == 'R' && p(3) == 'M') ||
      (p(0) == '.' && p(1) == 's' && p(2) == 'n' && p(3) == 'd')

    def decode(payload: Array[Byte]): Option[DecodedAudio] = {
      if (payload == null || payload.length < 12) return None
      if (!looksLikeAudio(payload)) return None
      try {
        val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
          new java.io.ByteArrayInputStream(payload))
        try {
          val fmt = in.getFormat
          import javax.sound.sampled.AudioFormat.Encoding._
          val bits = fmt.getSampleSizeInBits
          val ch = fmt.getChannels
          val enc = fmt.getEncoding
          if (ch <= 0 || (bits != 8 && bits != 16) ||
              (enc != PCM_SIGNED && enc != PCM_UNSIGNED)) return None
          val bytes = in.readAllBytes()
          val bytesPerSample = bits / 8
          val frameBytes = bytesPerSample * ch
          val nFrames = bytes.length / frameBytes
          if (nFrames == 0) return None
          var sAbs = 0.0; var sSq = 0.0; var peak = 0.0
          var zc = 0L; var silent = 0L
          var prevSign = 0
          var f = 0
          while (f < nFrames) {
            var c = 0; var acc = 0.0
            while (c < ch) {
              val off = f * frameBytes + c * bytesPerSample
              val v =
                if (bits == 8) {
                  if (enc == PCM_SIGNED) bytes(off).toDouble / 128.0
                  else ((bytes(off) & 0xFF) - 128).toDouble / 128.0
                } else {
                  val (b0, b1) =
                    if (fmt.isBigEndian) (bytes(off), bytes(off + 1))
                    else (bytes(off + 1), bytes(off))
                  val raw = (b0 << 8) | (b1 & 0xFF) // b0 carries the sign
                  if (enc == PCM_SIGNED) raw.toDouble / 32768.0
                  else ((raw & 0xFFFF) - 32768).toDouble / 32768.0
                }
              acc += v; c += 1
            }
            val x = acc / ch
            val ax = math.abs(x)
            sAbs += ax; sSq += x * x
            if (ax > peak) peak = ax
            if (ax < 0.01) silent += 1
            val sign = if (x > 0) 1 else if (x < 0) -1 else 0
            if (sign != 0 && prevSign != 0 && sign != prevSign) zc += 1
            if (sign != 0) prevSign = sign
            f += 1
          }
          val n = nFrames.toDouble
          val sr = fmt.getSampleRate
          def r6(v: Double) = math.rint(v * 1e6) / 1e6
          Some(DecodedAudio(sr.toInt, ch, nFrames, Array(
            r6(n / sr / 600.0), r6(sr / 48000.0), r6(ch / 8.0),
            r6(sAbs / n), r6(math.sqrt(sSq / n)),
            r6(zc / math.max(1.0, n - 1)), r6(peak), r6(silent / n))))
        } finally in.close()
      } catch {
        // not audio, or a claimed-but-corrupt payload: data-quality event,
        // not a job-killer — fall through to the byte-statistics path
        case _: Exception => None
      }
    }
  }

  /** Real video frame-sampling for MOTION-JPEG streams — the one video
    * container decodable with zero external deps: MJPEG is concatenated
    * JPEG frames, each delimited by the SOI/EOI markers (FFD8 … FFD9),
    * and this JVM registers the JPEG reader (ImageDecoder's registry
    * rule). Frame SPLITTING is a byte scan — no decode of skipped
    * frames, which is the entire point of sampling: at 100 TB of video,
    * every-Nth-frame extraction reads the blob once and decodes 1/N of
    * it. Sampled frames route through [[ImageDecoder]] for real pixel
    * features. The splitter walks JPEG MARKER SEGMENTS (not a bare FFD9
    * byte scan): APPn/COM segments are skipped by their declared 2-byte
    * length, so an EXIF/JFIF thumbnail embedding its own SOI/EOI inside
    * an APP1 segment cannot terminate the outer frame early, and only an
    * EOI reached through the entropy stream (where 0xFF is stuffed as
    * FF00 by spec) ends a frame. Codec-bearing containers (MP4/H.264 …)
    * remain out of reach of a pure-JDK build and keep the byte-offsets
    * stub below.
    */
  object FrameSampler {

    /** Byte ranges [start, end) of each JPEG frame in the stream — a
      * marker-segment walk per frame. An unparseable / torn frame stops
      * the scan (everything before it is returned, the torn-tail rule).
      */
    def frameRanges(p: Array[Byte]): Seq[(Int, Int)] = {
      if (p == null || p.length < 4) return Seq.empty
      val out = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      var i = 0
      while (i < p.length - 1) {
        if (p(i) == 0xFF.toByte && p(i + 1) == 0xD8.toByte) {
          val end = frameEnd(p, i)
          if (end < 0) return out.toSeq // torn/corrupt tail frame: ignore
          out += ((i, end))
          i = end
        } else i += 1
      }
      out.toSeq
    }

    /** End offset (exclusive) of the JPEG frame whose SOI is at `soi`,
      * or -1 if the frame is torn or structurally invalid. Walks marker
      * segments: standalone markers (TEM, RSTn) advance 2 bytes; sized
      * segments (APPn, COM, DQT, SOF, DHT, …) advance by their declared
      * length — which is what makes an APP1-embedded thumbnail (its own
      * SOI…EOI inside the segment body) invisible to the walk; after SOS
      * the entropy-coded stream is scanned for the next true marker
      * (0xFF followed by anything but 0x00 stuffing or RSTn), which by
      * spec is either another header segment (progressive scans) or the
      * frame's EOI.
      */
    private def frameEnd(p: Array[Byte], soi: Int): Int = {
      var j = soi + 2
      while (j < p.length - 1) {
        if (p(j) != 0xFF.toByte) return -1 // expected a marker here
        // fill bytes: a marker may be preceded by any number of 0xFFs
        while (j < p.length - 1 && p(j + 1) == 0xFF.toByte) j += 1
        if (j >= p.length - 1) return -1
        val m = p(j + 1) & 0xFF
        if (m == 0xD9) return j + 2 // EOI
        else if (m == 0x01 || (m >= 0xD0 && m <= 0xD7)) j += 2 // TEM/RSTn
        else if (m == 0xDA) { // SOS: skip its header, then entropy data
          if (j + 3 >= p.length) return -1
          val len = ((p(j + 2) & 0xFF) << 8) | (p(j + 3) & 0xFF)
          if (len < 2) return -1
          var k = j + 2 + len
          var next = -1
          while (next < 0 && k < p.length - 1) {
            if (p(k) == 0xFF.toByte) {
              val b = p(k + 1) & 0xFF
              // FF00 = stuffed data byte; FFD0-D7 = restart, stay in scan
              if (b == 0x00 || (b >= 0xD0 && b <= 0xD7)) k += 2
              else next = k // a real marker terminates the entropy scan
            } else k += 1
          }
          if (next < 0) return -1
          j = next // loop re-dispatches: EOI ends, DHT/SOS continue
        } else { // sized segment (APPn, COM, DQT, SOFn, DHT, DRI, …)
          if (j + 3 >= p.length) return -1
          val len = ((p(j + 2) & 0xFF) << 8) | (p(j + 3) & 0xFF)
          if (len < 2) return -1
          j += 2 + len
        }
      }
      -1
    }

    final case class Frame(idx: Int, width: Int, height: Int,
        feat: Array[Double])

    /** Every `everyN`-th frame (0, N, 2N, …) decoded to the shared
      * 8-dim feature contract. Non-MJPEG payloads yield no frames.
      */
    def sample(payload: Array[Byte], everyN: Int): Seq[Frame] = {
      require(everyN > 0, s"everyN must be positive: $everyN")
      frameRanges(payload).zipWithIndex
        .collect { case ((s, e), idx) if idx % everyN == 0 =>
          ImageDecoder.decode(java.util.Arrays.copyOfRange(payload, s, e))
            .map(d => Frame(idx, d.width, d.height, d.feat))
        }
        .flatten
    }
  }

  /** Frame-sample pass over a media table: one output row per sampled
    * frame of each MJPEG payload (media_id, frame_idx, dims, feature);
    * payloads that aren't MJPEG contribute no rows. Projection-shaped
    * like every derivation here — blobs never shuffle, and the explode
    * emits features (~100 B), not frames.
    */
  def sampleVideoFrames(media: Dataset[MediaRow], everyN: Int): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { m =>
        FrameSampler.sample(m.payload, everyN).map(f =>
          (m.media_id, f.idx, f.width, f.height, f.feat))
      }
    }.toDF("media_id", "frame_idx", "frame_width", "frame_height", "feat")
  }

  /** Deterministic byte-statistics decoder: the fallback for payloads no
    * registered ImageIO reader accepts (codec-missing formats — this
    * container has no media codecs beyond the JDK's).
    */
  object FakeDecoder {
    /** "Decode" bytes to an 8-dim feature: windowed byte statistics. A real
      * implementation would decode pixels/samples here.
      */
    def decode(payload: Array[Byte]): Array[Double] = {
      if (payload == null || payload.isEmpty) return Array.fill(8)(0.0)
      val out = new Array[Double](8)
      var i = 0
      while (i < payload.length) {
        out(i % 8) += (payload(i) & 0xFF).toDouble / 255.0
        i += 1
      }
      val n = math.max(1, payload.length / 8)
      out.map(x => math.rint(x / n * 1e6) / 1e6)
    }

    /** Frame-sample stub: byte offsets a video frame sampler would decode. */
    def frameOffsets(nBytes: Long, everyN: Long): Seq[Long] =
      if (nBytes <= 0 || everyN <= 0) Seq.empty
      else 0L.until(nBytes, everyN)
  }

  /** The documents fixture reinterpreted as a media table: text bytes as
    * payload. Mirrors the reference's opaque-byte-stream view of data
    * (reference/service/HdfsCopyService.java:129-134 copies blobs verbatim
    * with no payload typing).
    */
  def mediaTable(spark: SparkSession, dir: String): Dataset[MediaRow] = {
    import spark.implicits._
    Tables.documents(spark, dir)
      .select(
        col("doc_id").as("media_id"),
        // modality assigned deterministically from the id
        element_at(array(lit("image"), lit("audio"), lit("video")),
          (pmod(col("doc_id"), lit(3)) + 1).cast("int")).as("modality"),
        col("text").cast("binary").as("payload"),
        (pmod(col("doc_id"), lit(1920)) + 1).cast("int").as("width"),
        (pmod(col("doc_id"), lit(1080)) + 1).cast("int").as("height"),
        lit(16000).as("sample_rate"))
      .as[MediaRow]
  }

  /** Partition-batched feature extraction — the mapInPandas-equivalent
    * shape in Scala: one iterator per partition, decoder state amortized.
    */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition init: digest state here; ImageIO's reader registry
      // is scanned once per JVM on first use
      val digest = java.security.MessageDigest.getInstance("MD5")
      rows.map { m =>
        val payload = if (m.payload == null) Array.emptyByteArray else m.payload
        digest.reset()
        val hex = digest.digest(payload).map("%02x".format(_)).mkString
        // real decode when a JDK codec claims the bytes (image first,
        // then audio — each rejects foreign headers fast); stub otherwise
        val feat = ImageDecoder.decode(payload).map(_.feat)
          .orElse(AudioDecoder.decode(payload).map(_.feat))
          .getOrElse(FakeDecoder.decode(payload))
        MediaFeatures(m.media_id, m.modality, payload.length.toLong, hex, feat)
      }
    }
  }

  /** Decoded image dimensions/channels as a DataFrame projection — the
    * metadata a real ingest records next to the payload (vs the fixture's
    * synthetic width/height). Payloads the JDK cannot decode report
    * decoded = false with zeroed dims.
    */
  def decodeMeta(media: Dataset[MediaRow]): DataFrame = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { m =>
        ImageDecoder.decode(m.payload) match {
          case Some(d) => (m.media_id, true, d.width, d.height, d.channels)
          case None    => (m.media_id, false, 0, 0, 0)
        }
      }
    }.toDF("media_id", "decoded", "dec_width", "dec_height", "channels")
  }

  /** Metadata-only projection (payload pruned at scan — asserted in spec). */
  def mediaMeta(spark: SparkSession, dir: String): DataFrame =
    mediaTable(spark, dir).toDF()
      .select(
        col("media_id"), col("modality"),
        length(col("payload")).as("n_bytes"),
        md5(col("payload")).as("digest"),
        col("width"), col("height"))
      .orderBy(col("media_id"))

  /** 64-bit difference hash (dHash) — the perceptual image fingerprint
    * behind image NEAR-duplicate dedup (the multimodal sibling of
    * SimHash64 on text): re-encoded, recompressed, or slightly-retouched
    * copies of a picture land within a few bits of each other, while
    * unrelated pictures differ in ~32. Standard construction (public
    * literature: the "dHash" gradient hash): area-average the image to a
    * 9×8 grayscale grid, emit bit (r·8+c) iff cell (r,c) is brighter
    * than its right neighbor — 64 horizontal-gradient signs.
    *
    * Determinism contract: ALL arithmetic is integer (luma =
    * (77R+150G+29B)>>8, cell mean = sum/area with floor division, strict
    * `>` on the gradient), and pixels come from `getRGB`'s sRGB view —
    * no Graphics2D rendering, no float accumulation — so the hash is
    * bit-identical across JVMs, platforms, and partitionings. PNG being
    * lossless, it is also invariant to how the payload was encoded.
    */
  object PHash {

    def dHash64(img: java.awt.image.BufferedImage): Long = {
      val w = img.getWidth
      val h = img.getHeight
      val gw = 9
      val gh = 8
      // cell (cx,cy) covers [cx·w/gw, (cx+1)·w/gw) × [cy·h/gh, (cy+1)·h/gh),
      // clamped non-empty so tiny images (w<9 or h<8) share pixels across
      // cells instead of dividing by zero
      val mean = new Array[Long](gw * gh)
      var cy = 0
      while (cy < gh) {
        val y0 = cy * h / gh
        val y1 = math.min(h, math.max(y0 + 1, (cy + 1) * h / gh))
        var cx = 0
        while (cx < gw) {
          val x0 = cx * w / gw
          val x1 = math.min(w, math.max(x0 + 1, (cx + 1) * w / gw))
          var sum = 0L
          var y = y0
          while (y < y1) {
            var x = x0
            while (x < x1) {
              val rgb = img.getRGB(x, y)
              sum += (77 * ((rgb >> 16) & 0xFF) + 150 * ((rgb >> 8) & 0xFF) +
                29 * (rgb & 0xFF)) >> 8
              x += 1
            }
            y += 1
          }
          mean(cy * gw + cx) = sum / ((y1 - y0).toLong * (x1 - x0).toLong)
          cx += 1
        }
        cy += 1
      }
      var bits = 0L
      var r = 0
      while (r < gh) {
        var c = 0
        while (c < 8) {
          if (mean(r * gw + c) > mean(r * gw + c + 1)) bits |= 1L << (r * 8 + c)
          c += 1
        }
        r += 1
      }
      bits
    }

    /** Raw pixel decode (the feature decoder above reduces to statistics;
      * the hash needs the pixels) — same guards: bytes no reader claims,
      * or claimed-but-corrupt payloads, return None.
      */
    def decodeImage(payload: Array[Byte]): Option[java.awt.image.BufferedImage] = {
      if (payload == null || payload.length < 8) return None
      try {
        Option(javax.imageio.ImageIO.read(
          new java.io.ByteArrayInputStream(payload)))
          .filter(i => i.getWidth > 0 && i.getHeight > 0)
      } catch { case _: Exception => None }
    }

    def dHash(payload: Array[Byte]): Option[Long] = decodeImage(payload).map(dHash64)
  }

  /** Image near-duplicate pairs by banded dHash — the q_dedup_simhash
    * device applied to pictures, routed through the shared
    * [[HammingBands]] kernel: exact-hash classes collapse BEFORE banding
    * (m byte-identical logos are one candidate node, not a 4·m²/2-row hot
    * band key), candidates = distinct hashes agreeing on one df-capped
    * 16-bit sub-band (4 bands → hamming ≤ 3 total recall by pigeonhole),
    * verify = exact popcount on the full 64 bits. Scale posture: the
    * decode+hash is one map-side pass over the payloads; ONLY
    * (media_id, 8-byte hash) rides any exchange — pixels never shuffle
    * (the "text never crosses the wire" discipline, for images).
    * Undecodable payloads are data-quality events, skipped not fatal.
    *
    * Pairs output is inherently quadratic in exact-dup class size (a
    * class of m identical images owns m·(m−1)/2 true pairs) — a corpus
    * with large identical classes should consume [[imagePhashClusters]]
    * (linear output, same relation).
    */
  def imagePhashPairs(media: Dataset[MediaRow], maxHamming: Int = 3,
      maxBandDf: Int = HammingBands.DefaultMaxBandDf): DataFrame =
    HammingBands.pairs(phashHashes(media).toDF("id", "h"),
      maxHamming, PhashBands, maxBandDf)

  /** Cluster form of [[imagePhashPairs]] — connected components over the
    * hamming ≤ maxHamming relation, one row per dup group: (cluster_id,
    * keeper, n_members). LINEAR output even when the corpus carries
    * giant exact-duplicate classes (the web-crawl spacer-GIF shape):
    * identical hashes enter the component graph as one node and members
    * attach to the final label by a single equi-join on the hash.
    */
  def imagePhashClusters(media: Dataset[MediaRow], maxHamming: Int = 3,
      maxBandDf: Int = HammingBands.DefaultMaxBandDf): DataFrame =
    HammingBands.clusterKeepers(phashHashes(media).toDF("id", "h"),
      maxHamming, PhashBands, maxBandDf)

  /** Banding is part of the persisted-artifact contract (meta records it;
    * probes validate maxHamming against it), not a per-call knob. */
  val PhashBands = 4

  /** Map-side decode + dHash: (media_id, ph). The ONLY pass that touches
    * payload bytes — everything downstream is 16 B/row.
    */
  private def phashHashes(media: Dataset[MediaRow]): Dataset[(Long, Long)] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap(m => PHash.dHash(m.payload).map(ph => (m.media_id, ph)))
    }
  }

  /** Public (media_id, ph) projection — the hash-upstream helper for
    * streaming ingest (StreamMain op=imagededup hashes in the stream's
    * map stage; only 16 B/row reach the sink).
    */
  def hashMedia(media: Dataset[MediaRow]): DataFrame =
    phashHashes(media).toDF("media_id", "ph")

  /** Persisted phash index (the [[ArtifactPaths]] commit protocol,
    * rebuild included): the corpus's (media_id, dHash) pairs — 16 bytes
    * per image, the ONLY state an incremental image-dedup service needs.
    * A 100 TB image corpus indexes to ~GBs of hashes: the daily job
    * never re-decodes the corpus, it probes today's batch against this
    * table.
    */
  def savePhashIndex(media: Dataset[MediaRow], path: String,
      keyArity: Int = 1, bands: Int = PhashBands): Unit =
    savePhashIndexFromHashes(
      phashHashes(media).toDF("media_id", "ph"), path, keyArity, bands)

  /** Save from an already-hashed (media_id, ph) frame — the compact path
    * (re-hashing would need payloads the artifact never stored).
    */
  def savePhashIndexFromHashes(hashes: DataFrame, path: String,
      keyArity: Int = 1, bands: Int = PhashBands): Unit = {
    val spark = hashes.sparkSession
    import spark.implicits._
    // (bands, keyArity) is the persisted banding contract (r17 — the
    // saturation escape hatch made actionable): a corpus whose
    // check-phash report shows over-cap keys rebuilds at the suggested
    // (bands=8, arity) — e.g. 8 bands at arity 5 gives 40-bit composite
    // keys while preserving the maxHamming ≤ bands − arity = 3
    // pigeonhole — and every probe reads both from meta
    require(bands >= 2 && bands <= 32 && 64 % bands == 0,
      s"bands must divide 64 (2..32), got $bands")
    require(keyArity >= 1 && keyArity <= bands - 1,
      s"keyArity must be in [1, ${bands - 1}], got $keyArity")
    ArtifactPaths.rebuild(path)
    hashes.select(col("media_id"), col("ph"))
      .write.mode("overwrite").parquet(s"$path/hashes")
    Seq((bands, keyArity)).toDF("bands", "keyArity")
      .coalesce(1)
      .write.mode("overwrite").parquet(s"$path/meta") // meta-last = commit
  }

  /** Idempotent keyed append — the daily-ingest growth path: the
    * batch's hashes land under `appends/<key>/hashes` (the
    * [[ArtifactPaths]] protocol — a replayed batch writes nothing, a
    * colliding one is refused, a torn append is invisible to load).
    */
  def appendPhashIndexKeyed(batch: Dataset[MediaRow],
      spark: SparkSession, path: String, key: String): Unit = {
    val subtree = ArtifactPaths.appendSubtree(path, key, "hashes")
    require(ArtifactPaths.exists(path), s"no committed phash index at $path")
    val hashes = Pin(phashHashes(batch).toDF("media_id", "ph"))
    if (!ArtifactPaths.replayed(subtree, hashes, "set of hashes"))
      hashes.write.mode("overwrite").parquet(subtree)
  }

  /** The live corpus hash table: base + every COMMITTED keyed append,
    * minus tombstoned ids — the load convention of every other artifact
    * kind (a torn append has no `_SUCCESS` and is invisible; a takedown
    * suppresses the id everywhere including later appends).
    */
  def loadPhashHashes(spark: SparkSession, path: String): DataFrame = {
    require(ArtifactPaths.exists(path), s"no committed phash index at $path")
    val keyed = ArtifactPaths.committedAppends(path, "hashes")
    val all = spark.read.parquet(
      (s"$path/hashes" +: keyed.map(k => s"$path/appends/$k/hashes")): _*)
    Tombstones.exclude(all, spark, path, "media_id")
  }

  /** The artifact's full banding contract: (bands, keyArity). A
    * pre-arity artifact (meta without the column) reads as arity 1 —
    * loaded behavior degrades to the r16 kernel, never breaks.
    */
  def loadPhashBanding(spark: SparkSession, path: String): (Int, Int) = {
    require(ArtifactPaths.exists(path), s"no committed phash index at $path")
    val meta = spark.read.parquet(s"$path/meta")
    val row = meta.collect()(0)
    (row.getAs[Int]("bands"),
      if (meta.columns.contains("keyArity")) row.getAs[Int]("keyArity")
      else 1)
  }

  /** Incremental (batch-vs-corpus) image near-dup — the daily-ingest
    * shape of [[imagePhashPairs]]: hash TODAY'S batch map-side, probe the
    * persisted corpus hashes through the [[HammingBands]] kernel
    * (exact-hash matches by plain equi-join — cap-immune; distinct-hash
    * candidates through df-capped banding on the corpus side).
    * Batch-internal pairs are excluded (run imagePhashPairs within the
    * batch for those). Returns (media_id = batch id, matched_id = corpus
    * id, hamming ≤ maxHamming). Banding comes from the artifact's meta
    * and maxHamming is validated against it.
    */
  def matchAgainstPhashIndex(batch: Dataset[MediaRow],
      spark: SparkSession, path: String, maxHamming: Int = 3,
      maxBandDf: Int = HammingBands.DefaultMaxBandDf): DataFrame = {
    val (bands, keyArity) = loadPhashBanding(spark, path)
    require(maxHamming <= bands - keyArity,
      s"phash index at $path was banded with bands=$bands at key arity " +
        s"$keyArity, which only guarantees candidate recall for hamming " +
        s"<= ${bands - keyArity}; got maxHamming=$maxHamming — rebuild " +
        "with more bands / lower arity, or lower maxHamming")
    val corpus = loadPhashHashes(spark, path)
      .select(col("media_id").as("id"), col("ph").as("h"))
    val probe = phashHashes(batch).toDF("id", "h")
    HammingBands.probePairs(probe, corpus, maxHamming, bands, maxBandDf,
        keyArity)
      .select(col("id").as("media_id"), col("matched_id"), col("hamming"))
  }

  /** Rebuild-time compaction (the IndexMain compact-* contract): rewrite
    * base + committed appends MINUS tombstones into `dest` as a fresh
    * base. The source stays readable throughout; dest commits meta-last.
    */
  def compactPhashIndex(spark: SparkSession, src: String,
      dest: String): Unit = {
    val (bands, keyArity) = loadPhashBanding(spark, src)
    // banding is part of the contract — compaction carries it forward
    savePhashIndexFromHashes(loadPhashHashes(spark, src), dest, keyArity,
      bands)
  }

  /** Growth/trim report for the phash kind — the check-jaccard pattern:
    * appended subtrees and rows (per-probe listing + scan-union cost grows
    * with them until compaction), the largest exact-hash class (exact-dup
    * skew the pre-collapse absorbs), and over-cap band keys (trimmed
    * near-dup recall — the re-band / investigate signal).
    */
  /** `hottestBandDf` is the max distinct-hash df over ALL band keys at
    * the artifact's banding. `hottestBandDf8` is the same measure at the
    * REMEDY banding (bands=8, arity 1) — the input
    * HammingBands.suggestKeyArity needs: a df measured at the artifact's
    * own (possibly wider-key) banding aggregates differently than the
    * 8-bit keys the suggestion projects from, and under clustered hashes
    * the true hottest 8-bit key can exceed both the current-banding df
    * and the uniform n/256 floor, undershooting the suggested arity
    * (r17 ADVICE).
    */
  final case class PhashStats(baseRows: Long, appendSubtrees: Int,
      appendedRows: Long, distinctHashes: Long, maxClass: Long,
      overCapBandKeys: Long, hottestBandDf: Long, tombstones: Long,
      hottestBandDf8: Long)

  def phashStats(spark: SparkSession, path: String,
      maxBandDf: Int = HammingBands.DefaultMaxBandDf): PhashStats = {
    val (bands, keyArity) = loadPhashBanding(spark, path)
    val base = spark.read.parquet(s"$path/hashes").count()
    val keyed = ArtifactPaths.committedAppends(path, "hashes")
    val appended =
      if (keyed.isEmpty) 0L
      else spark.read.parquet(keyed.map(k => s"$path/appends/$k/hashes"): _*)
        .count()
    // hashes feed three aggregations (classes, current-banding over-cap,
    // remedy-banding hottest df) — pin the load once
    val live = Pin(loadPhashHashes(spark, path))
    val classes = live.groupBy(col("ph")).agg(count(lit(1)).as("m"))
      .agg(count(lit(1)).as("distinct"), max(col("m")).as("maxm"))
      .collect()(0)
    val liveIdH = live.select(col("media_id").as("id"), col("ph").as("h"))
    // over-cap report + the hottest key's df in ONE pass (the df-0 cap
    // makes overCapBandKeys return every key, so max(df) is global)
    val overRow = HammingBands.overCapBandKeys(liveIdH,
        bands, 0, keyArity) // df > 0 = all keys; filter the cap below
      .agg(count(when(col("df") > maxBandDf, 1)).as("over"),
        max(col("df")).as("hot"))
      .collect()(0)
    val hot = if (overRow.isNullAt(1)) 0L else overRow.getLong(1)
    // the remedy-banding measurement (bands=8, arity 1) — reused from the
    // pass above when the artifact is already banded that way
    val hot8 =
      if (bands == 8 && keyArity == 1) hot
      else {
        val r = HammingBands.overCapBandKeys(liveIdH, 8, 0, 1)
          .agg(max(col("df"))).collect()(0)
        if (r.isNullAt(0)) 0L else r.getLong(0)
      }
    PhashStats(base, keyed.size, appended,
      if (classes.isNullAt(0)) 0L else classes.getLong(0),
      if (classes.isNullAt(1)) 0L else classes.getLong(1),
      overRow.getLong(0), hot,
      Tombstones.count(spark, path), hot8)
  }

  /** The check-phash verdict (separated from IndexMain's exit wiring for
    * spec drive): degraded ⇔ trimmed band keys exist (near-dup recall is
    * being cut — investigate the degenerate sub-band or re-band), or
    * committed append subtrees exceed maxSubtrees (per-probe scan-union
    * and listing cost is O(#batches) until compact-phash folds them).
    */
  def phashDegraded(s: PhashStats, maxSubtrees: Int): Boolean =
    s.overCapBandKeys > 0 || s.appendSubtrees > maxSubtrees

  /** The saturation remedy check-phash prints and rebuild-phash applies
    * (one function so they can never diverge): bands=8 — the widening
    * that keeps the maxHamming=3 pigeonhole budget open — at the
    * smallest composite arity whose projected hottest-key df clears the
    * cap, from the hottest df MEASURED at the target bands=8 banding
    * (r17 ADVICE: a df measured at the artifact's own banding aggregates
    * differently and can undershoot), floored by the 8-bit uniform
    * expectation. The authoritative check is re-measuring check-phash on
    * the rebuilt artifact.
    */
  def suggestedPhashBanding(s: PhashStats,
      maxBandDf: Int = HammingBands.DefaultMaxBandDf): (Int, Int) = {
    require(s.distinctHashes > 0 && s.hottestBandDf8 > 0,
      "suggestion needs a measured non-empty hash table")
    val hot8 = math.max(s.distinctHashes / 256L, s.hottestBandDf8)
    (8, HammingBands.suggestKeyArity(s.distinctHashes,
      math.min(hot8, s.distinctHashes), maxHamming = 3, bands = 8,
      maxBandDf = maxBandDf))
  }

  /** One-command saturation remediation (r18 task 4): rebuild the
    * artifact IN PLACE from its own live member hashes at the given
    * banding. Safe without a dest dir, unlike compact-phash: the live
    * hashes pin into executor blocks (localCheckpoint) BEFORE the save
    * deletes anything, and the save's meta-first delete keeps a crash
    * mid-rebuild invisible to ArtifactPaths.exists. Folds appends and
    * drops tombstones like any rebuild.
    */
  def rebuildPhashIndex(spark: SparkSession, path: String, bands: Int,
      keyArity: Int): Unit = {
    val live = Pin(loadPhashHashes(spark, path))
    savePhashIndexFromHashes(live, path, keyArity, bands)
  }

  /** Deterministic PICTURE table derived from the documents fixture (the
    * mediaTable convention — multimodal payloads are a pure function of
    * doc_id, never synthesized data): every 20th document renders a
    * 32×32 RGB noise pattern whose BASE comes from the doc's picture
    * group (doc_id/100 — five selected docs per group) and whose
    * per-doc perturbation flips doc-dependent single pixels at NESTED
    * positions (variant k flips pixels 0..k−1), so consecutive variants
    * within a group differ by exactly one pixel — planted near-dup
    * clusters with a known gradient of hamming distances, across every
    * fixture scale. PNG encoding is lossless, so the hash sees exact
    * pixels regardless of encoder byte choices.
    */
  def pictureTable(spark: SparkSession, dir: String): Dataset[MediaRow] =
    picturesFromDocs(Tables.documents(spark, dir).toDF())

  /** [[pictureTable]] over an arbitrary documents frame (batch or
    * streaming — StreamMain replays the fixture through this): every
    * 20th doc_id renders its deterministic picture map-side.
    */
  def picturesFromDocs(docs: DataFrame): Dataset[MediaRow] = {
    import docs.sparkSession.implicits._
    docs
      .select(col("doc_id"))
      .filter(pmod(col("doc_id"), lit(20)) === 0)
      .as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          MediaRow(id, "image", renderPicture(id), 32, 32, 0)
        }
      }
  }

  /** Pure-function PNG for [[pictureTable]]: splittable-LCG noise seeded
    * by the picture group, nested single-pixel inversions by variant.
    */
  private[operators] def renderPicture(docId: Long): Array[Byte] = {
    val group = docId / 100
    val variant = ((docId % 100) / 20).toInt // 0..4 within the group
    val img = new java.awt.image.BufferedImage(
      32, 32, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var s = group * 0x9E3779B97F4A7C15L + 0x5851F42D4C957F2DL
    var y = 0
    while (y < 32) {
      var x = 0
      while (x < 32) {
        s = s * 6364136223846793005L + 1442695040888963407L
        val v = ((s >>> 33) & 0xFF).toInt
        img.setRGB(x, y, (v << 16) | (v << 8) | v)
        x += 1
      }
      y += 1
    }
    var k = 0
    while (k < variant) { // nested: variant k inverts pixels (4m+1, 1), m<k
      val px = 4 * k + 1
      img.setRGB(px, 1, ~img.getRGB(px, 1) & 0xFFFFFF)
      k += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }
}
