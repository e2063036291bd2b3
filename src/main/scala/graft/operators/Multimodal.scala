package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal column handling: image/audio/video payloads as opaque
  * `binary` columns with typed metadata extracted alongside.
  *
  * Two decode tiers:
  *
  *  - REAL image decode ([[decodeImagesReal]], [[resizeImagesReal]],
  *    [[luminanceHistogram]]) via the JDK's own `javax.imageio`
  *    (PNG/BMP/GIF/JPEG — ships with Java, zero external codecs).
  *    Undecodable payloads are QUARANTINED (`ok = false` row, fields
  *    null), never dropped and never fatal — the corrupt-record
  *    contract from the JSON sources applied to binary columns.
  *  - STUB arithmetic ([[decodeImageStub]] and the expression forms)
  *    for codecs the JDK lacks (video/audio): deterministic fake
  *    metadata keeps the plumbing testable AND oracle-checkable in
  *    DuckDB (q30/q82/q83), which a real codec output cannot be.
  */
object Multimodal {

  // force headless AWT before any ImageIO touch — executors have no X
  System.setProperty("java.awt.headless", "true")

  /** Metadata struct a real image decoder would produce. */
  case class ImageMeta(width: Long, height: Long, channels: Long, nFrames: Long)

  /** STUB decode: deterministic fake metadata derived from payload size.
    * Real implementation: decode the header bytes with a codec library.
    */
  def decodeImageStub(payload: Array[Byte]): ImageMeta = {
    val len = payload.length.toLong
    ImageMeta(
      width = 64L + (len * 31L) % 512L,
      height = 64L + (len * 17L) % 512L,
      channels = 3L,
      nFrames = 1L + len % 30L)
  }

  /** Expression form of the stub decode — stays inside whole-stage
    * codegen (the hot path for a metadata-only query; the
    * `mapPartitions` form below is for decoders that need native calls).
    */
  def imageMetaCols(payload: Column): Seq[Column] = {
    val len = length(payload).cast("long")
    Seq(
      (lit(64L) + pmod(len * 31L, lit(512L))).as("width"),
      (lit(64L) + pmod(len * 17L, lit(512L))).as("height"),
      lit(3L).as("channels"),
      (lit(1L) + pmod(len, lit(30L))).as("n_frames"))
  }

  /** Per-partition decode pipeline — the shape a real decoder uses: one
    * codec context per partition (not per row), rows streamed through it.
    * Output schema: (id, width, height, channels, n_frames).
    */
  def decodePartitioned(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // real build: acquire codec context here, release after
        rows.map { case (id, payload) =>
          val m = decodeImageStub(payload)
          (id, m.width, m.height, m.channels, m.nFrames)
        }
      }
      .toDF(idCol, "width", "height", "channels", "n_frames")
  }

  /** REAL decode of one payload: (width, height, channels), or None if
    * the bytes are not a decodable image. `ImageIO.read` sniffs the
    * container from the header — PNG/BMP/GIF/JPEG all work out of the
    * JDK with no external codec.
    */
  def decodeImage(payload: Array[Byte]): Option[(Long, Long, Long)] =
    try {
      Option(javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(payload)))
        .map(img => (img.getWidth.toLong, img.getHeight.toLong,
          img.getColorModel.getNumComponents.toLong))
    } catch { case _: Exception => None }

  /** REAL per-partition image decode: true dimensions and channel count
    * from the payload bytes. Output (id, width, height, channels, ok);
    * undecodable rows surface with ok = false and null metadata — audit
    * data, not silent loss. Same mapPartitions batch shape as the stub
    * path, so swapping tiers never changes the plan around it.
    */
  def decodeImagesReal(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          decodeImage(payload) match {
            case Some((w, h, c)) => (id, Some(w), Some(h), Some(c), true)
            case None => (id, None, None, None, false)
          }
        }
      }
      .toDF(idCol, "width", "height", "channels", "ok")
  }

  /** REAL resize: decode, scale so the longest side fits `maxSide`
    * (never upscale), re-encode as PNG. Output (id, payload, width,
    * height) with undecodable rows quarantined as null payload. The
    * work is per-row CPU inside one mapPartitions — embarrassingly
    * parallel, no shuffle, the 100 TB image-prep shape.
    */
  def resizeImagesReal(df: DataFrame, idCol: String, payloadCol: String,
                       maxSide: Int): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          val out = try {
            Option(javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(payload))).map { img =>
              val scale = math.min(1.0,
                maxSide.toDouble / math.max(img.getWidth, img.getHeight))
              val (w, h) = (math.max(1, math.floor(img.getWidth * scale).toInt),
                math.max(1, math.floor(img.getHeight * scale).toInt))
              val dst = new java.awt.image.BufferedImage(w, h,
                java.awt.image.BufferedImage.TYPE_INT_RGB)
              val g = dst.createGraphics()
              try {
                g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
                  java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
                g.drawImage(img, 0, 0, w, h, null): Unit
              } finally g.dispose()
              val bos = new java.io.ByteArrayOutputStream()
              javax.imageio.ImageIO.write(dst, "png", bos)
              (bos.toByteArray, w.toLong, h.toLong)
            }
          } catch { case _: Exception => None }
          out match {
            case Some((bytes, w, h)) => (id, Some(bytes), Some(w), Some(h))
            case None => (id, None, None, None)
          }
        }
      }
      .toDF(idCol, payloadCol, "width", "height")
  }

  /** REAL feature extraction: normalized luminance histogram over the
    * DECODED pixels (ITU-R BT.601 luma), `array<float>` like a vision
    * encoder's embedding. Undecodable payloads yield null.
    */
  def luminanceHistogram(df: DataFrame, idCol: String, payloadCol: String,
                         bins: Int = 16): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          val emb = try {
            Option(javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(payload))).map { img =>
              val counts = new Array[Float](bins)
              var y = 0
              while (y < img.getHeight) {
                var x = 0
                while (x < img.getWidth) {
                  val rgb = img.getRGB(x, y)
                  val lum = (299 * ((rgb >> 16) & 0xff) +
                    587 * ((rgb >> 8) & 0xff) + 114 * (rgb & 0xff)) / 1000
                  counts(lum * bins / 256) += 1f
                  x += 1
                }
                y += 1
              }
              val n = (img.getWidth * img.getHeight).toFloat
              counts.map(_ / n)
            }
          } catch { case _: Exception => None }
          (id, emb)
        }
      }
      .toDF(idCol, "embedding")
  }

  /** 64-bit perceptual difference hash (dHash) over the REAL decode
    * path: decode, bilinear-downscale to 9×8 luminance, one bit per
    * adjacent-pixel comparison (bit y·8+x = lum(x+1,y) > lum(x,y)).
    * Robust to resizing and re-encoding — the standard cheap
    * perceptual key for image dedup at crawl scale. Output
    * (id, dhash, ok); undecodable payloads quarantine as ok = false
    * with null dhash, the [[decodeImagesReal]] contract.
    */
  def dHash64(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          val h = try {
            Option(javax.imageio.ImageIO.read(
                new java.io.ByteArrayInputStream(payload))).map { img =>
              val dst = new java.awt.image.BufferedImage(9, 8,
                java.awt.image.BufferedImage.TYPE_INT_RGB)
              val g = dst.createGraphics()
              try {
                g.setRenderingHint(java.awt.RenderingHints.KEY_INTERPOLATION,
                  java.awt.RenderingHints.VALUE_INTERPOLATION_BILINEAR)
                g.drawImage(img, 0, 0, 9, 8, null): Unit
              } finally g.dispose()
              def lum(x: Int, y: Int): Int = {
                val rgb = dst.getRGB(x, y)
                (299 * ((rgb >> 16) & 0xff) + 587 * ((rgb >> 8) & 0xff) +
                  114 * (rgb & 0xff)) / 1000
              }
              var bits = 0L
              var y = 0
              while (y < 8) {
                var x = 0
                while (x < 8) {
                  if (lum(x + 1, y) > lum(x, y)) bits |= 1L << (y * 8 + x)
                  x += 1
                }
                y += 1
              }
              bits
            }
          } catch { case _: Exception => None }
          (id, h, h.isDefined)
        }
      }
      .toDF(idCol, "dhash", "ok")
  }

  /** Perceptual image near-dup pairs over the REAL decode path:
    * [[dHash64]] each payload (undecodable rows quarantine out), then
    * the [[NearDup.simhashNearDup]] banding machinery on the hash —
    * 8×8-bit bands, so every pair within hamming `maxHamming` ≤ 7
    * shares an exact band and the candidate generation stays an
    * equality join. A resized/re-encoded copy of an image lands within
    * a few bits of the original; unrelated images sit near hamming 32.
    * Output: doc_a, doc_b, hamming.
    */
  def imageNearDup(df: DataFrame, idCol: String, payloadCol: String,
                   maxHamming: Int = 6,
                   maxBandFreq: Option[Int] = None): DataFrame =
    NearDup.simhashNearDup(
      dHash64(df, idCol, payloadCol).filter(col("ok")),
      col(idCol), col("dhash"),
      maxHamming = maxHamming, signature = c => c,
      maxBandFreq = maxBandFreq, nBands = 8)

  /** STUB perceptual hash for the oracle-checked twin
    * ([[imageNearDupStub]]): the cross-engine md5 63-bit value of the
    * payload bytes stands in for pixels — deterministic, replayable in
    * SQL, and identical payloads (exact image duplicates) collide at
    * hamming 0 exactly as the real hash would.
    */
  def imageDHashStub(payload: Column): Column =
    (pmod(conv(substring(md5(payload), 1, 8), 16, 10).cast("long"),
      lit(2147483648L)) * lit(4294967296L)) +
      conv(substring(md5(payload), 9, 8), 16, 10).cast("long")

  /** The stub-arithmetic twin of [[imageNearDup]] (the q30/q82/q83
    * pattern): same banding, same Hamming filter, fake pixels — so the
    * whole candidate-generation and verification pipeline
    * oracle-checks in DuckDB, which a real codec output cannot.
    *
    * Scale note: 8-bit band keys saturate as the corpus outgrows
    * 256·cap docs per key — near-uniform hashes then pair O(n²/256)
    * candidates (ScalingSpec's sf0.001 rows sit below that point, and
    * the Hamming filter drops the candidates before any counted
    * exchange, so this is arithmetic, not a gated ratio). At corpus scale either set
    * `maxBandFreq` (drops only heavy keys — a heavy PERCEPTUAL key is
    * a boilerplate/blank-image cluster by definition) or trade recall
    * down to hamming ≤ 3 with 4×16-bit bands.
    */
  def imageNearDupStub(df: DataFrame, idCol: String, payloadCol: String,
                       maxHamming: Int = 6,
                       maxBandFreq: Option[Int] = None): DataFrame =
    NearDup.simhashNearDup(df, col(idCol), col(payloadCol),
      maxHamming = maxHamming, signature = imageDHashStub,
      maxBandFreq = maxBandFreq, nBands = 8)

  /** 64-bit perceptual AUDIO fingerprint over the real JDK decode path
    * — the audio analog of [[dHash64]]: decode to 16-bit PCM, mean-|s|
    * energy envelope over 65 equal windows, bit i = env(i+1) > env(i).
    * Difference bits are invariant under uniform gain (a re-mastered /
    * volume-normalized copy scales every window identically, so every
    * comparison survives) — the re-encoded-upload dedup case. Output
    * (id, ahash, ok); undecodable, non-16-bit, or < 130-sample
    * payloads quarantine as ok = false, the [[dHash64]] contract.
    */
  def audioHash64(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          val h = try {
            val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(payload))
            try {
              val fmt = in.getFormat
              val bytes = in.readAllBytes()
              val n = bytes.length / 2
              if (fmt.getSampleSizeInBits != 16 || n < 130) None
              else {
                // The JDK also decodes big-endian 16-bit streams (AIFF/AU);
                // assemble each sample per fmt.isBigEndian or the envelope
                // is byte-swapped garbage hashed with ok = true.
                val loIdx = if (fmt.isBigEndian) 1 else 0
                val hiIdx = 1 - loIdx
                val w = n / 65
                val env = new Array[Double](65)
                var k = 0
                while (k < 65) {
                  var s = 0.0
                  var i = k * w
                  val end = i + w
                  while (i < end) {
                    s += math.abs(((bytes(2 * i + hiIdx) << 8) |
                      (bytes(2 * i + loIdx) & 0xff)).toShort.toDouble)
                    i += 1
                  }
                  env(k) = s / w
                  k += 1
                }
                var bits = 0L
                var b = 0
                while (b < 64) {
                  if (env(b + 1) > env(b)) bits |= 1L << b
                  b += 1
                }
                Some(bits)
              }
            } finally in.close()
          } catch { case _: Exception => None }
          (id, h, h.isDefined)
        }
      }
      .toDF(idCol, "ahash", "ok")
  }

  /** Perceptual AUDIO near-dup — [[audioHash64]] through the same
    * 8×8-bit banding machinery as [[imageNearDup]] (pigeonhole covers
    * hamming ≤ 7; candidates stay an equality join). Completes
    * near-dup across all four payload families (text, embedding,
    * image, audio); the oracle-checked stub tier is q142's — the
    * banding pipeline is payload-agnostic and identical here.
    */
  def audioNearDup(df: DataFrame, idCol: String, payloadCol: String,
                   maxHamming: Int = 6,
                   maxBandFreq: Option[Int] = None): DataFrame =
    NearDup.simhashNearDup(
      audioHash64(df, idCol, payloadCol).filter(col("ok")),
      col(idCol), col("ahash"),
      maxHamming = maxHamming, signature = c => c,
      maxBandFreq = maxBandFreq, nBands = 8)

  /** REAL audio decode via the JDK's `javax.sound.sampled` (WAV/PCM —
    * ships with Java): sample rate, channels, frame count, duration,
    * and RMS amplitude over the 16-bit samples. Output (id, sample_rate,
    * channels, n_frames, duration_s, rms, ok); undecodable payloads
    * quarantine as ok = false, same contract as the image tier.
    */
  def decodeAudioReal(df: DataFrame, idCol: String, payloadCol: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, payload) =>
          try {
            val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
              new java.io.ByteArrayInputStream(payload))
            try {
              val fmt = in.getFormat
              val nFrames = in.getFrameLength
              val dur = nFrames.toDouble / fmt.getFrameRate
              // RMS over 16-bit PCM samples, byte order per fmt.isBigEndian
              val bytes = in.readAllBytes()
              var sumSq = 0.0
              var n = 0
              if (fmt.getSampleSizeInBits == 16) {
                val loIdx = if (fmt.isBigEndian) 1 else 0
                val hiIdx = 1 - loIdx
                var i = 0
                while (i + 1 < bytes.length) {
                  val s = ((bytes(i + hiIdx) << 8) | (bytes(i + loIdx) & 0xff)).toShort
                  sumSq += s.toDouble * s; n += 1; i += 2
                }
              }
              val rms = if (n == 0) 0.0 else math.sqrt(sumSq / n)
              (id, Some(fmt.getSampleRate.toDouble), Some(fmt.getChannels.toLong),
                Some(nFrames), Some(dur), Some(rms), true)
            } finally in.close()
          } catch {
            case _: Exception => (id, None, None, None, None, None, false)
          }
        }
      }
      .toDF(idCol, "sample_rate", "channels", "n_frames", "duration_s", "rms", "ok")
  }

  /** Deterministic frame sampling for video-like payloads: pick every
    * `stride`-th byte offset as a fake frame key — exercises the
    * explode/generator shape a frame extractor produces.
    */
  def sampleFrames(df: DataFrame, idCol: String, payloadCol: String, stride: Int): DataFrame = {
    val len = length(col(payloadCol)).cast("long")
    // empty payloads must yield no frames, not sequence(0, -1) — which
    // Spark rejects at runtime ("Illegal sequence boundaries"); null
    // payloads are already dropped by explode
    df.select(col(idCol),
        explode(when(len > 0, sequence(lit(0L), len - 1, lit(stride.toLong)))
          .otherwise(array().cast("array<bigint>")))
          .as("frame_offset"))
  }

  /** STUB feature extraction: a normalized 16-bin byte histogram as the
    * payload's "embedding" — the per-partition batch shape (one model
    * context per partition, rows streamed through) and the
    * `array<float>` output schema are exactly what a real vision
    * encoder produces; only the math inside is fake.
    */
  def featureExtractPartitioned(df: DataFrame, idCol: String, payloadCol: String,
                                bins: Int = 16): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        // real build: load the encoder weights once per partition here
        rows.map { case (id, payload) =>
          val counts = new Array[Float](bins)
          payload.foreach(b => counts((b & 0xff) * bins / 256) += 1f)
          val n = math.max(1, payload.length).toFloat
          (id, counts.map(_ / n))
        }
      }
      .toDF(idCol, "embedding")
  }

  /** STUB resize: recompute the fake metadata for a target box,
    * preserving aspect ratio (longest side fits `maxSide`). The
    * expression stays inside codegen; a real build would emit the
    * resized payload from a codec in [[decodePartitioned]]'s
    * per-partition loop instead.
    */
  def resizedMetaCols(payload: Column, maxSide: Int): Seq[Column] = {
    val len = length(payload).cast("long")
    val w = lit(64L) + pmod(len * 31L, lit(512L))
    val h = lit(64L) + pmod(len * 17L, lit(512L))
    val scale = lit(maxSide.toDouble) / greatest(w, h).cast("double")
    val clamped = least(scale, lit(1.0)) // never upscale
    Seq(
      floor(w.cast("double") * clamped).cast("long").as("resized_width"),
      floor(h.cast("double") * clamped).cast("long").as("resized_height"))
  }
}
