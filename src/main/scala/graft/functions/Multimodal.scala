package graft.functions

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns plus a typed metadata struct, with batch-shaped
  * decode/feature/resize stages over `mapPartitions`.
  *
  * Decode kernels are REAL for every image format the pipeline sniffs
  * — PPM/BMP (raw), PNG (full zlib + scanline filters), GIF (real
  * variable-width LZW), baseline JPEG (stream-defined Huffman tables,
  * zigzag/dequant/IDCT, YCbCr) — plus RIFF/WAV PCM audio, all in
  * [[MediaCodecs]]/[[Jpeg]] and oracle-gated (`multimodal_decode`,
  * `multimodal_png`, `multimodal_gif`, `multimodal_jpeg`,
  * `multimodal_audio`). Formats that genuinely need external codec
  * libraries (MP3/H.264-class audio/video) fall back to a
  * clearly-marked deterministic stand-in; the Spark-side contract
  * (schema, batch iteration, partitioning, metadata-first filtering
  * before any decode) is identical either way.
  */
object Multimodal {

  /** media metadata carried next to every binary payload. */
  val MetaSchema: StructType = StructType(Seq(
    StructField("mime", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("duration_ms", LongType)))

  /** Wrap a source column as (payload binary, meta struct). The fixture
    * tables carry no real media, so payloads come from text bytes and
    * metadata is derived deterministically — the schema and plan shape
    * are what downstream stages program against. */
  def asMedia(df: DataFrame, srcCol: String, mime: String): DataFrame =
    df.withColumn("payload", col(srcCol).cast(BinaryType))
      .withColumn("media_meta", struct(
        lit(mime).as("mime"),
        (length(col(srcCol)) % 1920).cast(IntegerType).as("width"),
        (length(col(srcCol)) % 1080).cast(IntegerType).as("height"),
        (length(col(srcCol)).cast(LongType) * 33).as("duration_ms")))

  /** Content-type sniffing from magic bytes (the public file-signature
    * table: JPEG FFD8FF, PNG 89504E47…, RIFF containers, ISO-BMFF
    * `ftyp`, …) — what a mixed media crawl runs FIRST, before trusting
    * any declared mime or paying for a decode. Pure hex-prefix
    * comparisons on the binary column: whole-stage codegen, scan
    * speed, no UDFs. Unknown signatures map to
    * `application/octet-stream`. */
  def mimeSniff(payload: Column): Column = {
    def at(off: Int, n: Int) = hex(substring(payload, off + 1, n))
    def pfx(n: Int) = at(0, n)
    when(pfx(3) === "FFD8FF", "image/jpeg")
      .when(pfx(8) === "89504E470D0A1A0A", "image/png")
      .when(pfx(6).isin("474946383761", "474946383961"), "image/gif")
      // RIFF containers discriminate on the format tag at offset 8
      .when(pfx(4) === "52494646" && at(8, 4) === "57415645", "audio/wav")
      .when(pfx(4) === "52494646" && at(8, 4) === "57454250", "image/webp")
      .when(pfx(4) === "52494646" && at(8, 4) === "41564920", "video/avi")
      // ISO-BMFF: box size (4 bytes) then 'ftyp'
      .when(at(4, 4) === "66747970", "video/mp4")
      .when(pfx(4) === "4F676753", "audio/ogg")
      .when(pfx(4) === "664C6143", "audio/flac")
      .when(pfx(3) === "494433", "audio/mpeg")
      .when(pfx(4) === "25504446", "application/pdf")
      .when(pfx(4) === "504B0304", "application/zip")
      .otherwise("application/octet-stream")
  }

  /** Cheap metadata-level features — pure expressions, no decode:
    * byte length and content hash. This is the stage that should do all
    * filtering/dedup before any expensive decode runs. */
  def byteFeatures(df: DataFrame, payloadCol: String = "payload"): DataFrame =
    df.withColumn("byte_len", octet_length(col(payloadCol)))
      .withColumn("content_sha", sha2(col(payloadCol), 256))

  /** Batch decode stage: mapPartitions with a per-batch kernel — the
    * Scala analogue of a pandas-UDF `mapInPandas` stage. PPM/BMP/WAV
    * payloads run the REAL [[MediaCodecs]] decoders (features from
    * actual pixels/samples); other formats fall back to a byte
    * histogram, the documented stand-in for codec-library formats. */
  val FeatureDim = 8

  private[functions] def decodeKernel(payload: Array[Byte]): Array[Float] = {
    val out = new Array[Float](FeatureDim)
    if (payload == null || payload.isEmpty) return out
    MediaCodecs.sniff(payload) match {
      case "image/x-portable-pixmap" | "image/bmp" =>
        // real decode: per-channel means + geometry
        val r = try MediaCodecs.decodeImage(payload)
          catch { case scala.util.control.NonFatal(_) => return out }
        var cr = 0L; var cg = 0L; var cb = 0L
        var i = 0
        while (i < r.rgb.length) {
          cr += r.rgb(i) & 0xff; cg += r.rgb(i + 1) & 0xff
          cb += r.rgb(i + 2) & 0xff
          i += 3
        }
        val n = (r.width * r.height).max(1)
        out(0) = cr.toFloat / n / 255f
        out(1) = cg.toFloat / n / 255f
        out(2) = cb.toFloat / n / 255f
        out(3) = r.width.toFloat
        out(4) = r.height.toFloat
        out
      case "audio/wav" =>
        // real decode: rms/peak/zero-crossings + geometry
        val p = try MediaCodecs.decodeWav(payload)
          catch { case scala.util.control.NonFatal(_) => return out }
        var sq = 0.0; var peak = 0; var zc = 0
        var i = 0
        while (i < p.samples.length) {
          val s = p.samples(i)
          sq += s.toDouble * s
          if (math.abs(s.toInt) > peak) peak = math.abs(s.toInt)
          if (i > 0 && ((s < 0) != (p.samples(i - 1) < 0))) zc += 1
          i += 1
        }
        val n = p.samples.length.max(1)
        out(0) = (math.sqrt(sq / n) / 32768.0).toFloat
        out(1) = peak / 32768f
        out(2) = zc.toFloat / n
        out(3) = p.samples.length.toFloat
        out(4) = p.sampleRate.toFloat
        out(5) = p.channels.toFloat
        out
      case _ =>
        // STAND-IN for codec-library formats (MP3/video…)
        var i = 0
        while (i < payload.length) {
          out(i % FeatureDim) += (payload(i) & 0xff) / 255.0f
          i += 1
        }
        var j = 0
        while (j < FeatureDim) { out(j) /= payload.length; j += 1 }
        out
    }
  }

  /** Real image-decode stage: adds integer-exact raster stats
    * (`width height sum_r sum_g sum_b`) from an actual PPM/BMP decode.
    * Integer sums, not float means, so results verify bit-for-bit in
    * any engine. Undecodable payloads yield null stats (curation
    * pipelines route them to quarantine, they never poison a batch). */
  def decodeImageStats(df: DataFrame, payloadCol: String = "payload"): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("width", IntegerType), StructField("height", IntegerType),
      StructField("sum_r", LongType), StructField("sum_g", LongType),
      StructField("sum_b", LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    val idx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val payload = r.get(idx).asInstanceOf[Array[Byte]]
        val stats =
          try {
            val img = MediaCodecs.decodeImage(payload)
            var cr = 0L; var cg = 0L; var cb = 0L
            var i = 0
            while (i < img.rgb.length) {
              cr += img.rgb(i) & 0xff; cg += img.rgb(i + 1) & 0xff
              cb += img.rgb(i + 2) & 0xff
              i += 3
            }
            // Seq[Any], not Seq: a mixed Int/Long Seq numerically
            // widens every element to Long and breaks the INT schema
            Seq[Any](img.width, img.height, cr, cg, cb)
          } catch {
            case scala.util.control.NonFatal(_) =>
              Seq[Any](null, null, null, null, null)
          }
        Row.fromSeq(r.toSeq ++ stats)
      }
    }(enc)
  }

  /** Video frame sampling over an AVI/MJPEG binary column: walk the
    * REAL container (RIFF movi chunks), take every `every`-th frame,
    * decode each through the real JPEG kernel, emit one row per
    * sampled frame with integer-exact raster stats. This is the
    * training-pipeline video stage — sample-then-decode, so the
    * decode cost scales with the SAMPLED frame count, not the video
    * length; undecodable payloads yield a single null-stats row for
    * quarantine routing. */
  def frameSampleStats(df: DataFrame, every: Int,
                       payloadCol: String = "payload"): DataFrame = {
    require(every > 0, "sampling stride must be positive")
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("frame_idx", IntegerType),
      StructField("width", IntegerType), StructField("height", IntegerType),
      StructField("sum_r", LongType), StructField("sum_g", LongType),
      StructField("sum_b", LongType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    val idx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        val payload = r.get(idx).asInstanceOf[Array[Byte]]
        try {
          val frames = MediaCodecs.decodeAviFrames(payload)
          frames.indices.collect {
            case i if i % every == 0 =>
              val img = Jpeg.decode(frames(i))
              var cr = 0L; var cg = 0L; var cb = 0L
              var p = 0
              while (p < img.rgb.length) {
                cr += img.rgb(p) & 0xff; cg += img.rgb(p + 1) & 0xff
                cb += img.rgb(p + 2) & 0xff
                p += 3
              }
              Row.fromSeq(r.toSeq ++
                Seq[Any](i, img.width, img.height, cr, cg, cb))
          }
        } catch {
          case scala.util.control.NonFatal(_) =>
            Seq(Row.fromSeq(r.toSeq ++
              Seq[Any](null, null, null, null, null, null)))
        }
      }
    }(enc)
  }

  /** Real resize stage: decode PPM/BMP, nearest-neighbor resample to
    * `w x h`, re-encode as PPM into `resizedCol`. Null for
    * undecodable payloads. */
  def resizeImages(df: DataFrame, w: Int, h: Int,
                   payloadCol: String = "payload",
                   resizedCol: String = "resized"): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField(resizedCol, BinaryType))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    val idx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val payload = r.get(idx).asInstanceOf[Array[Byte]]
        val resized =
          try MediaCodecs.encodePpm(
            MediaCodecs.resizeNearest(MediaCodecs.decodeImage(payload), w, h))
          catch { case scala.util.control.NonFatal(_) => null }
        Row.fromSeq(r.toSeq :+ resized)
      }
    }(enc)
  }

  /** Real audio-decode stage: integer-exact PCM stats
    * (`n_samples sample_rate sum_abs peak`) from an actual WAV decode.
    * Null stats for undecodable payloads. */
  /** Frequency-domain audio features: decode the WAV, FFT the first
    * `fftSize` samples ([[Dsp.fft]] — real radix-2, deterministic
    * butterfly order), report the dominant non-DC bin. Null stats for
    * undecodable or too-short payloads (quarantine routing). */
  def audioSpectral(df: DataFrame, fftSize: Int = 64,
                    payloadCol: String = "payload"): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("n_samples", IntegerType),
      StructField("dominant_bin", IntegerType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    val idx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val payload = r.get(idx).asInstanceOf[Array[Byte]]
        val stats =
          try {
            val pcm = MediaCodecs.decodeWav(payload)
            Seq[Any](pcm.samples.length,
              Dsp.dominantBin(pcm.samples, fftSize))
          } catch {
            case scala.util.control.NonFatal(_) => Seq[Any](null, null)
          }
        Row.fromSeq(r.toSeq ++ stats)
      }
    }(enc)
  }

  /** Per-frame spectral fingerprint over a WAV binary column — the
    * audio analogue of [[graft.functions.ImageDedup.dhashFrame]]:
    * decode through the real RIFF walker, split the PCM into
    * `fftSize`-sample frames, take each frame's dominant FFT bin, and
    * hash the bin sequence (md5 of the comma-joined bins, so any
    * engine that knows the bins reproduces the fingerprint). Docs
    * sharing a fingerprint are content-dup candidates robust to
    * amplitude/level changes (argmax is gain-invariant). A pure map
    * stage; matching is an exact hash groupBy downstream. */
  def audioFingerprint(df: DataFrame, fftSize: Int = 64,
                       payloadCol: String = "payload"): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("bins", ArrayType(IntegerType)),
      StructField("fp", StringType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    val idx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        val payload = r.get(idx).asInstanceOf[Array[Byte]]
        val out =
          try {
            val pcm = MediaCodecs.decodeWav(payload)
            val nFrames = pcm.samples.length / fftSize
            require(nFrames > 0, s"need $fftSize samples for one frame")
            val bins = Array.tabulate(nFrames) { f =>
              Dsp.dominantBin(
                pcm.samples.slice(f * fftSize, (f + 1) * fftSize), fftSize)
            }
            md.reset()
            val fp = Hashing.hex(md.digest(bins.mkString(",").getBytes("UTF-8")))
            Seq[Any](bins.toSeq, fp)
          } catch {
            case scala.util.control.NonFatal(_) => Seq[Any](null, null)
          }
        Row.fromSeq(r.toSeq ++ out)
      }
    }(enc)
  }

  /** Temporal-signature video fingerprint — the video analogue of
    * [[audioFingerprint]]: walk the real AVI container, decode every
    * `every`-th frame through the real JPEG kernel, take each sampled
    * frame's mean luma quantized to `quant`-wide buckets (small
    * re-encode jitter lands in the same bucket), and hash the bucket
    * sequence. Decode cost ∝ sampled frames; matching is an exact
    * hash groupBy downstream. */
  def videoFingerprint(df: DataFrame, every: Int = 2, quant: Int = 8,
                       payloadCol: String = "payload"): DataFrame = {
    require(every > 0 && quant > 0, "stride and quantizer must be positive")
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("qmeans", ArrayType(IntegerType)),
      StructField("fp", StringType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    val idx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      val md = java.security.MessageDigest.getInstance("MD5")
      rows.map { r =>
        val payload = r.get(idx).asInstanceOf[Array[Byte]]
        val out =
          try {
            val frames = MediaCodecs.decodeAviFrames(payload)
            require(frames.nonEmpty, "no frames in container")
            val qs = frames.indices.collect {
              case i if i % every == 0 =>
                val img = MediaCodecs.decodeImage(frames(i))
                var sum = 0L
                var p = 0
                while (p < img.rgb.length) {
                  sum += (77 * (img.rgb(p) & 0xff) +
                    150 * (img.rgb(p + 1) & 0xff) +
                    29 * (img.rgb(p + 2) & 0xff)) >> 8
                  p += 3
                }
                ((sum / (img.width * img.height)) / quant).toInt
            }
            md.reset()
            val fp = Hashing.hex(md.digest(qs.mkString(",").getBytes("UTF-8")))
            Seq[Any](qs, fp)
          } catch {
            case scala.util.control.NonFatal(_) => Seq[Any](null, null)
          }
        Row.fromSeq(r.toSeq ++ out)
      }
    }(enc)
  }

  def decodeAudioStats(df: DataFrame, payloadCol: String = "payload"): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("n_samples", IntegerType),
      StructField("sample_rate", IntegerType),
      StructField("sum_abs", LongType), StructField("peak", IntegerType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    val idx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val payload = r.get(idx).asInstanceOf[Array[Byte]]
        val stats =
          try {
            val p = MediaCodecs.decodeWav(payload)
            var sum = 0L; var peak = 0
            var i = 0
            while (i < p.samples.length) {
              val a = math.abs(p.samples(i).toInt)
              sum += a; if (a > peak) peak = a
              i += 1
            }
            Seq[Any](p.samples.length, p.sampleRate, sum, peak)
          } catch {
            case scala.util.control.NonFatal(_) =>
              Seq[Any](null, null, null, null)
          }
        Row.fromSeq(r.toSeq ++ stats)
      }
    }(enc)
  }

  /** Decode/feature-extract over batches. Output: input columns plus
    * `features array<float>`. Partition-parallel, constant memory per
    * batch, no driver involvement. */
  def decodeFeatures(df: DataFrame, payloadCol: String = "payload"): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField("features", ArrayType(FloatType)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    val idx = df.schema.fieldIndex(payloadCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val payload = r.get(idx).asInstanceOf[Array[Byte]]
        Row.fromSeq(r.toSeq :+ decodeKernel(payload).toSeq)
      }
    }(enc)
  }

  /** Frame sampling stub: pick every `stride`-th chunk of the payload —
    * stands in for video frame extraction; the plan shape (explode to
    * one row per frame, carrying metadata) is the real contract. */
  def sampleFrames(df: DataFrame, stride: Int,
                   payloadCol: String = "payload"): DataFrame = {
    val nFrames = greatest(lit(1),
      (octet_length(col(payloadCol)) / lit(stride)).cast(IntegerType))
    df.withColumn("frame_idx",
        explode(sequence(lit(0), nFrames - 1)))
      .withColumn("frame",
        col(payloadCol).substr(col("frame_idx") * stride + 1, lit(stride)))
  }
}
