package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Multimodal column plumbing: image/audio/video as opaque `binary` columns
 * with typed metadata, plus decode / feature-extract / resize / frame-sample
 * stages.
 *
 * The IMAGE path is real: [[decodeImage]] decodes png/jpeg bytes with
 * `javax.imageio` (JDK-only, no new dependencies) into width / height /
 * channels / per-channel means / luminance, and [[resizeImages]] rewrites
 * the bytes through a deterministic nearest-neighbor rescale. Audio/video
 * codecs are not in the JDK, so [[decodeFeatures]] remains the
 * clearly-marked deterministic stub for those modalities — the per-partition
 * batching, output schema and null passthrough around it are the real
 * plumbing and identical to the image path's.
 *
 * Scale notes: media rows are large and skewed, so every stage (a) keeps the
 * binary column out of shuffles (features are extracted first, bytes dropped
 * before any wide operation), and (b) repartitions by target byte budget,
 * not row count.
 */
object Multimodal {

  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", StringType, nullable = false),
    StructField("media_type", StringType, nullable = false), // image|audio|video
    StructField("content", BinaryType, nullable = true),
    StructField("width", IntegerType, nullable = true),
    StructField("height", IntegerType, nullable = true),
    StructField("duration_ms", LongType, nullable = true),
    StructField("codec", StringType, nullable = true)))

  /** Wrap a raw bytes frame into the typed media schema. */
  def asMedia(df: DataFrame, idCol: String, bytesCol: String,
              mediaType: String): DataFrame =
    df.select(
      col(idCol).cast("string").as("media_id"),
      lit(mediaType).as("media_type"),
      col(bytesCol).cast("binary").as("content"),
      lit(null).cast("int").as("width"),
      lit(null).cast("int").as("height"),
      lit(null).cast("long").as("duration_ms"),
      lit(null).cast("string").as("codec"))

  /**
   * STUB decode: deterministic pseudo-features from the content bytes.
   * Replace the body with a real codec call (PIL/ffmpeg equivalent) in
   * production; everything around it — per-partition batching, output
   * schema, null passthrough — is the real plumbing.
   */
  def decodeFeatures(media: DataFrame, featureDim: Int = 16): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", StringType, nullable = false),
      StructField("media_type", StringType, nullable = false),
      StructField("n_bytes", LongType, nullable = false),
      StructField("features", ArrayType(FloatType), nullable = true)))
    val rdd = media.select("media_id", "media_type", "content").rdd
      .mapPartitions { rows =>
        // Batch shape: one digest instance per partition, reused across rows
        // (where a real decoder would hold its codec context).
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { r =>
          val id = r.getString(0)
          val tpe = r.getString(1)
          val bytes = if (r.isNullAt(2)) Array.empty[Byte] else r.getAs[Array[Byte]](2)
          val feats: Array[Float] =
            if (bytes.isEmpty) null
            else {
              // ??? real decode goes here — stub: md5-seeded pseudo-features
              // (double math, final float rounding: reproducible anywhere)
              val d = md.digest(bytes)
              Array.tabulate(featureDim) { i =>
                ((d((i * 3) % d.length) & 0xff) / 255.0 * 2.0 - 1.0).toFloat
              }
            }
          Row(id, tpe, bytes.length.toLong, feats)
        }
      }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Real image decode (javax.imageio: png/jpeg/gif/bmp). One decoder pass
    * per partition; bytes are consumed here and DROPPED from the output, so
    * nothing downstream shuffles the binary column. Undecodable rows pass
    * through with null features and a `decode_error` — at corpus scale a
    * corrupt image must quarantine the row, not kill the job. Sums are
    * integer-exact (long accumulators); means are one double division at
    * the end, so results replay bit-identically anywhere. */
  def decodeImage(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", StringType, nullable = false),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("channels", IntegerType, nullable = true),
      StructField("mean_r", DoubleType, nullable = true),
      StructField("mean_g", DoubleType, nullable = true),
      StructField("mean_b", DoubleType, nullable = true),
      StructField("mean_luma", DoubleType, nullable = true),
      StructField("decode_error", StringType, nullable = true)))
    val rdd = media.select("media_id", "content").rdd.mapPartitions { rows =>
      // in-memory ImageIO streams: the default file cache writes a temp
      // file PER read/write call (~2 ms each) — for small in-memory images
      // that disk churn IS the cost, measured ~3x on the decode query
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { r =>
        val id = r.getString(0)
        val bytes = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        if (bytes == null || bytes.isEmpty)
          Row(id, null, null, null, null, null, null, null, "empty content")
        else try {
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(bytes))
          if (img == null)
            Row(id, null, null, null, null, null, null, null,
              "unreadable image bytes")
          else {
            val (w, h) = (img.getWidth, img.getHeight)
            var (sr, sg, sb) = (0L, 0L, 0L)
            // bulk row reads: per-pixel getRGB pays a ColorModel conversion
            // and bounds check per call — a row at a time is several times
            // faster with identical integer sums
            val rowBuf = new Array[Int](w)
            var y = 0
            while (y < h) {
              img.getRGB(0, y, w, 1, rowBuf, 0, w)
              var x = 0
              while (x < w) {
                val rgb = rowBuf(x)
                sr += (rgb >> 16) & 0xff
                sg += (rgb >> 8) & 0xff
                sb += rgb & 0xff
                x += 1
              }
              y += 1
            }
            val n = w.toLong * h
            val (mr, mg, mb) =
              (sr.toDouble / n, sg.toDouble / n, sb.toDouble / n)
            Row(id, w, h, img.getRaster.getNumBands,
              mr, mg, mb, 0.299 * mr + 0.587 * mg + 0.114 * mb, null)
          }
        } catch {
          case e: Exception =>
            Row(id, null, null, null, null, null, null, null,
              s"decode failed: ${e.getMessage}")
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Deterministic synthetic PNG corpus: REAL encoded bytes whose decoded
    * features are analytically computable, so the real decoder can be
    * oracle-gated. Per row, an md5 of `seedCol` drives a checkerboard:
    *   width  = 4 + digest[0] % 13, height = 3 + digest[1] % 7,
    *   color1 = digest[2..4], color2 = digest[5..7],
    *   pixel(x,y) = if ((x+y) even) color1 else color2
    * — the same derivation a SQL oracle replays from `md5(seed)` hex. */
  def synthPngMedia(df: DataFrame, idCol: String, seedCol: String): DataFrame = {
    val spark = df.sparkSession
    val rdd = Spread.perRowHeavy(
        df.select(col(idCol).cast("string"), col(seedCol).cast("string")))
      .rdd.mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false) // no temp-file per encode
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { r =>
          val (id, seed) = (r.getString(0), r.getString(1))
          if (seed == null) {
            // mirror SQL's md5(NULL) = NULL: a null seed yields a null-byte
            // row instead of killing the task (decodeImage then quarantines
            // it like any other undecodable row)
            Row(id, "image", null, null, null, null, null)
          } else synthRow(md, id, seed)
        }
      }
    spark.createDataFrame(rdd, mediaSchema)
  }

  private def synthRow(md: java.security.MessageDigest, id: String,
                       seed: String): Row = {
    val d = md.digest(seed.getBytes("UTF-8"))
    val w = 4 + ((d(0) & 0xff) % 13)
    val h = 3 + ((d(1) & 0xff) % 7)
    val c1 = ((d(2) & 0xff) << 16) | ((d(3) & 0xff) << 8) | (d(4) & 0xff)
    val c2 = ((d(5) & 0xff) << 16) | ((d(6) & 0xff) << 8) | (d(7) & 0xff)
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.setRGB(x, y, if (((x + y) & 1) == 0) c1 else c2)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    Row(id, "image", bos.toByteArray, w: Integer, h: Integer, null, "png")
  }

  /** Real resize: decode, nearest-neighbor rescale (deterministic — no
    * interpolation rounding to chase across platforms), re-encode png.
    * Content is rewritten; width/height metadata updated; undecodable rows
    * pass through unchanged with their original bytes. */
  def resizeImages(media: DataFrame, targetW: Int, targetH: Int): DataFrame = {
    require(targetW > 0 && targetH > 0, "target dimensions must be positive")
    val spark = media.sparkSession
    val rdd = media.select("media_id", "media_type", "content", "width",
      "height", "duration_ms", "codec").rdd.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false) // no temp-file cache per call
      rows.map { r =>
        val bytes = if (r.isNullAt(2)) null else r.getAs[Array[Byte]](2)
        val decoded =
          if (bytes == null || bytes.isEmpty) null
          else javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
        if (decoded == null)
          // undecodable rows really do pass through unchanged — including
          // their original width/height metadata, not nulled copies
          Row(r.getString(0), r.getString(1), bytes,
            if (r.isNullAt(3)) null else r.getInt(3): Integer,
            if (r.isNullAt(4)) null else r.getInt(4): Integer,
            if (r.isNullAt(5)) null else r.getLong(5): java.lang.Long,
            if (r.isNullAt(6)) null else r.getString(6))
        else {
          val out = new java.awt.image.BufferedImage(
            targetW, targetH, java.awt.image.BufferedImage.TYPE_INT_RGB)
          // row-buffered: one bulk read of each sampled source row and one
          // bulk write per output row (identical pixels to per-pixel
          // get/setRGB, several times fewer ColorModel conversions)
          val srcW = decoded.getWidth
          val srcBuf = new Array[Int](srcW)
          val outBuf = new Array[Int](targetW)
          var y = 0
          while (y < targetH) {
            val sy = (y.toLong * decoded.getHeight / targetH).toInt
            decoded.getRGB(0, sy, srcW, 1, srcBuf, 0, srcW)
            var x = 0
            while (x < targetW) {
              outBuf(x) = srcBuf((x.toLong * srcW / targetW).toInt)
              x += 1
            }
            out.setRGB(0, y, targetW, 1, outBuf, 0, targetW)
            y += 1
          }
          val bos = new java.io.ByteArrayOutputStream()
          javax.imageio.ImageIO.write(out, "png", bos)
          Row(r.getString(0), r.getString(1), bos.toByteArray,
            targetW: Integer, targetH: Integer,
            if (r.isNullAt(5)) null else r.getLong(5): java.lang.Long, "png")
        }
      }
    }
    spark.createDataFrame(rdd, mediaSchema)
  }

  /**
   * Deterministic synthetic GRADIENT png corpus for the perceptual-hash
   * path: real encoded bytes whose sampled grid lumas are analytically
   * computable. Per row, md5(seed) drives a grayscale quadratic field
   *   width  = 16 + digest[0] % 9   (16..24)
   *   height = 12 + digest[1] % 7   (12..18)
   *   a = digest[2], b = 1 + digest[3] % 7, c = 1 + digest[4] % 7,
   *   e = 1 + digest[5] % 13
   *   luma(x, y) = (a + b·x + c·y + 7·x² + 11·y² + e·x·y) mod 256
   * (grayscale pixel = (luma, luma, luma)). The quadratic + cross terms
   * matter: a LINEAR gradient's adjacent-sample dHash bits fire only at
   * mod-256 wraparounds, leaving every hash near-zero and almost all
   * image PAIRS within small hamming — quadratic pair blowup in any
   * near-dup join (measured: 85k pairs from 572 images). The quadratic
   * field makes adjacent-sample deltas spread mod 256, so bits are
   * ~Bernoulli(½) and unrelated images essentially never collide
   * and every `variantEvery`-th id also emits a NEAR-DUPLICATE twin
   * (media_id suffixed `_v`): the same gradient with the single pixel at
   * dHash sample coordinate (x₀, y₀) = ((w)/16, (h)/16) shifted by
   * +128 mod 256 — one sampled cell differs, so the twin's [[dHash56]]
   * is within hamming 1 of the original (the near-dup the LSH join must
   * find). A SQL oracle replays everything from `md5(seed)` hex.
   */
  /** `wideParams` widens the coefficient ranges (b ≤ 31, c ≤ 29, e ≤ 61 —
    * ~900M parameter combos instead of ~1.4M): the ORACLE-gated corpus
    * keeps the narrow SQL-replayable defaults, while scale probes use the
    * wide family so organic parameter collisions (true near-dup mass that
    * grows quadratically in a bounded family) don't drown the planted
    * twins (measured by the since-removed `phashscale` probe). */
  def synthGradientPngMedia(df: DataFrame, idCol: String, seedCol: String,
                            variantEvery: Int = 0,
                            wideParams: Boolean = false): DataFrame = {
    val spark = df.sparkSession
    val rdd = Spread.perRowHeavy(
        df.select(col(idCol).cast("string"), col(seedCol).cast("string")))
      .rdd.mapPartitions { rows =>
        javax.imageio.ImageIO.setUseCache(false)
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.flatMap { r =>
          val (id, seed) = (r.getString(0), r.getString(1))
          if (seed == null) Seq(Row(id, "image", null, null, null, null, null))
          else {
            val base = gradientRow(md, id, seed, variant = false, wideParams)
            val isVariant = variantEvery > 0 &&
              id.toLongOption.exists(_ % variantEvery == 0)
            if (isVariant)
              Seq(base,
                gradientRow(md, id + "_v", seed, variant = true, wideParams))
            else Seq(base)
          }
        }
      }
    spark.createDataFrame(rdd, mediaSchema)
  }

  private def gradientRow(md: java.security.MessageDigest, id: String,
                          seed: String, variant: Boolean,
                          wide: Boolean = false): Row = {
    val d = md.digest(seed.getBytes("UTF-8"))
    val w = 16 + ((d(0) & 0xff) % 9)
    val h = 12 + ((d(1) & 0xff) % 7)
    val a = d(2) & 0xff
    val b = 1 + ((d(3) & 0xff) % (if (wide) 31 else 7))
    val c = 1 + ((d(4) & 0xff) % (if (wide) 29 else 7))
    val e = 1 + ((d(5) & 0xff) % (if (wide) 61 else 13))
    val (vx, vy) = (w / 16, h / 16) // dHash sample (i=0, j=0) coordinate
    val img = new java.awt.image.BufferedImage(
      w, h, java.awt.image.BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var l = (a + b * x + c * y + 7 * x * x + 11 * y * y + e * x * y) % 256
        if (variant && x == vx && y == vy) l = (l + 128) % 256
        img.setRGB(x, y, (l << 16) | (l << 8) | l)
        x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    Row(id, "image", bos.toByteArray, w: Integer, h: Integer, null, "png")
  }

  /**
   * 56-bit perceptual difference hash (the LAION-style image-dedup
   * fingerprint): decode, nearest-neighbor-sample an 8×8 luma grid at
   * x_i = ⌊(2i+1)·w/16⌋, y_j = ⌊(2j+1)·h/16⌋, then one bit per adjacent
   * horizontal pair — bit(i,j) = luma(i,j) > luma(i+1,j), 7 bits × 8
   * rows, packed big-endian into bits 55..0 of a BIGINT. 56 bits (not
   * the classic 64 from a 9×8 grid) keeps the value a POSITIVE int64, so
   * SQL engines with checked shifts (`1::BIGINT << 63` overflows in
   * DuckDB) replay it exactly. Luma is the integer 299r+587g+114b
   * (scale-1000 BT.601 — monotone, so comparisons match any scaling).
   *
   * Same plumbing contract as [[decodeImage]]: bytes consumed here and
   * dropped from the output; undecodable rows quarantine with a
   * `decode_error`. Hash arithmetic is all-integer — replays
   * bit-identically anywhere.
   */
  def dHash56(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", StringType, nullable = false),
      StructField("width", IntegerType, nullable = true),
      StructField("height", IntegerType, nullable = true),
      StructField("phash", LongType, nullable = true),
      StructField("decode_error", StringType, nullable = true)))
    val rdd = media.select("media_id", "content").rdd.mapPartitions { rows =>
      javax.imageio.ImageIO.setUseCache(false)
      rows.map { r =>
        val id = r.getString(0)
        val bytes = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        if (bytes == null || bytes.isEmpty)
          Row(id, null, null, null, "empty content")
        else try {
          val img = javax.imageio.ImageIO.read(
            new java.io.ByteArrayInputStream(bytes))
          if (img == null) Row(id, null, null, null, "unreadable image bytes")
          else {
            val (w, h) = (img.getWidth, img.getHeight)
            val lumas = Array.ofDim[Int](8, 8)
            var j = 0
            while (j < 8) {
              val y = (2 * j + 1) * h / 16
              var i = 0
              while (i < 8) {
                val x = (2 * i + 1) * w / 16
                val rgb = img.getRGB(x, y)
                lumas(j)(i) = 299 * ((rgb >> 16) & 0xff) +
                  587 * ((rgb >> 8) & 0xff) + 114 * (rgb & 0xff)
                i += 1
              }
              j += 1
            }
            var hash = 0L
            j = 0
            while (j < 8) {
              var i = 0
              while (i < 7) {
                if (lumas(j)(i) > lumas(j)(i + 1))
                  hash |= 1L << (55 - (j * 7 + i))
                i += 1
              }
              j += 1
            }
            Row(id, w, h, hash: java.lang.Long, null)
          }
        } catch {
          case e: Exception =>
            Row(id, null, null, null, s"decode failed: ${e.getMessage}")
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /**
   * Perceptual-hash near-duplicate pairs via banded hamming LSH: split
   * the 56-bit hash into 4 bands of 14 bits; candidates share (band-id,
   * band-value); verification is `bit_count(a XOR b) <= maxHamming`.
   * Pigeonhole: any pair within hamming ≤ 3 leaves at least one of the
   * 4 bands untouched, so with the default threshold the banded join is
   * EXACT (recall 1.0), not approximate — `maxHamming` is capped at
   * bands−1 to keep that guarantee (raise `bands` to trade joins for a
   * looser cap). Scale shape: the explode is `bands` rows per image, the
   * join an equi-join on the band key; verification touches candidate
   * pairs only. The structural law sizing `bands` for a corpus: random
   * band collisions contribute an expected N²·bands/2^(56/bands) pair
   * floor, so 4×14-bit banding turns quadratic once N ≫ 2^14 while
   * 2×28-bit (hamming ≤ 1) stays at the true-output floor to N ≈ 2^28 —
   * measured by the since-removed `phashscale` probe (at N=20k: 349k candidate
   * pairs for 437 true dups at 4 bands vs 1.9k for 252 at 2).
   *
   * Input: [[dHash56]] output (undecoded rows dropped). Returns
   * (id_a, id_b, hamming), id_a < id_b, each pair once.
   */
  def phashNearDup(hashed: DataFrame, maxHamming: Int = 3,
                   bands: Int = 4): DataFrame = {
    require(bands >= 1 && 56 % bands == 0, s"bands must divide 56: $bands")
    require(maxHamming >= 0 && maxHamming < bands,
      s"maxHamming must be < bands=$bands for exact recall, got $maxHamming")
    val bandBits = 56 / bands
    val mask = (1L << bandBits) - 1
    val base = hashed.filter(col("phash").isNotNull)
      .select(col("media_id"), col("phash"))
    val banded = base.select(col("media_id"), col("phash"),
      explode(array((0 until bands).map { k =>
        struct(lit(k).as("k"),
          (shiftright(col("phash"), bandBits * k) bitwiseAND mask)
            .as("v"))
      }: _*)).as("band"))
      .select(col("media_id"), col("phash"),
        col("band.k").as("k"), col("band.v").as("v"))
    banded.as("l").join(banded.as("r"),
        col("l.k") === col("r.k") && col("l.v") === col("r.v") &&
          col("l.media_id") < col("r.media_id"))
      .select(col("l.media_id").as("id_a"), col("r.media_id").as("id_b"),
        bit_count(col("l.phash") bitwiseXOR col("r.phash")).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Real audio decode (javax.sound.sampled: RIFF/WAVE PCM — the one codec
    * family the JDK ships). Same plumbing contract as [[decodeImage]]: one
    * pass per partition, bytes consumed here and DROPPED from the output,
    * undecodable rows quarantine with a `decode_error` instead of killing
    * the job. Amplitude sums are integer-exact (long accumulators over the
    * 16-bit samples); mean and RMS are one double division / sqrt at the
    * end, so results replay bit-identically anywhere. */
  def decodeAudio(media: DataFrame): DataFrame = {
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", StringType, nullable = false),
      StructField("sample_rate", IntegerType, nullable = true),
      StructField("channels", IntegerType, nullable = true),
      StructField("n_samples", LongType, nullable = true),
      StructField("duration_ms", LongType, nullable = true),
      StructField("mean_amp", DoubleType, nullable = true),
      StructField("rms", DoubleType, nullable = true),
      StructField("peak", IntegerType, nullable = true),
      StructField("decode_error", StringType, nullable = true)))
    val rdd = media.select("media_id", "content").rdd.mapPartitions { rows =>
      rows.map { r =>
        val id = r.getString(0)
        val bytes = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        if (bytes == null || bytes.isEmpty)
          Row(id, null, null, null, null, null, null, null, "empty content")
        else try {
          val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(bytes))
          try {
            val fmt = in.getFormat
            if (fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1 ||
                fmt.isBigEndian)
              Row(id, null, null, null, null, null, null, null,
                s"unsupported format: ${fmt.getSampleSizeInBits}-bit " +
                  s"${fmt.getChannels}ch ${if (fmt.isBigEndian) "BE" else "LE"}")
            else {
              val raw = in.readAllBytes()
              val n = raw.length / 2
              var (sum, sumSq) = (0L, 0L)
              var peak = 0
              var i = 0
              while (i < n) {
                val s = ((raw(2 * i) & 0xff) | (raw(2 * i + 1) << 8)).toShort.toInt
                sum += s
                sumSq += s.toLong * s
                val a = math.abs(s)
                if (a > peak) peak = a
                i += 1
              }
              val rate = fmt.getSampleRate.toInt
              Row(id, rate, 1, n.toLong, n.toLong * 1000L / rate,
                if (n == 0) null else sum.toDouble / n,
                if (n == 0) null else math.sqrt(sumSq.toDouble / n),
                peak: Integer, null)
            }
          } finally in.close()
        } catch {
          case e: Exception =>
            Row(id, null, null, null, null, null, null, null,
              s"decode failed: ${e.getMessage}")
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Per-frame RMS energy over fixed sample windows (the audio analogue of
    * [[sampleFramePlan]], but with real feature extraction): one row per
    * frame, frame boundaries at multiples of `frameSamples`, ragged tail
    * kept. Bytes are consumed in the same pass that computes the energies,
    * so only (media_id, frame_idx, frame RMS) rows — not audio bytes — ever
    * reach a shuffle. Undecodable rows are dropped here (quarantine first
    * with [[decodeAudio]] if you need them). */
  def audioFrameEnergy(media: DataFrame, frameSamples: Int): DataFrame = {
    require(frameSamples > 0, s"frameSamples must be positive, got $frameSamples")
    val spark = media.sparkSession
    val outSchema = StructType(Seq(
      StructField("media_id", StringType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("n_samples", IntegerType, nullable = false),
      StructField("rms", DoubleType, nullable = false)))
    val rdd = media.select("media_id", "content").rdd.mapPartitions { rows =>
      rows.flatMap { r =>
        val bytes = if (r.isNullAt(1)) null else r.getAs[Array[Byte]](1)
        if (bytes == null || bytes.isEmpty) Iterator.empty
        else try {
          val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(bytes))
          try {
            val fmt = in.getFormat
            if (fmt.getSampleSizeInBits != 16 || fmt.getChannels != 1 ||
                fmt.isBigEndian) Iterator.empty
            else {
              val raw = in.readAllBytes()
              val n = raw.length / 2
              val id = r.getString(0)
              (0 until (n + frameSamples - 1) / frameSamples).iterator.map { f =>
                val lo = f * frameSamples
                val hi = math.min(lo + frameSamples, n)
                var sumSq = 0L
                var i = lo
                while (i < hi) {
                  val s = ((raw(2 * i) & 0xff) | (raw(2 * i + 1) << 8)).toShort.toInt
                  sumSq += s.toLong * s
                  i += 1
                }
                Row(id, f, hi - lo, math.sqrt(sumSq.toDouble / (hi - lo)))
              }
            }
          } finally in.close()
        } catch { case _: Exception => Iterator.empty }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Deterministic synthetic WAV corpus: REAL RIFF/WAVE PCM16LE mono bytes
    * whose decoded stats are analytically computable, so the real decoder can
    * be oracle-gated (the audio twin of [[synthPngMedia]]). Per row, an md5
    * of `seedCol` drives the clip:
    *   n_samples = 64 + digest[0] % 192,  sample rate 8000 Hz,
    *   sample[i] = signed(digest[1 + (i % 15)]) * 256
    * — a 15-byte cycle (co-prime with typical frame sizes), replayable from
    * `md5(seed)` hex with integer cycle math. */
  def synthWavMedia(df: DataFrame, idCol: String, seedCol: String): DataFrame = {
    val spark = df.sparkSession
    // NO Spread here (unlike the PNG twins): AudioSystem.write goes through
    // the JVM-global javax.sound provider registry whose lookups serialize
    // on a shared lock — measured 0.9 s (1 task) → 1.9-2.5 s (32 tasks) at
    // sf0.1, pure contention. The PNG paths (ImageIO with setUseCache
    // false) parallelize cleanly and keep their Spread.
    val rdd = df.select(col(idCol).cast("string"), col(seedCol).cast("string"))
      .rdd.mapPartitions { rows =>
        val md = java.security.MessageDigest.getInstance("MD5")
        rows.map { r =>
          val (id, seed) = (r.getString(0), r.getString(1))
          if (seed == null) Row(id, "audio", null, null, null, null, null)
          else {
            val d = md.digest(seed.getBytes("UTF-8"))
            val n = 64 + ((d(0) & 0xff) % 192)
            val pcm = new Array[Byte](2 * n)
            var i = 0
            while (i < n) {
              val s = d(1 + (i % 15)).toInt * 256 // signed byte → 16-bit
              pcm(2 * i) = (s & 0xff).toByte
              pcm(2 * i + 1) = ((s >> 8) & 0xff).toByte
              i += 1
            }
            val bos = new java.io.ByteArrayOutputStream()
            val ais = new javax.sound.sampled.AudioInputStream(
              new java.io.ByteArrayInputStream(pcm),
              new javax.sound.sampled.AudioFormat(8000f, 16, 1, true, false),
              n.toLong)
            javax.sound.sampled.AudioSystem.write(ais,
              javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
            Row(id, "audio", bos.toByteArray, null, null,
              n.toLong * 1000L / 8000L, "pcm_s16le")
          }
        }
      }
    spark.createDataFrame(rdd, mediaSchema)
  }

  /** Metadata-only resize plan: records the target dims without touching
    * bytes (the cheap path when downstream only needs the plan); use
    * [[resizeImages]] to actually rewrite content. */
  def resize(media: DataFrame, w: Int, h: Int): DataFrame =
    media.withColumn("width", lit(w)).withColumn("height", lit(h))

  /** Frame sampling plan for videos: one row per sampled frame timestamp —
    * the explode happens on metadata only; bytes stay with the parent row. */
  def sampleFramePlan(media: DataFrame, everyMs: Long): DataFrame = {
    require(everyMs > 0, s"everyMs must be positive, got $everyMs")
    media.filter(col("media_type") === "video" && col("duration_ms").isNotNull)
      .withColumn("frame_ts_ms",
        explode(sequence(lit(0L), col("duration_ms"), lit(everyMs))))
      .drop("content")
  }

  /** Byte-budget repartitioning: media tables skew by row size, so partition
    * count derives from total bytes, not row count. */
  def repartitionByBytes(media: DataFrame, targetBytesPerPartition: Long): DataFrame = {
    // sum over zero rows is NULL — an empty frame gets one partition, not
    // an NPE out of getLong
    val row = media.agg(sum(coalesce(length(col("content")), lit(0)))).head()
    val totalBytes = if (row.isNullAt(0)) 0L else row.getLong(0)
    val parts = math.max(1, (totalBytes / targetBytesPerPartition).toInt)
    media.repartition(parts, col("media_id"))
  }
}
