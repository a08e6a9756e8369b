package graft.sources

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, processed by batched per-partition
  * transforms (the Scala analog of `mapInPandas`).
  *
  * The actual codec libraries are NOT in this container, so the decode
  * kernel is a clearly-marked DETERMINISTIC STUB — everything around
  * it (schema, batching, partition parallelism, null discipline) is
  * the real production shape: swap [[StubCodec]] for an FFI-backed
  * [[MediaCodec]] and nothing else changes.
  */
/** The codec boundary, as a TYPE: everything Spark-side (schema,
  * batching, partition parallelism, null discipline) programs against
  * this trait, so swapping the deterministic test stub for a real
  * FFI-backed codec (libjpeg/ffmpeg/ONNX via JNI) is compile-checked —
  * implement these two methods and nothing else changes. Must be
  * Serializable: instances ship inside `mapPartitions` closures. */
trait MediaCodec extends Serializable {
  /** bytes → (width, height, n_frames, format). */
  def decode(bytes: Array[Byte]): (Int, Int, Int, String)
  /** bytes → unit-norm feature embedding of length `dim`. */
  def featurize(bytes: Array[Byte], dim: Int): Array[Float]

  /** 64-bit PERCEPTUAL fingerprint (average-hash) over the codec's
    * decoded-pixel feature grid, as two 32-bit words
    * `(bits 0..31, bits 32..63)` — both non-negative, so banding and
    * hamming replay in engines whose bit ops are signed-64 only.
    *
    * Default derivation: bit j = `[64·g(j) > Σ g]` over the 64-cell
    * [[featurize]] grid — for [[ImageIoCodec]] that grid is the
    * average-pooled grayscale 8×8 thumbnail, making this the classic
    * aHash: stable under recompression and mild brightness/crop noise,
    * flipped in ~half its bits by a genuinely different image. The
    * comparison is scale-invariant (unit-normalization multiplies both
    * sides by the same positive factor), so any positively-scaled grid
    * yields the same hash. */
  def perceptualHash(bytes: Array[Byte]): (Long, Long) = {
    val g = featurize(bytes, 64)
    var sum = 0.0
    var i = 0
    while (i < 64) { sum += g(i); i += 1 }
    var w0 = 0L; var w1 = 0L
    var j = 0
    while (j < 32) { if (g(j) * 64.0 > sum) w0 |= (1L << j); j += 1 }
    while (j < 64) { if (g(j) * 64.0 > sum) w1 |= (1L << (j - 32)); j += 1 }
    (w0, w1)
  }

  /** Per-FRAME perceptual fingerprint of a multi-frame medium (video
    * frame `frame`, 0-based) — the unit the frame-majority video
    * near-dup compares. Default derivation: [[perceptualHash]] over
    * the bytes salted with the frame index (`bytes ++ "|f<frame>"`) —
    * deterministic, replayable (for [[PortableCodec]] it lands in the
    * same md5 integer domain as the whole-media hash, so the oracle
    * replays it as `md5(text || '|f<frame>' || '|' || j)`). A REAL
    * codec overrides this to decode frame `frame`'s pixels and aHash
    * those ([[ImageIoCodec]] does, via `ImageReader.read(frame)`). */
  def frameHash(bytes: Array[Byte], frame: Int): (Long, Long) =
    perceptualHash(bytes ++
      ("|f" + frame).getBytes(java.nio.charset.StandardCharsets.UTF_8))

  /** Per-WINDOW chroma fingerprint of an audio medium (analysis
    * window `window`, 0-based) — the audio twin of [[frameHash]],
    * salted into its own domain (`"|a<window>"`) so an audio window
    * hash can never collide with a video frame hash of the same
    * bytes. A real codec overrides this with an actual chroma/CQT
    * hash over the decoded samples of window `window`. */
  def chromaHash(bytes: Array[Byte], window: Int): (Long, Long) =
    perceptualHash(bytes ++
      ("|a" + window).getBytes(java.nio.charset.StandardCharsets.UTF_8))
}

/** ======== STUB ========
  * Deterministic fake codec: derives plausible metadata and features
  * purely from the bytes — no codec libraries exist in this container.
  * The production build swaps in an FFI-backed [[MediaCodec]]; batch
  * shape, schema, and everything downstream stay identical. */
object StubCodec extends MediaCodec {
  override def decode(bytes: Array[Byte]): (Int, Int, Int, String) = {
    val len = bytes.length
    var h = 1125899906842597L
    var i = 0
    while (i < math.min(len, 64)) { h = h * 31 + bytes(i); i += 1 }
    val width = 64 + math.floorMod(h, 577).toInt        // 64..640
    val height = 64 + math.floorMod(h >> 16, 417).toInt // 64..480
    val frames = 1 + math.floorMod(h >> 32, 16).toInt   // 1..16
    (width, height, frames, if (len % 2 == 0) "img" else "vid")
  }

  override def featurize(bytes: Array[Byte], dim: Int): Array[Float] = {
    val out = new Array[Float](dim)
    var h = 1469598103934665603L
    var i = 0
    while (i < bytes.length) {
      h = (h ^ bytes(i)) * 1099511628211L
      out(math.floorMod(i, dim)) += (h % 1000) / 1000.0f
      i += 1
    }
    val n = math.sqrt(out.map(x => x.toDouble * x).sum)
    if (n > 0) out.map(x => (x / n).toFloat) else out
  }
}
/** ====== END STUB ====== */

/** Deterministic codec in the PORTABLE md5-48 hash domain
  * ([[graft.operators.Sampling.portableHash48Jvm]]): every output is
  * exactly replayable in any engine with md5 — the same play that made
  * q28/q30/q47 oracle-checkable. Used by the driver-gated multimodal →
  * ANN query (q60, [[graft.queries.Completeness.q60MultimodalAnn]]) so
  * the full binary-column pipeline (decode / featurize → embedding →
  * cosine top-k) is hash-compared against a DuckDB replay end-to-end
  * ([[graft.queries.Completeness.q60Sql]]), not just spec-asserted.
  *
  * featurize: bucket j of the `dim`-length vector is
  * `(h48(bytes ++ "|j") % 1000) / 1000.0`, unit-normalized in double,
  * emitted float32. One `MessageDigest` serves all `dim` hashes
  * (`digest()` resets it), so there is no per-bucket copy of the
  * input — `dim` md5 passes per row, fine for a test/oracle instance
  * (a production codec replaces the whole method). */
object PortableCodec extends MediaCodec {
  import graft.operators.Sampling.{le48, portableHash48Jvm}

  override def decode(bytes: Array[Byte]): (Int, Int, Int, String) = {
    val h = portableHash48Jvm(bytes)
    val width = 64 + (h % 577).toInt          // h is a uint48: no sign
    val height = 64 + ((h >> 16) % 417).toInt
    val frames = 1 + ((h >> 32) % 16).toInt
    (width, height, frames, if (bytes.length % 2 == 0) "img" else "vid")
  }

  override def featurize(bytes: Array[Byte], dim: Int): Array[Float] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val raw = new Array[Double](dim)
    var j = 0
    while (j < dim) {
      md.update(bytes)
      md.update(("|" + j).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      raw(j) = (le48(md.digest()) % 1000).toDouble / 1000.0
      j += 1
    }
    // left-to-right sum of squares, double sqrt — the same fold DuckDB's
    // list_dot_product + sqrt performs, so the float32 quotient below is
    // bit-identical across engines
    var ss = 0.0
    var i = 0
    while (i < dim) { ss += raw(i) * raw(i); i += 1 }
    val n = math.sqrt(ss)
    val out = new Array[Float](dim)
    i = 0
    while (i < dim) {
      out(i) = if (n > 0) (raw(i) / n).toFloat else raw(i).toFloat
      i += 1
    }
    out
  }

  /** Integer-exact override: the default [[MediaCodec.perceptualHash]]
    * compares float32 grid cells against a double mean — identical
    * decisions here (normalization cancels out of `64·v > Σv`), but a
    * cell within float rounding of the mean could flip between
    * engines. This override runs the comparison entirely on the RAW
    * integer domain values `h48(bytes ++ "|j") % 1000` (`64·v_j > Σv`
    * is an integer inequality), so the hash replays BIT-IDENTICALLY
    * in DuckDB: `(md5_number_upper(text || '|' || j) & (2^48-1)) %
    * 1000` summed per doc — the q84 oracle. */
  override def perceptualHash(bytes: Array[Byte]): (Long, Long) = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val v = new Array[Long](64)
    var sum = 0L
    var j = 0
    while (j < 64) {
      md.update(bytes)
      md.update(("|" + j).getBytes(java.nio.charset.StandardCharsets.UTF_8))
      v(j) = le48(md.digest()) % 1000
      sum += v(j)
      j += 1
    }
    var w0 = 0L; var w1 = 0L
    j = 0
    while (j < 32) { if (v(j) * 64 > sum) w0 |= (1L << j); j += 1 }
    while (j < 64) { if (v(j) * 64 > sum) w1 |= (1L << (j - 32)); j += 1 }
    (w0, w1)
  }
}

/** A REAL codec instance behind the [[MediaCodec]] seam — pure-JVM
  * image decode via `javax.imageio` (PNG/BMP/GIF/JPEG readers ship in
  * the JDK; no native deps). Proves the trait boundary with genuine
  * pixel work: metadata comes from the decoded raster, and the feature
  * vector is an average-pooled grayscale grid (the classic thumbnail
  * embedding), unit-normalized. [[StubCodec]]/[[PortableCodec]] remain
  * the deterministic test/oracle instances; this is what production
  * swaps in when the media column holds actual images. */
object ImageIoCodec extends MediaCodec {

  private def readImage(bytes: Array[Byte]): java.awt.image.BufferedImage = {
    val in = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
    require(in != null, "ImageIoCodec: bytes are not a decodable image")
    in
  }

  /** (format, n_frames) from the registered ImageReader —
    * `getNumImages(true)` counts frames of multi-frame formats the JDK
    * readers support (animated GIF). `createImageInputStream` may
    * return null per its contract; fall back to defaults then. */
  private def readerMeta(bytes: Array[Byte]): (String, Int) = {
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    if (iis == null) return ("img", 1)
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) ("img", 1)
      else {
        val r = readers.next()
        try {
          r.setInput(iis)
          val n = r.getNumImages(true)
          (r.getFormatName.toLowerCase, math.max(n, 1))
        } finally r.dispose()
      }
    } finally iis.close()
  }

  override def decode(bytes: Array[Byte]): (Int, Int, Int, String) = {
    val img = readImage(bytes)
    val (fmt, frames) = readerMeta(bytes)
    (img.getWidth, img.getHeight, frames, fmt)
  }

  /** Average-pooled grayscale grid: the image is divided into a
    * √dim × √dim cell grid (dim must be a square); each feature is the
    * mean luminance of its cell, and the vector is unit-normalized.
    * Nearby images (crops, recompressions) land nearby in cosine —
    * a genuine, if simple, visual embedding. */
  override def featurize(bytes: Array[Byte], dim: Int): Array[Float] =
    pooledGrid(readImage(bytes), dim)

  /** Average-pooled unit-norm grayscale grid of ONE raster — shared by
    * [[featurize]] (frame 0 / whole image) and [[frameHash]] (any
    * frame of a multi-frame format). */
  private def pooledGrid(img: java.awt.image.BufferedImage,
      dim: Int): Array[Float] = {
    val g = math.sqrt(dim.toDouble).toInt
    require(g * g == dim, s"ImageIoCodec.featurize: dim=$dim is not a square")
    val (w, h) = (img.getWidth, img.getHeight)
    val sums = new Array[Double](dim)
    val counts = new Array[Long](dim)
    var y = 0
    while (y < h) {
      val cy = math.min(y * g / h, g - 1)
      var x = 0
      while (x < w) {
        val cx = math.min(x * g / w, g - 1)
        val rgb = img.getRGB(x, y)
        val lum = 0.299 * ((rgb >> 16) & 0xff) + 0.587 * ((rgb >> 8) & 0xff) +
          0.114 * (rgb & 0xff)
        val c = cy * g + cx
        sums(c) += lum
        counts(c) += 1
        x += 1
      }
      y += 1
    }
    val raw = (0 until dim).map(c =>
      if (counts(c) > 0) sums(c) / counts(c) else 0.0)
    val n = math.sqrt(raw.map(v => v * v).sum)
    raw.map(v => if (n > 0) (v / n).toFloat else v.toFloat).toArray
  }

  /** REAL per-frame decode: `ImageReader.read(frame)` pulls the
    * requested frame of a multi-frame format (animated GIF via the
    * JDK reader), and the hash is the classic aHash over its pooled
    * grayscale grid — same derivation as the whole-media
    * [[MediaCodec.perceptualHash]], applied to one frame's raster
    * instead of byte-salted input (salted bytes are not a decodable
    * image, so the trait default would throw here). */
  override def frameHash(bytes: Array[Byte], frame: Int): (Long, Long) = {
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    require(iis != null, "ImageIoCodec.frameHash: no image input stream")
    val img = try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      require(readers.hasNext,
        "ImageIoCodec.frameHash: bytes are not a decodable image")
      val r = readers.next()
      try { r.setInput(iis); r.read(frame) } finally r.dispose()
    } finally iis.close()
    val g = pooledGrid(img, 64)
    var sum = 0.0
    var i = 0
    while (i < 64) { sum += g(i); i += 1 }
    var w0 = 0L; var w1 = 0L
    var j = 0
    while (j < 32) { if (g(j) * 64.0 > sum) w0 |= (1L << j); j += 1 }
    while (j < 64) { if (g(j) * 64.0 > sum) w1 |= (1L << (j - 32)); j += 1 }
    (w0, w1)
  }
}

object Multimodal {

  /** Typed metadata emitted by the decoder. */
  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("byte_len", IntegerType, nullable = false),
    StructField("width", IntegerType, nullable = false),
    StructField("height", IntegerType, nullable = false),
    StructField("n_frames", IntegerType, nullable = false),
    StructField("format", StringType, nullable = false)))

  /** Attach decoded metadata to a DataFrame with a binary `media`
    * column. Batched per partition (no per-row task overhead), output
    * schema declared up front — the `mapInPandas` shape. */
  def withMediaMeta(df: DataFrame, binaryCol: String = "media",
      codec: MediaCodec = StubCodec): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField("media_meta", mediaMetaSchema, nullable = true))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    val idx = df.schema.fieldIndex(binaryCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val meta = if (r.isNullAt(idx)) null else {
          val bytes = r.getAs[Array[Byte]](idx)
          val (w, h, f, fmt) = codec.decode(bytes)
          Row(bytes.length, w, h, f, fmt)
        }
        Row.fromSeq(r.toSeq :+ meta)
      }
    }(enc)
  }

  /** "Frame sampling": emit every `stride`-th frame index as a row —
    * the explode-shaped transform a video pipeline needs. Pure
    * expressions; at scale this is a generator, not a shuffle. */
  def sampleFrames(df: DataFrame, stride: Int): DataFrame =
    df.withColumn("frame_idx",
      explode(sequence(lit(0), col("media_meta.n_frames") - 1,
        lit(stride))))

  /** Attach a feature embedding extracted from the binary column —
    * batched per partition, declared output schema; the result feeds
    * straight into [[graft.operators.Similarity]] ANN/dedup. */
  def withFeatures(df: DataFrame, dim: Int = 64,
      binaryCol: String = "media",
      codec: MediaCodec = StubCodec): DataFrame = {
    val outSchema = StructType(df.schema.fields :+
      StructField("embedding", ArrayType(FloatType, containsNull = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    val idx = df.schema.fieldIndex(binaryCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        val vec = if (r.isNullAt(idx)) null
          else codec.featurize(r.getAs[Array[Byte]](idx), dim).toSeq
        Row.fromSeq(r.toSeq :+ vec)
      }
    }(enc)
  }

  /** Attach the 64-bit perceptual fingerprint
    * ([[MediaCodec.perceptualHash]]) as two 32-bit word columns
    * `phash0`/`phash1` — batched per partition like the other codec
    * transforms; null media → null words. A pure projection: at scale
    * the cost is the decode, and the hash adds 16 bytes per row where
    * the embedding adds 256. */
  def withPerceptualHash(df: DataFrame, binaryCol: String = "media",
      codec: MediaCodec = StubCodec): DataFrame = {
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("phash0", LongType, nullable = true),
      StructField("phash1", LongType, nullable = true)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    val idx = df.schema.fieldIndex(binaryCol)
    df.mapPartitions { rows =>
      rows.map { r =>
        if (r.isNullAt(idx)) Row.fromSeq(r.toSeq ++ Seq(null, null))
        else {
          val (w0, w1) = codec.perceptualHash(r.getAs[Array[Byte]](idx))
          Row.fromSeq(r.toSeq ++ Seq(w0, w1))
        }
      }
    }(enc)
  }

  /** IMAGE near-duplicate pairs — the multimodal twin of text SimHash
    * ([[graft.operators.Dedup.simHashDupPairs]]): perceptual
    * hash per media row, pigeonhole banding into `maxHamming + 1`
    * chunks ([[graft.operators.Dedup.simHashBandSpec]] over the two
    * 32-bit words — recall 1.0 at the promised radius by
    * construction), hot-bucket-guarded bucket join, hamming verify.
    * Output `(id_a, id_b, hamming)` feeds the same connected-components
    * / cluster-collapse machinery as every other near-dup family — a
    * complete image-dedup path, not just ANN.
    *
    * Dial semantics: `maxHamming` is absolute over 64 bits. aHash-style
    * fingerprints of genuinely related images (recompression, mild
    * crops) differ in a few bits; unrelated images differ in ~32 — the
    * default 4 keeps the 5 pigeonhole chunks 12-13 bits wide (≥ 4k
    * buckets per band, the candidate-blowup floor the text SimHash
    * documentation derives). Null-media rows carry no hash and join
    * nothing. */
  def imageNearDupPairs(df: DataFrame, maxHamming: Int = 4,
      idCol: String = "doc_id", binaryCol: String = "media",
      codec: MediaCodec = StubCodec,
      maxBucket: Int = graft.operators.HotBuckets.DefaultCap): DataFrame = {
    val sig = withPerceptualHash(
        df.select(col(idCol).as("id"), col(binaryCol)), binaryCol, codec)
      .filter(col("phash0").isNotNull)
      .select(col("id"), col("phash0").as("sig0"), col("phash1").as("sig1"))
    graft.operators.Dedup.simHashPairsFromSigWords(
      sig, Seq("sig0", "sig1"), 32, 64, maxHamming, maxBucket)
  }

  /** Per-frame fingerprints of every sampled frame: one output row per
    * (media row, sampled frame index) carrying
    * `(.., n_frames, frame_idx, fhash0, fhash1)`. `kind` selects the
    * hash domain — `"video"` → [[MediaCodec.frameHash]], `"audio"` →
    * [[MediaCodec.chromaHash]] (audio analysis windows are "frames"
    * here: [[MediaCodec.decode]]'s `n_frames` is the window count for
    * an audio codec). Batched per partition like every codec
    * transform; null media emits no rows (nothing to fingerprint —
    * the near-dup consumers drop them anyway). `stride` samples every
    * stride-th frame, the [[sampleFrames]] economics: at 100 TB the
    * decode is the cost, and near-dup detection rarely needs every
    * frame of a 30 fps stream. */
  def withFrameHashes(df: DataFrame, stride: Int = 1,
      idCol: String = "doc_id", binaryCol: String = "media",
      codec: MediaCodec = StubCodec, kind: String = "video"): DataFrame = {
    require(stride >= 1, s"stride must be >= 1, got $stride")
    require(kind == "video" || kind == "audio",
      s"kind '$kind' must be video or audio")
    val audio = kind == "audio"
    val outSchema = StructType(df.schema.fields ++ Seq(
      StructField("n_frames", IntegerType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("fhash0", LongType, nullable = false),
      StructField("fhash1", LongType, nullable = false)))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(outSchema)
    val idx = df.schema.fieldIndex(binaryCol)
    df.mapPartitions { rows =>
      rows.flatMap { r =>
        if (r.isNullAt(idx)) Iterator.empty
        else {
          val bytes = r.getAs[Array[Byte]](idx)
          val n = codec.decode(bytes)._3
          Iterator.range(0, n, stride).map { f =>
            val (w0, w1) =
              if (audio) codec.chromaHash(bytes, f)
              else codec.frameHash(bytes, f)
            // Seq[Any]: a plain Seq(n, f, w0, w1) unifies to Seq[Long]
            // and silently WIDENS the Int fields, breaking the declared
            // IntegerType schema at runtime
            Row.fromSeq(r.toSeq ++ Seq[Any](n, f, w0, w1))
          }
        }
      }
    }(enc)
  }

  /** FRAME-MAJORITY sequence near-dup pairs — the video/audio member
    * of the near-dup family: two media rows are near-duplicates when
    * at least `majorityPct`% of their sampled frame positions carry
    * matching per-frame fingerprints (hamming ≤ `maxHamming`), judged
    * against the LONGER side's sampled-frame count, so a 3-frame clip
    * is never a "duplicate" of a 100-frame video just because its 3
    * frames match.
    *
    * Scale shape: per-frame hashes ride the SAME
    * [[graft.operators.Dedup.simHashBandSpec]] pigeonhole banding +
    * hot-bucket-guarded bucket join as text SimHash and image aHash —
    * with the frame ordinal IN the bucket key, so frame k of A pairs
    * only against frame k of B (recall 1.0 per frame at the radius by
    * construction, and the frame-match COUNT is therefore exact — the
    * majority decision carries no approximation beyond the hash
    * itself). The majority test is integer arithmetic
    * (`100·matches ≥ pct·max(n_a, n_b)`), replayable bit-for-bit.
    *
    * Output: (id_a, id_b, n_match, n_frames_a, n_frames_b). Frame ids
    * are encoded as `id·maxFrames + frame_idx` internally; ids must
    * be non-negative and below 2^62/maxFrames, and a medium with
    * ≥ maxFrames frames fails LOUDLY (raise the dial — silent
    * truncation would under-count matches on long videos). */
  def sequenceNearDupPairs(df: DataFrame, kind: String,
      maxHamming: Int = 4, majorityPct: Int = 50, stride: Int = 1,
      idCol: String = "doc_id", binaryCol: String = "media",
      codec: MediaCodec = StubCodec, maxFrames: Int = 256,
      maxBucket: Int = graft.operators.HotBuckets.DefaultCap): DataFrame = {
    require(majorityPct >= 1 && majorityPct <= 100,
      s"majorityPct=$majorityPct must be an integer percent in 1..100")
    require(maxFrames >= 1, s"maxFrames=$maxFrames")
    val idBound = Long.MaxValue / (2L * maxFrames)
    val frames = withFrameHashes(
        df.select(col(idCol).as("vid"), col(binaryCol)),
        stride, "vid", binaryCol, codec, kind)
      .select(
        when(col("vid").isNull || col("vid") < 0 || col("vid") >= idBound,
          raise_error(concat(lit("sequenceNearDupPairs: id "),
            col("vid").cast("string"),
            lit(s" outside [0, $idBound) — the frame-id encoding " +
              "would collide"))))
          .otherwise(col("vid")).as("vid"),
        when(col("n_frames") > lit(maxFrames),
          raise_error(concat(lit("sequenceNearDupPairs: a medium has "),
            col("n_frames").cast("string"),
            lit(s" frames — beyond maxFrames=$maxFrames; raise the " +
              "dial (silent truncation would under-count matches)"))))
          .otherwise(col("frame_idx")).as("frame_idx"),
        col("fhash0"), col("fhash1"))
    val sig = frames.select(
      (col("vid") * lit(maxFrames.toLong) + col("frame_idx")).as("id"),
      col("frame_idx"), col("fhash0").as("sig0"), col("fhash1").as("sig1"))
    // per-ordinal banding: candidate frame pairs share (band, chunk,
    // frame_idx); verify exact hamming; recall 1.0 per frame
    val framePairs = graft.operators.Dedup.simHashPairsFromSigWords(
      sig, Seq("sig0", "sig1"), 32, 64, maxHamming, maxBucket,
      extraKeyCols = Seq("frame_idx"))
    val matches = framePairs
      // integer `div`, NOT `/`: double division loses exactness past
      // 2^53, and frame ids legitimately range to 2^62
      .select(expr(s"id_a div ${maxFrames.toLong}").as("va"),
        expr(s"id_b div ${maxFrames.toLong}").as("vb"))
      // frame ids of the same ordinal are never same-video; a<b on
      // frame ids implies va <= vb, and va == vb is impossible
      .groupBy(col("va"), col("vb"))
      .agg(count(lit(1)).as("n_match"))
    // sampled-frame counts via a DECODE-ONLY pass: re-deriving them
    // from `frames` would re-run the full per-frame HASH pass (64
    // digests per frame) just to count rows — the decode is one digest
    // per medium, and ceil(n/stride) is exactly the sampled-row count
    // Iterator.range emits
    val counts = withMediaMeta(
        df.select(col(idCol).as("vid"), col(binaryCol)), binaryCol, codec)
      .filter(col("media_meta").isNotNull)
      .select(col("vid"),
        expr(s"CAST((media_meta.n_frames + ${stride - 1}) div $stride" +
          " AS BIGINT)").as("nf"))
    matches
      .join(counts.select(col("vid").as("va"), col("nf").as("n_frames_a")), "va")
      .join(counts.select(col("vid").as("vb"), col("nf").as("n_frames_b")), "vb")
      .filter(col("n_match") * 100 >=
        lit(majorityPct.toLong) * greatest(col("n_frames_a"), col("n_frames_b")))
      .select(col("va").as("id_a"), col("vb").as("id_b"), col("n_match"),
        col("n_frames_a"), col("n_frames_b"))
  }

  /** Frame-majority VIDEO near-dup ([[sequenceNearDupPairs]] over
    * [[MediaCodec.frameHash]]). */
  def videoNearDupPairs(df: DataFrame, maxHamming: Int = 4,
      majorityPct: Int = 50, stride: Int = 1, idCol: String = "doc_id",
      binaryCol: String = "media", codec: MediaCodec = StubCodec,
      maxFrames: Int = 256,
      maxBucket: Int = graft.operators.HotBuckets.DefaultCap): DataFrame =
    sequenceNearDupPairs(df, "video", maxHamming, majorityPct, stride,
      idCol, binaryCol, codec, maxFrames, maxBucket)

  /** Window-majority AUDIO near-dup ([[sequenceNearDupPairs]] over
    * [[MediaCodec.chromaHash]] — its own salt domain, so audio
    * windows never cross-match video frames of identical bytes). */
  def audioNearDupPairs(df: DataFrame, maxHamming: Int = 4,
      majorityPct: Int = 50, stride: Int = 1, idCol: String = "doc_id",
      binaryCol: String = "media", codec: MediaCodec = StubCodec,
      maxFrames: Int = 256,
      maxBucket: Int = graft.operators.HotBuckets.DefaultCap): DataFrame =
    sequenceNearDupPairs(df, "audio", maxHamming, majorityPct, stride,
      idCol, binaryCol, codec, maxFrames, maxBucket)

  /** "Resize": recompute metadata for a target box preserving aspect
    * ratio — pure column arithmetic over the decoded metadata (the
    * pixel work happens in the decode kernel at materialization). */
  def resizeMeta(df: DataFrame, maxW: Int, maxH: Int): DataFrame = {
    val w = col("media_meta.width").cast(DoubleType)
    val h = col("media_meta.height").cast(DoubleType)
    val scale = least(lit(maxW) / w, lit(maxH) / h, lit(1.0))
    df.withColumn("resized_w", floor(w * scale).cast(IntegerType))
      .withColumn("resized_h", floor(h * scale).cast(IntegerType))
  }

  /** Build a synthetic media column from text (UTF-8 bytes) — lets the
    * plumbing be exercised against the driver's documents table. */
  def mediaFromText(df: DataFrame, textCol: String = "text"): DataFrame =
    df.withColumn("media", encode(col(textCol), "UTF-8"))
}
