package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Dataset, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing for a training-data pipeline.
  *
  * Media (image/audio/video) travels as an opaque `binary` column with typed
  * metadata; decode / feature-extract / resize / frame-sample run inside
  * `mapPartitions` with explicit micro-batching — the Scala analogue of a
  * Pandas-UDF `mapInPandas` stage (per-batch setup amortization, bounded
  * memory per batch).
  *
  * Decode is REAL for images AND audio: image-mime payloads go through the
  * JDK's ImageIO (PNG/BMP/GIF/JPEG — pure JVM, headless-safe) to gray pixel
  * buffers, and PCM WAV payloads through `javax.sound.sampled.AudioSystem`
  * to 16-bit sample arrays; `q_multimodal_decode` / `q_multimodal_audio`
  * oracle-check the full encode→decode→feature paths against pixel/sample
  * math recomputed independently in DuckDB. Compressed-audio and video
  * codecs don't ship with the JDK, so those payloads pass through as
  * already-decoded byte streams (documented boundary; the
  * feature/frame/resize math downstream is shared).
  *
  * Scale: all stages are narrow (no shuffle); media bytes never leave their
  * input partition until an explicit aggregation.
  */
object Multimodal {

  /** ImageIO's default stream cache backs every create*Stream call with a
    * TEMP FILE; under a 32-thread decode the temp-dir churn is a measurable,
    * PERSISTENT per-JVM tax — measured: q_multimodal_scenes warm passes ran
    * 4.2–5.1 s in a fresh JVM but 7.5–8.5 s in a JVM that had run the JPEG
    * leg first (the r7 bench isolated 6.9→11.0 s "regression" was exactly
    * this, not a plan change). All graft media are small in-memory byte
    * arrays, so memory-cached streams are strictly better. Runs once per
    * JVM when the object loads — on a cluster, once per executor. */
  javax.imageio.ImageIO.setUseCache(false)

  /** Rows processed per inner batch inside a partition — the `mapInPandas`
    * Arrow-batch analogue. Amortizes per-batch decoder setup and bounds
    * per-batch memory to batchSize x max media size. */
  val BatchSize = 64

  val featureDim = 16

  /** Dispatch decode by mime: images through ImageIO to gray pixels;
    * everything else passes through (no audio/video codecs in the JDK —
    * payload is treated as the already-decoded sample stream). An image
    * payload the codec rejects also passes through rather than dropping
    * the row (schema-drift tolerance, same stance as the ingest pipeline). */
  private def decode(media: Array[Byte], mime: String): Array[Byte] =
    if (mime.startsWith("image/")) decodeImage(media).map(_._3).getOrElse(media)
    else media

  /** REAL image decode via the JDK's ImageIO: bytes -> (width, height,
    * row-major gray samples). Single-band rasters read directly; multi-band
    * collapse through integer BT.601 luminance. Returns None when no
    * registered codec accepts the bytes. */
  def decodeImage(media: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    val img =
      try javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(media))
      catch { case _: Exception => null }
    Option(img).map { im =>
      val w = im.getWidth
      val h = im.getHeight
      val raster = im.getRaster
      val out = new Array[Byte](w * h)
      val gray = raster.getNumBands == 1
      var i = 0
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          out(i) =
            if (gray) raster.getSample(x, y, 0).toByte
            else ((299 * raster.getSample(x, y, 0) + 587 * raster.getSample(x, y, 1) +
              114 * raster.getSample(x, y, 2)) / 1000).toByte
          i += 1
          x += 1
        }
        y += 1
      }
      (w, h, out)
    }
  }

  /** Gray pixels -> PNG bytes (lossless, so decode∘encode is identity —
    * the property the oracle relies on). */
  def encodeGrayPng(pixels: Array[Byte], w: Int, h: Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    var i = 0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.getRaster.setSample(x, y, 0, pixels(i) & 0xff); i += 1; x += 1 }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "png", bos)
    bos.toByteArray
  }

  /** Gray pixels -> JPEG bytes at an explicit quality — the LOSSY codec
    * leg (the JDK ships a JPEG plugin alongside PNG; same headless-safe
    * ImageIO surface). Unlike [[encodeGrayPng]] decode∘encode is NOT
    * identity, which is exactly what the JPEG queries exercise: invariants
    * (dimensions, pHash stability) instead of exact pixels. */
  def encodeGrayJpeg(pixels: Array[Byte], w: Int, h: Int, quality: Float = 0.95f): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    var i = 0
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) { img.getRaster.setSample(x, y, 0, pixels(i) & 0xff); i += 1; x += 1 }
      y += 1
    }
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpeg").next()
    val params = writer.getDefaultWriteParam
    params.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    params.setCompressionQuality(quality)
    val baos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
    try {
      writer.setOutput(ios)
      writer.write(null, new javax.imageio.IIOImage(img, null, null), params)
    } finally { writer.dispose(); ios.close() }
    baos.toByteArray
  }

  /** Quality-95 JPEG re-encode of the [[syntheticImagesNoisy]] corpus —
    * byte-identical pixel formula, lossy container: the mixed-codec crawl
    * a real image pipeline ingests (LAION is overwhelmingly JPEG). The
    * pHash of each JPEG should sit within a few bits of its PNG twin's —
    * the decode-tolerant invariant `q_multimodal_jpeg` pins. */
  def syntheticImagesJpeg(spark: SparkSession, dir: String): DataFrame = {
    val jpegUdf = org.apache.spark.sql.functions.udf { docId: Long =>
      val k = docId % 256
      val shift = (docId / 256) % 5 - 2
      val px = Array.tabulate(SyntheticImgW * SyntheticImgH)(
        i => (((k * 2654435761L + i * (2 * k + 7) + i.toLong * i * (k % 13 + 1)) % 250
          + 3 + shift) & 0xff).toByte)
      encodeGrayJpeg(px, SyntheticImgW, SyntheticImgH)
    }
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), jpegUdf(col("doc_id")).as("media"),
        lit("image/jpeg").as("mime_type"))
  }

  /** Feature extraction over decoded bytes: 16-bin byte histogram
    * (bin = byte >> 4 for 7-bit text bytes), L1-normalized. Deterministic,
    * so the DuckDB oracle can recompute chosen bins with regexp counts. */
  def extractFeatures(decoded: Array[Byte]): Array[Float] = {
    val hist = new Array[Float](featureDim)
    var i = 0
    while (i < decoded.length) {
      val b = decoded(i) & 0xff
      hist((b >> 4) & (featureDim - 1)) += 1f
      i += 1
    }
    if (decoded.length > 0) {
      var j = 0
      while (j < featureDim) { hist(j) /= decoded.length; j += 1 }
    }
    hist
  }

  /** "Frame sample": every strideth byte, up to maxFrames — the shape of
    * sampling frames from a video container (stub semantics over bytes). */
  def frameSample(decoded: Array[Byte], stride: Int, maxFrames: Int): Array[Byte] =
    decoded.indices.by(stride).take(maxFrames).map(decoded(_)).toArray

  /** Order-sensitive rolling hash of the (stride 7, ≤32) frame sample —
    * 64-bit wrapping multiply-add; the DuckDB oracle mirrors it in HUGEINT
    * arithmetic mod 2^64. */
  def frameFingerprint(decoded: Array[Byte]): Long =
    frameSample(decoded, stride = 7, maxFrames = 32)
      .foldLeft(1125899906842597L)((acc, b) => acc * 31 + (b & 0xff))

  /** "Resize" to a fixed target length: nearest-neighbor downsample over the
    * byte buffer (the 1-D analogue of nearest-neighbor image resize; a real
    * implementation would interpolate pixels after decode). Output length is
    * exactly `target` for any non-empty input — the fixed-shape contract a
    * training pipeline needs before batching tensors. */
  def resize(decoded: Array[Byte], target: Int): Array[Byte] = {
    if (decoded.isEmpty || target <= 0) Array.emptyByteArray
    else {
      val out = new Array[Byte](target)
      var i = 0
      while (i < target) {
        out(i) = decoded(((i.toLong * decoded.length) / target).toInt)
        i += 1
      }
      out
    }
  }

  val mediaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("mime_type", StringType, nullable = false),
    StructField("byte_len", LongType, nullable = false),
    StructField("features", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("frame_fingerprint", LongType, nullable = false)))

  /** media (binary) -> typed metadata + features + frame fingerprint, in
    * explicit batches inside each partition. Input df must have columns
    * (doc_id: long, media: binary, mime_type: string). */
  def processMedia(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val rdd = df.select("doc_id", "media", "mime_type").rdd.mapPartitions { rows =>
      rows.grouped(BatchSize).flatMap { batch =>
        // per-batch setup would live here (decoder init) — amortized like
        // a pandas UDF's per-Arrow-batch setup
        batch.iterator.map { r =>
          val docId = r.getLong(0)
          val media = r.getAs[Array[Byte]](1)
          val mime = r.getString(2)
          val decoded = decode(media, mime)
          val features = extractFeatures(decoded)
          val fp = frameFingerprint(decoded)
          Row(docId, mime, media.length.toLong, features.toSeq, fp)
        }
      }
    }
    spark.createDataFrame(rdd, mediaSchema)
  }

  /** The documents table dressed as a media table: utf-8 bytes as the opaque
    * payload, passed through decode untouched (a text mime is not an image). */
  def documentsAsMedia(spark: SparkSession, dir: String): DataFrame =
    spark.read.parquet(s"$dir/documents.parquet")
      .select(
        col("doc_id"),
        encode(col("text"), "utf-8").as("media"),
        lit("text/plain;fake=1").as("mime_type"))

  /** Deterministic 8x8 gray PNG per document: pixel(i) = (doc_id*31+i*7)%256.
    * REAL compressed image bytes (zlib-filtered PNG), so the decode stage
    * exercises an actual codec; the pixel formula is what lets DuckDB
    * recompute expected features/fingerprints independently. */
  val SyntheticImgW = 8
  val SyntheticImgH = 8
  def syntheticImages(spark: SparkSession, dir: String): DataFrame = {
    val pngUdf = org.apache.spark.sql.functions.udf { docId: Long =>
      val px = Array.tabulate(SyntheticImgW * SyntheticImgH)(
        i => (((docId * 31 + i * 7) % 256) & 0xff).toByte)
      encodeGrayPng(px, SyntheticImgW, SyntheticImgH)
    }
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), pngUdf(col("doc_id")).as("media"),
        lit("image/png").as("mime_type"))
  }

  /** Brightness-shifted variant of [[syntheticImages]]: same base pattern
    * per doc_id % 256 class (base pixels kept in [3, 252]) plus a UNIFORM
    * per-replica brightness shift in [-2, 2] ((doc_id / 256) % 5 - 2, no
    * clamping ever hits). Two docs in the same class are thus perceptual
    * NEAR-duplicates — different bytes, different exact fingerprints, same
    * image up to brightness — the planted structure `q_multimodal_phash`
    * must recover and exact dedup must miss. */
  def syntheticImagesNoisy(spark: SparkSession, dir: String): DataFrame = {
    val pngUdf = org.apache.spark.sql.functions.udf { docId: Long =>
      val k = docId % 256
      val shift = (docId / 256) % 5 - 2
      // quadratic phase term: a plain ramp makes every class a cyclic
      // shift of the same gradient, which pHash (correctly) lumps
      // together — measured 64 distinct hashes over 256 classes; the
      // i² term gives 256/256
      val px = Array.tabulate(SyntheticImgW * SyntheticImgH)(
        i => (((k * 2654435761L + i * (2 * k + 7) + i.toLong * i * (k % 13 + 1)) % 250
          + 3 + shift) & 0xff).toByte)
      encodeGrayPng(px, SyntheticImgW, SyntheticImgH)
    }
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), pngUdf(col("doc_id")).as("media"),
        lit("image/png").as("mime_type"))
  }

  /** Dithered variant of [[syntheticImagesNoisy]] for the RADIUS near-dup
    * query: replicas (doc_id >= 256) additionally get a ±1 alternating
    * dither — a NON-uniform perturbation, so (unlike the pure brightness
    * shift) it moves a few pHash bits: measured over the 244 planted
    * pairs, Hamming distance is 0 for 226, 1-2 for 18, never above 2 —
    * every pair inside radius 3, and the nonzero-distance pairs are
    * exactly the ones identical-hash grouping cannot pair. Base range
    * [6, 249] keeps shift+dither clamp-free. */
  def syntheticImagesDithered(spark: SparkSession, dir: String): DataFrame = {
    val pngUdf = org.apache.spark.sql.functions.udf { docId: Long =>
      val k = docId % 256
      val shift = (docId / 256) % 5 - 2
      val px = Array.tabulate(SyntheticImgW * SyntheticImgH) { i =>
        val dither = if (docId >= 256) { if (i % 2 == 0) 1 else -1 } else 0
        (((k * 2654435761L + i * (2 * k + 7) + i.toLong * i * (k % 13 + 1)) % 244
          + 6 + shift + dither) & 0xff).toByte
      }
      encodeGrayPng(px, SyntheticImgW, SyntheticImgH)
    }
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), pngUdf(col("doc_id")).as("media"),
        lit("image/png").as("mime_type"))
  }

  // -------------------------------------------------------------------------
  // Perceptual hash (DCT pHash) — image near-dup at LAION scale
  // -------------------------------------------------------------------------

  /** Integer DCT-II basis, W(u)(x) = round(64·cos((2x+1)uπ/16)), row-major.
    * Shared literal with the DuckDB oracle. Every non-DC row sums to
    * EXACTLY zero after rounding — which makes all 63 AC coefficients
    * bit-exactly invariant under a uniform brightness shift (the shift
    * term factors as shift·ΣW(u)·ΣW(v) and one factor is always a
    * zero-sum row), the property the near-dup demonstration leans on. */
  val DctW: Array[Int] = Array(
    64, 64, 64, 64, 64, 64, 64, 64,
    63, 53, 36, 12, -12, -36, -53, -63,
    59, 24, -24, -59, -59, -24, 24, 59,
    53, -12, -63, -36, 36, 63, 12, -53,
    45, -45, -45, 45, 45, -45, -45, 45,
    36, -63, 12, 53, -53, -12, 63, -36,
    24, -59, 59, -24, -24, 59, -59, 24,
    12, -36, 53, -63, 63, -53, 36, -12)

  /** DCT perceptual hash of an 8x8 gray image: full integer 2-D DCT, the
    * 63 AC coefficients (DC dropped — it carries only mean brightness)
    * thresholded against their 32nd-smallest value (an order statistic,
    * not a mean/median, so both engines agree without tie rules), packed
    * as two 32-bit words in BIGINTs (bits 0-31 / 32-62; the established
    * ANSI-safe packing). Classic pHash runs 32x32→DCT→top-left 8x8; on an
    * 8x8 source the full transform IS that low-frequency block. */
  def phash8(px: Array[Byte]): (Long, Long) = {
    val ac = new Array[Long](63)
    var c = 1
    while (c < 64) {
      val u = c / 8
      val v = c % 8
      var s = 0L
      var i = 0
      while (i < 64) {
        s += DctW(u * 8 + i / 8).toLong * DctW(v * 8 + i % 8) * (px(i) & 0xff)
        i += 1
      }
      ac(c - 1) = s
      c += 1
    }
    val thr = ac.sorted.apply(31)
    var w0 = 0L
    var w1 = 0L
    var j = 0
    while (j < 63) {
      if (ac(j) > thr) {
        if (j < 32) w0 |= 1L << j else w1 |= 1L << (j - 32)
      }
      j += 1
    }
    (w0, w1)
  }

  val phashSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("w0", LongType, nullable = false),
    StructField("w1", LongType, nullable = false)))

  /** media -> (doc_id, w0, w1) perceptual hashes: real PNG decode, then
    * the integer DCT hash — same batched-mapPartitions stage shape as the
    * other decode tables. Non-8x8 (or undecodable) payloads drop, matching
    * decodeImageTable's tolerance stance. */
  def phashTable(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val rdd = df.select("doc_id", "media").rdd.mapPartitions { rows =>
      rows.grouped(BatchSize).flatMap { batch =>
        batch.iterator.flatMap { r =>
          decodeImage(r.getAs[Array[Byte]](1)).collect {
            case (w, h, px) if w == 8 && h == 8 =>
              val (w0, w1) = phash8(px)
              Row(r.getLong(0), w0, w1)
          }
        }
      }
    }
    spark.createDataFrame(rdd, phashSchema)
  }

  // -------------------------------------------------------------------------
  // Persisted pHash index — dedup new image crawls against the stored corpus
  // -------------------------------------------------------------------------

  /** Build and atomically publish a pHash index: one `hashes` table
    * (doc_id, w0, w1) — 16 bytes per image; the corpus pixels never need
    * re-decoding to dedup future crawls against it. A rebuild over an
    * existing index carries its tombstones forward and excludes them, so an
    * erased image stays erased even while the corpus still holds it (the
    * same rule as `VectorIndex.buildIvfPq`). Publishes through
    * [[StoreCommit.publish]]. */
  def buildPhashIndex(spark: SparkSession, images: DataFrame, indexDir: String): Unit = {
    val dir = new Path(indexDir)
    StoreCommit.publish(StoreCommit.fsOf(spark, dir), dir) { tmp =>
      val tombstones = phashTombstones(spark, indexDir).cache()
      phashTable(images).join(broadcast(tombstones), Seq("doc_id"), "left_anti")
        .write.mode(SaveMode.Overwrite).parquet(s"$tmp/hashes")
      writeTombstonesIfAny(tombstones, tmp)
      tombstones.unpersist()
    }
  }

  /** Append a new image batch to the index — idempotent on doc_id (a
    * replayed batch anti-joins to nothing), decode only the delta. */
  def appendPhashIndex(spark: SparkSession, images: DataFrame, indexDir: String): Unit = {
    val dir = new Path(indexDir)
    StoreCommit.publish(StoreCommit.fsOf(spark, dir), dir) { tmp =>
      val old = spark.read.parquet(s"$indexDir/hashes")
      val tombstones = phashTombstones(spark, indexDir).cache()
      // anti-join BOTH sides: existing hashes (idempotent replay) AND the
      // tombstones (an erased image has no hash row left — without this a
      // replayed append would silently resurrect it)
      val fresh = phashTable(images)
        .join(old.select("doc_id"), Seq("doc_id"), "left_anti")
        .join(tombstones, Seq("doc_id"), "left_anti")
      old.unionByName(fresh).write.mode(SaveMode.Overwrite).parquet(s"$tmp/hashes")
      writeTombstonesIfAny(tombstones, tmp)
      tombstones.unpersist()
    }
  }

  /** GDPR delete on a pHash index: drop the hash rows and persist
    * tombstones so a replayed [[appendPhashIndex]] cannot resurrect an
    * erased image (the same resurrection window VectorIndex closes).
    * Returns the number of hashes actually removed. */
  def deleteFromPhashIndex(
      spark: SparkSession, indexDir: String, docIds: Seq[Long]): Long = {
    import spark.implicits._
    val dir = new Path(indexDir)
    val fs = StoreCommit.fsOf(spark, dir)
    StoreCommit.recover(fs, dir)
    val requested = docIds.toDF("doc_id")
    val old = spark.read.parquet(s"$indexDir/hashes")
    val nDead = old.join(broadcast(requested), Seq("doc_id"), "left_semi").count()
    // built inside each stage: the publish recovers the store before it runs
    def erased(tmp: String): Unit =
      phashTombstones(spark, indexDir).unionByName(requested).distinct()
        .write.mode(SaveMode.Overwrite).parquet(tmp)
    if (nDead == 0L) {
      // No hash row yet — but the image may be indexed by a LATER append
      // (ingest and maintenance run on different cadences), so the erase
      // request must still stick. Persist it via a tombstones-scoped publish.
      StoreCommit.publish(fs, new Path(dir, "tombstones"))(tsTmp => erased(tsTmp.toString))
      return 0L
    }
    StoreCommit.publish(fs, dir) { tmp =>
      old.join(broadcast(requested), Seq("doc_id"), "left_anti")
        .write.mode(SaveMode.Overwrite).parquet(s"$tmp/hashes")
      erased(s"$tmp/tombstones")
    }
    nDead
  }

  /** The erased doc_ids, read through [[StoreCommit.readableRoot]] at both
    * levels (index, then its tombstones table), so a reader inside a crash
    * window sees the last committed set and renames nothing. */
  private def phashTombstones(spark: SparkSession, indexDir: String): DataFrame = {
    val dir = new Path(indexDir)
    val fs = StoreCommit.fsOf(spark, dir)
    val t = StoreCommit.readableRoot(fs,
      new Path(StoreCommit.readableRoot(fs, dir), "tombstones"))
    if (fs.exists(t)) spark.read.parquet(t.toString).select("doc_id")
    else {
      import spark.implicits._
      Seq.empty[Long].toDF("doc_id")
    }
  }

  private def writeTombstonesIfAny(tombstones: DataFrame, tmp: Path): Unit =
    if (!tombstones.isEmpty)
      tombstones.write.mode(SaveMode.Overwrite).parquet(s"$tmp/tombstones")

  private def phashBands(df: DataFrame): DataFrame =
    df.select(col("doc_id"), col("w0"), col("w1"),
      explode(array(
        struct(lit(0L).as("b"), (col("w0") % 65536L).as("v")),
        struct(lit(1L).as("b"), expr("w0 div 65536").as("v")),
        struct(lit(2L).as("b"), (col("w1") % 65536L).as("v")),
        struct(lit(3L).as("b"), expr("w1 div 65536").as("v")))).as("band"))
      .select(col("doc_id"), col("w0"), col("w1"),
        col("band.b").as("b"), col("band.v").as("v"))

  /** Scrub a NEW image batch against the stored index: decode + hash only
    * the delta, meet the stored hashes through the 4-band pigeonhole
    * equi-join (guaranteed recall at Hamming <= 3), verify with exact
    * popcount. Returns per-new-image (doc_id, w0, w1, n_matches,
    * match_id = lowest matching stored id, or null). The image analogue
    * of the incremental embedding/substring scrubs: O(delta) per crawl
    * snapshot, the corpus is touched only through its 16-byte hashes. */
  def scrubImagesAgainstIndex(
      spark: SparkSession, images: DataFrame, indexDir: String,
      radius: Int = 3): DataFrame = {
    // cached: the delta hashes feed the band join AND the final left join;
    // the plan embeds this call's unique RDD scan, so (unlike parquet-path
    // reads) the cache cannot go stale across index republishes
    val fresh = phashTable(images).cache()
    val freshBands = phashBands(fresh)
    val dir = new Path(indexDir)
    val root = StoreCommit.readableRoot(StoreCommit.fsOf(spark, dir), dir) // non-mutating
    val storedBands = phashBands(spark.read.parquet(s"$root/hashes"))
      .select(col("b"), col("v"),
        col("doc_id").as("sid"), col("w0").as("s0"), col("w1").as("s1"))
    val matches = freshBands.join(storedBands, Seq("b", "v"))
      .select("doc_id", "w0", "w1", "sid", "s0", "s1").distinct()
      .withColumn("hd", expr("bit_count(w0 ^ s0) + bit_count(w1 ^ s1)"))
      .filter(col("hd") <= radius)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_matches"), min("sid").as("match_id"))
    fresh.join(matches, Seq("doc_id"), "left")
      .select(col("doc_id"), col("w0"), col("w1"),
        coalesce(col("n_matches"), lit(0L)).as("n_matches"), col("match_id"))
  }

  // -------------------------------------------------------------------------
  // REAL audio path: PCM WAV via javax.sound.sampled (pure JDK)
  // -------------------------------------------------------------------------

  private val SyntheticAudioSamples = 64
  private val SyntheticAudioRate = 8000

  /** RIFF/WAVE container around 16-bit little-endian mono PCM — real WAV
    * bytes any audio tool can open. */
  def encodePcmWav(samples: Array[Short], sampleRate: Int): Array[Byte] = {
    val dataLen = samples.length * 2
    val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
      .put("WAVE".getBytes("US-ASCII"))
      .put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(1) // PCM, mono
      .putInt(sampleRate).putInt(sampleRate * 2)
      .putShort(2).putShort(16) // block align, bits/sample
      .put("data".getBytes("US-ASCII")).putInt(dataLen)
    samples.foreach(bb.putShort)
    bb.array()
  }

  /** REAL audio decode via AudioSystem: WAV bytes -> (sampleRate, 16-bit
    * samples). None when no codec accepts the bytes. */
  def decodeWav(media: Array[Byte]): Option[(Int, Array[Short])] =
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(media))
      val fmt = in.getFormat
      val raw = in.readAllBytes()
      in.close()
      val bb = java.nio.ByteBuffer.wrap(raw).order(
        if (fmt.isBigEndian) java.nio.ByteOrder.BIG_ENDIAN
        else java.nio.ByteOrder.LITTLE_ENDIAN)
      val out = new Array[Short](raw.length / 2)
      var i = 0
      while (i < out.length) { out(i) = bb.getShort(); i += 1 }
      Some((fmt.getSampleRate.toInt, out))
    } catch { case _: Exception => None }

  /** Deterministic synthetic WAV per document: sample i is
    * `((doc_id*37 + i*11) % 65536) - 32768` — real container bytes, and a
    * formula DuckDB replays in exact integer math. */
  def syntheticWavs(spark: SparkSession, dir: String): DataFrame = {
    val wavUdf = org.apache.spark.sql.functions.udf { docId: Long =>
      val samples = Array.tabulate(SyntheticAudioSamples)(
        i => (((docId * 37 + i * 11) % 65536) - 32768).toShort)
      encodePcmWav(samples, SyntheticAudioRate)
    }
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), wavUdf(col("doc_id")).as("media"),
        lit("audio/wav").as("mime_type"))
  }

  /** Gain-scaled synthetic WAVs for the audio near-dup query: class
    * k = doc_id % 256 defines the base waveform (a quadratic-phase formula
    * — a plain LCG collapsed 256 classes to 19 distinct energy profiles,
    * measured), replicas (doc_id >= 256) play it at integer gain 2 or 3
    * (max |sample| 24000, no 16-bit clipping). Same waveform, different
    * amplitude: different bytes, same energy-ORDER structure — the planted
    * pair [[audioFingerprintTable]] must recover. */
  def syntheticWavsGained(spark: SparkSession, dir: String): DataFrame = {
    val wavUdf = org.apache.spark.sql.functions.udf { docId: Long =>
      val k = docId % 256
      val gain = (docId / 256) % 3 + 1
      val samples = Array.tabulate(SyntheticAudioSamples) { i =>
        (((k * 2654435761L + i * (2 * k + 7) * 113 + i.toLong * i * (k % 13 + 1) * 29)
          % 16001 - 8000) * gain).toShort
      }
      encodePcmWav(samples, SyntheticAudioRate)
    }
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), wavUdf(col("doc_id")).as("media"),
        lit("audio/wav").as("mime_type"))
  }

  /** Energy-order audio fingerprint (chromaprint-lite): 16 windows of 4
    * samples, per-window integer energy, 29 comparison bits (15 adjacent
    * + 14 skip-2 deltas) packed in one BIGINT. Sign-of-delta bits are
    * EXACTLY invariant under integer gain (energies scale by g², every
    * comparison preserved) — the audio analogue of pHash's brightness
    * invariance, and why production fingerprints (Shazam, Chromaprint)
    * are built from band-energy ORDER, not magnitude. */
  def audioFingerprint(samples: Array[Short]): Long = {
    val e = Array.tabulate(16) { w =>
      var s = 0L
      var j = 0
      while (j < 4) { val v = samples(w * 4 + j).toLong; s += v * v; j += 1 }
      s
    }
    var bits = 0L
    var b = 0
    var w = 0
    while (w < 15) { if (e(w) > e(w + 1)) bits |= 1L << b; b += 1; w += 1 }
    w = 0
    while (w < 14) { if (e(w) > e(w + 2)) bits |= 1L << b; b += 1; w += 1 }
    bits
  }

  val audioFpSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("afp", LongType, nullable = false)))

  /** audio media -> (doc_id, afp): real WAV decode, then the energy-order
    * fingerprint over the first 64 samples — batched mapPartitions like
    * the other decode tables; payloads the codec rejects (or shorter than
    * 64 samples) drop. */
  def audioFingerprintTable(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val rdd = df.select("doc_id", "media").rdd.mapPartitions { rows =>
      rows.grouped(BatchSize).flatMap { batch =>
        batch.iterator.flatMap { r =>
          decodeWav(r.getAs[Array[Byte]](1)).collect {
            case (_, samples) if samples.length >= 64 =>
              Row(r.getLong(0), audioFingerprint(samples))
          }
        }
      }
    }
    spark.createDataFrame(rdd, audioFpSchema)
  }

  val decodedAudioSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("n_samples", LongType, nullable = false),
    StructField("sample_rate", LongType, nullable = false),
    StructField("sum_abs", LongType, nullable = false),
    StructField("energy", LongType, nullable = false),
    StructField("zero_cross", LongType, nullable = false)))

  /** Audio media -> decoded sample-domain features, batched mapPartitions
    * like [[decodeImageTable]]. All features are exact integer sums over
    * the decoded 16-bit samples, so a mirrored oracle catches any header
    * misparse, endianness slip, or sample corruption. */
  def decodeAudioTable(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val rdd = df.select("doc_id", "media").rdd.mapPartitions { rows =>
      rows.grouped(BatchSize).flatMap { batch =>
        batch.iterator.flatMap { r =>
          decodeWav(r.getAs[Array[Byte]](1)).map { case (rate, s) =>
            var sumAbs = 0L
            var energy = 0L
            var zc = 0L
            var i = 0
            while (i < s.length) {
              val v = s(i).toLong
              sumAbs += math.abs(v)
              energy += v * v
              if (i > 0 && ((s(i - 1) < 0) != (v < 0))) zc += 1
              i += 1
            }
            Row(r.getLong(0), s.length.toLong, rate.toLong, sumAbs, energy, zc)
          }
        }
      }
    }
    spark.createDataFrame(rdd, decodedAudioSchema)
  }

  // -------------------------------------------------------------------------
  // REAL video-like path: multi-frame animated GIF via ImageIO (pure JDK)
  // -------------------------------------------------------------------------

  private val SyntheticVideoFrames = 4

  /** 256-level gray palette so the GIF writer stores OUR palette verbatim —
    * an exact byte-per-pixel round trip, no quantizer in the loop. */
  private def grayIcm: java.awt.image.IndexColorModel = {
    val ramp = Array.tabulate(256)(_.toByte)
    new java.awt.image.IndexColorModel(8, 256, ramp, ramp, ramp)
  }

  /** Real animated-GIF container: one image sequence, one frame per input
    * pixel buffer. Any GIF tool can open the bytes. */
  def encodeGifVideo(frames: Seq[Array[Byte]], w: Int, h: Int): Array[Byte] = {
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("gif").next()
    val baos = new java.io.ByteArrayOutputStream()
    val ios = javax.imageio.ImageIO.createImageOutputStream(baos)
    writer.setOutput(ios)
    writer.prepareWriteSequence(null)
    frames.foreach { px =>
      val img = new java.awt.image.BufferedImage(
        w, h, java.awt.image.BufferedImage.TYPE_BYTE_INDEXED, grayIcm)
      img.getRaster.setDataElements(0, 0, w, h, px)
      writer.writeToSequence(
        new javax.imageio.IIOImage(img, null, null), writer.getDefaultWriteParam)
    }
    writer.endWriteSequence()
    ios.close()
    writer.dispose()
    baos.toByteArray
  }

  /** REAL multi-frame decode: GIF bytes -> per-frame (width, height, gray
    * samples). None when the bytes aren't a GIF. */
  def decodeGifVideo(media: Array[Byte]): Option[Seq[(Int, Int, Array[Byte])]] =
    try {
      val reader = javax.imageio.ImageIO.getImageReadersByFormatName("gif").next()
      val iis = javax.imageio.ImageIO.createImageInputStream(
        new java.io.ByteArrayInputStream(media))
      reader.setInput(iis, false, true)
      val n = reader.getNumImages(true)
      if (n == 0) return None
      val out = (0 until n).map { i =>
        val im = reader.read(i)
        val w = im.getWidth
        val h = im.getHeight
        val gray = new Array[Byte](w * h)
        var idx = 0
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) { gray(idx) = (im.getRGB(x, y) & 0xff).toByte; idx += 1; x += 1 }
          y += 1
        }
        (w, h, gray)
      }
      reader.dispose()
      Some(out)
    } catch { case _: Exception => None }

  /** Deterministic synthetic "video" per document: SyntheticVideoFrames
    * frames of 8x8 gray, frame f pixel i = (doc_id*31 + f*97 + i*7) % 256. */
  def syntheticVideos(spark: SparkSession, dir: String): DataFrame = {
    val gifUdf = org.apache.spark.sql.functions.udf { docId: Long =>
      val frames = (0 until SyntheticVideoFrames).map { f =>
        Array.tabulate(SyntheticImgW * SyntheticImgH)(
          i => (((docId * 31 + f * 97 + i * 7) % 256) & 0xff).toByte)
      }
      encodeGifVideo(frames, SyntheticImgW, SyntheticImgH)
    }
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), gifUdf(col("doc_id")).as("media"),
        lit("image/gif").as("mime_type"))
  }

  /** Synthetic videos WITH PLANTED SCENE STRUCTURE: 8 frames, one hard cut
    * at frame c = 3 + doc_id % 3. Within a scene consecutive frames differ
    * by +1 per pixel (motion: SAD = 64); across the cut the base pattern
    * jumps by ±97/∓103 mod 200 (SAD ≈ 6400) — two deterministic regimes a
    * threshold cleanly separates, and a formula DuckDB replays exactly.
    * Pixels stay in [20, 234]: no clamping, no wrap in the +frame term. */
  val SceneVideoFrames = 8
  def syntheticVideosScenes(spark: SparkSession, dir: String): DataFrame = {
    val gifUdf = org.apache.spark.sql.functions.udf { docId: Long =>
      val cut = 3 + (docId % 3).toInt
      val frames = (0 until SceneVideoFrames).map { f =>
        val sceneOff = if (f >= cut) 97 else 0
        Array.tabulate(SyntheticImgW * SyntheticImgH)(
          i => (((docId * 37 + sceneOff + i * 11) % 200 + 20 + f) & 0xff).toByte)
      }
      encodeGifVideo(frames, SyntheticImgW, SyntheticImgH)
    }
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), gifUdf(col("doc_id")).as("media"),
        lit("image/gif").as("mime_type"))
  }

  val videoFramesSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("frame", LongType, nullable = false),
    StructField("p", ArrayType(LongType, containsNull = false), nullable = false)))

  /** Video media -> one row per decoded frame carrying the full pixel
    * vector — the tensor-shaped output a frame-level model stage consumes,
    * and the input to Spark-side temporal ops (scene cuts are a window
    * function over this table, not decode-kernel logic). */
  def videoFramesTable(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val rdd = df.select("doc_id", "media").rdd.mapPartitions { rows =>
      rows.grouped(BatchSize).flatMap { batch =>
        batch.iterator.flatMap { r =>
          decodeGifVideo(r.getAs[Array[Byte]](1)).toSeq.flatMap { frames =>
            frames.zipWithIndex.map { case ((_, _, px), f) =>
              Row(r.getLong(0), f.toLong, px.map(b => (b & 0xff).toLong).toSeq)
            }
          }
        }
      }
    }
    spark.createDataFrame(rdd, videoFramesSchema)
  }

  val decodedVideoSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("frame", LongType, nullable = false),
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("px_sum", LongType, nullable = false),
    StructField("px_min", LongType, nullable = false),
    StructField("px_max", LongType, nullable = false)))

  /** Video media -> one row per decoded frame with exact integer pixel
    * stats, batched mapPartitions like the image/audio tables. */
  def decodeVideoTable(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val rdd = df.select("doc_id", "media").rdd.mapPartitions { rows =>
      rows.grouped(BatchSize).flatMap { batch =>
        batch.iterator.flatMap { r =>
          decodeGifVideo(r.getAs[Array[Byte]](1)).toSeq.flatMap { frames =>
            frames.zipWithIndex.map { case ((w, h, px), f) =>
              var sum = 0L
              var mn = 255L
              var mx = 0L
              px.foreach { b =>
                val v = (b & 0xff).toLong
                sum += v
                if (v < mn) mn = v
                if (v > mx) mx = v
              }
              Row(r.getLong(0), f.toLong, w.toLong, h.toLong, sum, mn, mx)
            }
          }
        }
      }
    }
    spark.createDataFrame(rdd, decodedVideoSchema)
  }

  // -------------------------------------------------------------------------
  // MP3 frame-header metadata: pure-JVM frame walk, no PCM decode
  // -------------------------------------------------------------------------

  /** MPEG-1 Layer III bitrate table (kbps), indexed by the header's 4-bit
    * bitrate field; index 0 is free-format, 15 invalid (ISO/IEC 11172-3). */
  private val Mp3Bitrates =
    Array(0, 32, 40, 48, 56, 64, 80, 96, 112, 128, 160, 192, 224, 256, 320)
  private val Mp3SampleRates = Array(44100, 48000, 32000)
  private val Mp3SamplesPerFrame = 1152

  /** Deterministic CBR MPEG-1 Layer III frame sequence: real sync words,
    * version/layer/bitrate/samplerate/padding fields, and spec-correct
    * frame sizes (144 * bitrate / samplerate + padding), with junk main
    * data — a parser must WALK the frames by computed size to count them.
    * Full PCM decode stays the documented JDK boundary (no MP3 codec in
    * the JDK); the header metadata is what a crawl-corpus triage pass
    * needs first anyway. */
  def encodeMp3Frames(docId: Long, nFrames: Int): Array[Byte] = {
    val bIdx = (docId % 14 + 1).toInt
    val srIdx = (docId % 3).toInt
    val out = new java.io.ByteArrayOutputStream()
    for (f <- 0 until nFrames) {
      val padding = ((docId + f) % 2).toInt
      val size = 144 * Mp3Bitrates(bIdx) * 1000 / Mp3SampleRates(srIdx) + padding
      val frame = new Array[Byte](size)
      frame(0) = 0xFF.toByte
      frame(1) = 0xFB.toByte // sync(3) + MPEG-1(11) + Layer III(01) + no-CRC(1)
      frame(2) = ((bIdx << 4) | (srIdx << 2) | (padding << 1)).toByte
      frame(3) = 0x00
      var i = 4
      while (i < size) { frame(i) = ((docId * 13 + f * 7 + i) % 251).toByte; i += 1 }
      out.write(frame, 0, size)
    }
    out.toByteArray
  }

  /** Frame-header walk: (bitrate_kbps, sample_rate, n_frames, duration_ms).
    * Validates sync/version/layer/bitrate/samplerate per frame and advances
    * by the spec frame size; stops at the first invalid header (junk tail
    * tolerance), None when no valid first frame exists. Bitrate reported
    * from the first frame (CBR assumption); duration is the exact integer
    * n_frames * 1152 * 1000 / sample_rate. */
  def parseMp3Meta(media: Array[Byte]): Option[(Long, Long, Long, Long)] = {
    var off = 0
    var nFrames = 0L
    var bitrate = 0L
    var sampleRate = 1L
    var ok = true
    while (ok && off + 4 <= media.length) {
      val b0 = media(off) & 0xFF
      val b1 = media(off + 1) & 0xFF
      val b2 = media(off + 2) & 0xFF
      val version = (b1 >> 3) & 3
      val layer = (b1 >> 1) & 3
      val bIdx = (b2 >> 4) & 0xF
      val srIdx = (b2 >> 2) & 3
      val padding = (b2 >> 1) & 1
      if (b0 != 0xFF || (b1 & 0xE0) != 0xE0 || version != 3 || layer != 1 ||
        bIdx == 0 || bIdx == 15 || srIdx == 3) ok = false
      else {
        if (nFrames == 0L) {
          bitrate = Mp3Bitrates(bIdx).toLong
          sampleRate = Mp3SampleRates(srIdx).toLong
        }
        nFrames += 1
        off += 144 * Mp3Bitrates(bIdx) * 1000 / Mp3SampleRates(srIdx) + padding
      }
    }
    if (nFrames == 0L) None
    else Some((bitrate, sampleRate, nFrames,
      nFrames * Mp3SamplesPerFrame * 1000L / sampleRate))
  }

  /** Deterministic synthetic MP3 per document: bitrate index
    * doc_id % 14 + 1, sample rate index doc_id % 3, doc_id % 4 + 1 frames,
    * per-frame padding (doc_id + frame) % 2 — every metadata field is a
    * formula DuckDB replays in integer math. */
  def syntheticMp3s(spark: SparkSession, dir: String): DataFrame = {
    val mp3Udf = org.apache.spark.sql.functions.udf { docId: Long =>
      encodeMp3Frames(docId, (docId % 4 + 1).toInt)
    }
    spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), mp3Udf(col("doc_id")).as("media"),
        lit("audio/mpeg").as("mime_type"))
  }

  val mp3MetaSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("n_frames", LongType, nullable = false),
    StructField("bitrate_kbps", LongType, nullable = false),
    StructField("sample_rate", LongType, nullable = false),
    StructField("duration_ms", LongType, nullable = false)))

  /** MP3 media -> frame-header metadata, batched mapPartitions like the
    * other decode tables; undecodable rows are dropped. */
  def mp3MetaTable(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val rdd = df.select("doc_id", "media").rdd.mapPartitions { rows =>
      rows.grouped(BatchSize).flatMap { batch =>
        batch.iterator.flatMap { r =>
          parseMp3Meta(r.getAs[Array[Byte]](1)).map { case (br, sr, nf, dur) =>
            Row(r.getLong(0), nf, br, sr, dur)
          }
        }
      }
    }
    spark.createDataFrame(rdd, mp3MetaSchema)
  }

  val decodedSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("features", ArrayType(FloatType, containsNull = false), nullable = false),
    StructField("frame_fp", LongType, nullable = false)))

  /** Image media -> decoded dimensions + pixel-domain features + frame
    * fingerprint, batched mapPartitions like [[processMedia]]. Rows whose
    * bytes no codec accepts are dropped (width/height are undefined). */
  def decodeImageTable(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val rdd = df.select("doc_id", "media").rdd.mapPartitions { rows =>
      rows.grouped(BatchSize).flatMap { batch =>
        batch.iterator.flatMap { r =>
          decodeImage(r.getAs[Array[Byte]](1)).map { case (w, h, px) =>
            Row(r.getLong(0), w.toLong, h.toLong, extractFeatures(px).toSeq, frameFingerprint(px))
          }
        }
      }
    }
    spark.createDataFrame(rdd, decodedSchema)
  }

  /** True 2-D nearest-neighbor resize in the PIXEL domain: output pixel
    * (r, c) samples source pixel (r·h/oh, c·w/ow) — integer index math, no
    * interpolation, so the result is exact and engine-independent (a
    * production pipeline would swap in an area/bilinear kernel here; the
    * Spark-side shape is identical). */
  def resize2d(pixels: Array[Byte], w: Int, h: Int, ow: Int, oh: Int): Array[Byte] = {
    val out = new Array[Byte](ow * oh)
    var r = 0
    while (r < oh) {
      val sr = ((r.toLong * h) / oh).toInt
      var c = 0
      while (c < ow) {
        out(r * ow + c) = pixels(sr * w + ((c.toLong * w) / ow).toInt)
        c += 1
      }
      r += 1
    }
    out
  }

  private val resizedSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType, nullable = false),
    StructField("width", LongType, nullable = false),
    StructField("height", LongType, nullable = false),
    StructField("px_sum", LongType, nullable = false),
    StructField("px_min", LongType, nullable = false),
    StructField("px_max", LongType, nullable = false),
    StructField("resize_fp", LongType, nullable = false)))

  /** decode -> resize2d -> integer pixel stats + fingerprint, batched inside
    * each partition like [[decodeImageTable]] — the tensor-shaping stage of
    * an image training pipeline (every output has the same fixed shape). */
  def resizeImageTable(df: DataFrame, ow: Int, oh: Int): DataFrame = {
    val spark = df.sparkSession
    val rdd = df.select("doc_id", "media").rdd.mapPartitions { rows =>
      rows.grouped(BatchSize).flatMap { batch =>
        batch.iterator.flatMap { r =>
          decodeImage(r.getAs[Array[Byte]](1)).map { case (w, h, px) =>
            val q = resize2d(px, w, h, ow, oh)
            val u = q.map(_ & 0xff)
            Row(r.getLong(0), ow.toLong, oh.toLong,
              u.map(_.toLong).sum, u.min.toLong, u.max.toLong, frameFingerprint(q))
          }
        }
      }
    }
    spark.createDataFrame(rdd, resizedSchema)
  }
}
