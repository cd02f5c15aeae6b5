package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Multimodal
import graft.pipeline.Ingest

/** Multimodal mapPartitions plumbing + errors-sink ingest. */
class MultimodalSpec extends AnyFunSuite with SparkSuite {

  test("extractFeatures: L1-normalized byte histogram") {
    val f = Multimodal.extractFeatures("aaap".getBytes("UTF-8"))
    assert(f.length == Multimodal.featureDim)
    assert(math.abs(f(6) - 0.75f) < 1e-6)  // 'a' (0x61) x3 -> bin 6
    assert(math.abs(f(7) - 0.25f) < 1e-6)  // 'p' (0x70) -> bin 7
    assert(math.abs(f.sum - 1.0f) < 1e-5)
    assert(Multimodal.extractFeatures(Array.empty[Byte]).forall(_ == 0f))
  }

  test("frameSample: stride sampling shape") {
    val bytes = (0 until 100).map(_.toByte).toArray
    val frames = Multimodal.frameSample(bytes, stride = 7, maxFrames = 32)
    assert(frames.length == 15) // ceil(100/7)
    assert(frames(0) == 0 && frames(1) == 7)
    assert(Multimodal.frameSample(bytes, 1, 32).length == 32) // capped
  }

  test("resize: fixed output shape, nearest-neighbor sampling, edge cases") {
    val bytes = (0 until 100).map(_.toByte).toArray
    val down = Multimodal.resize(bytes, 10)
    assert(down.length == 10)
    assert(down(0) == 0 && down(1) == 10 && down(9) == 90) // nearest-neighbor picks
    val up = Multimodal.resize(bytes, 250)
    assert(up.length == 250) // upsample repeats source bytes
    assert(up(0) == 0 && up(249) == bytes(99))
    assert(Multimodal.resize(Array.emptyByteArray, 10).isEmpty)
    assert(Multimodal.resize(bytes, 0).isEmpty)
  }

  test("resize2d: output (r, c) samples source (r*h/oh, c*w/ow)") {
    // 4x2 source, row-major: [0 10 20 30 / 40 50 60 70]
    val src = Array[Byte](0, 10, 20, 30, 40, 50, 60, 70)
    // downsample to 2x1: row 0, cols {0, 2}
    assert(Multimodal.resize2d(src, 4, 2, 2, 1).toSeq == Seq[Byte](0, 20))
    // downsample to 2x2: rows {0, 1}, cols {0, 2}
    assert(Multimodal.resize2d(src, 4, 2, 2, 2).toSeq == Seq[Byte](0, 20, 40, 60))
    // upsample 2x1 -> 4x2 replicates each pixel into a 2x2 block
    val tiny = Array[Byte](1, 9)
    assert(Multimodal.resize2d(tiny, 2, 1, 4, 2).toSeq ==
      Seq[Byte](1, 1, 9, 9, 1, 1, 9, 9))
  }

  test("processMedia: schema, determinism, partition independence") {
    val d = "/root/testdata/sf0.001"
    val once = Multimodal.processMedia(Multimodal.documentsAsMedia(spark, d))
    assert(once.schema == Multimodal.mediaSchema)
    val rows1 = once.orderBy("doc_id").collect()
    // repartitioning must not change any per-row result (narrow stage)
    val rows2 = Multimodal.processMedia(Multimodal.documentsAsMedia(spark, d).repartition(7))
      .orderBy("doc_id").collect()
    assert(rows1.map(_.toString).toSeq == rows2.map(_.toString).toSeq)
    // byte_len matches the source text length (identity decode stub)
    val src = spark.read.parquet(s"$d/documents.parquet")
      .select(col("doc_id"), length(col("text")).cast("long").as("len"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows1.foreach(r => assert(r.getLong(2) == src(r.getLong(0))))
  }

  test("gzip input decompresses transparently through the ingest cascade (A2)") {
    val base = java.nio.file.Files.createTempDirectory("graft_gz").toString
    val content = """{"msg": "zipped", "eventtime": "2021-05-01T10:00:00Z"}"""
    val gz = new java.util.zip.GZIPOutputStream(
      new java.io.FileOutputStream(s"$base/123_cloudtrail_test.json.gz"))
    gz.write(content.getBytes("UTF-8")); gz.close()
    Ingest.ingestBatch(spark, s"$base/*.json.gz", s"$base/out")
    val events = spark.read.parquet(s"$base/out")
    assert(events.count() == 1)
    val row = events.select("source", "utctimestamp").collect().head
    // cloudtrail-ish file name classifies the source (A7) after gunzip
    assert(row.getString(0) == "cloudtrail")
    assert(row.getString(1) == "2021-05-01T10:00:00+00:00")
  }

  test("ingest errors sink: failed records land as NDJSON with raw + error") {
    val base = java.nio.file.Files.createTempDirectory("graft_err").toString
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$base/bad.json"),
      """{"details": "notanobject", "extra": 1}
        |""".stripMargin)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(s"$base/good.json"),
      """{"msg": "fine", "eventtime": "2020-01-01T00:00:00Z"}""")
    Ingest.ingestBatchWithErrors(spark, s"$base/*.json", s"$base/out", s"$base/errors")
    val events = spark.read.parquet(s"$base/out")
    assert(events.count() == 1)
    val errors = spark.read.json(s"$base/errors")
    assert(errors.count() == 1)
    val err = errors.collect().head
    assert(err.getAs[String]("raw").contains("notanobject"))
    assert(err.getAs[String]("error").nonEmpty)
    assert(err.getAs[String]("file").endsWith("bad.json"))
  }

  test("image decode is real: PNG encode -> ImageIO decode roundtrips pixels exactly") {
    import graft.operators.Multimodal
    val px = Array.tabulate(64)(i => ((i * 37 + 11) % 256).toByte)
    val png = Multimodal.encodeGrayPng(px, 8, 8)
    // actual compressed PNG container, not a passthrough of the input
    assert(png.take(4).map(_ & 0xff).toSeq == Seq(0x89, 'P'.toInt, 'N'.toInt, 'G'.toInt))
    val Some((w, h, back)) = Multimodal.decodeImage(png)
    assert(w == 8 && h == 8)
    assert(back.toSeq == px.toSeq, "gray PNG decode must be lossless")
    // non-image bytes: no codec claims them
    assert(Multimodal.decodeImage("not an image".getBytes).isEmpty)
  }

  test("audio decode is real: WAV encode -> AudioSystem decode roundtrips samples exactly") {
    import graft.operators.Multimodal
    val samples = Array.tabulate(100)(i => ((i * 523 - 17000) % 32768).toShort)
    val wav = Multimodal.encodePcmWav(samples, 16000)
    // actual RIFF/WAVE container
    assert(new String(wav.take(4), "US-ASCII") == "RIFF")
    assert(new String(wav.slice(8, 12), "US-ASCII") == "WAVE")
    val Some((rate, back)) = Multimodal.decodeWav(wav)
    assert(rate == 16000)
    assert(back.toSeq == samples.toSeq, "PCM WAV decode must be lossless")
    // non-audio bytes: no codec claims them
    assert(Multimodal.decodeWav("not audio".getBytes).isEmpty)
  }

  test("video decode is real: animated GIF encode -> multi-frame decode roundtrips pixels exactly") {
    import graft.operators.Multimodal
    val frames = (0 until 3).map(f => Array.tabulate(64)(i => ((f * 97 + i * 7) % 256).toByte))
    val gif = Multimodal.encodeGifVideo(frames, 8, 8)
    assert(new String(gif.take(3), "US-ASCII") == "GIF")
    val Some(back) = Multimodal.decodeGifVideo(gif)
    assert(back.length == 3)
    back.zip(frames).foreach { case ((w, h, px), orig) =>
      assert(w == 8 && h == 8)
      assert(px.toSeq == orig.toSeq, "gray GIF frame decode must be lossless")
    }
    assert(Multimodal.decodeGifVideo("not a gif".getBytes).isEmpty)
  }

  test("decodeImageTable decodes synthetic PNGs to the formula pixels") {
    import graft.operators.Multimodal
    val out = Multimodal.decodeImageTable(
      Multimodal.syntheticImages(spark, "/root/testdata/sf0.001"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getSeq[Float](3), r.getLong(4)))
    assert(out.nonEmpty)
    out.take(20).foreach { case (docId, w, h, feats, fp) =>
      assert(w == 8 && h == 8)
      val px = Array.tabulate(64)(i => (((docId * 31 + i * 7) % 256) & 0xff).toByte)
      assert(feats.toSeq == Multimodal.extractFeatures(px).toSeq)
      assert(fp == Multimodal.frameFingerprint(px))
    }
  }

  test("mp3 metadata: frame walk counts spec-sized frames, rejects junk, tolerates a cut tail") {
    // round trip: synthesized frames parse back to the construction params
    val media = Multimodal.encodeMp3Frames(docId = 7L, nFrames = 3)
    val Some((br, sr, nf, dur)) = Multimodal.parseMp3Meta(media)
    assert(nf == 3L)
    assert(br == 112L) // bitrate index 7 % 14 + 1 = 8 -> 112 kbps
    assert(sr == 48000L) // samplerate index 7 % 3 = 1 -> 48000
    assert(dur == 3L * 1152L * 1000L / 48000L)
    // junk bytes have no sync word: no metadata row, not a crash
    assert(Multimodal.parseMp3Meta(Array.fill[Byte](64)(0x41)).isEmpty)
    assert(Multimodal.parseMp3Meta(Array.emptyByteArray).isEmpty)
    // a mid-frame truncation stops the walk at the last complete header
    // boundary it can validate (real crawl files are cut all the time)
    val cut = media.take(media.length - 10)
    val Some((_, _, nfCut, _)) = Multimodal.parseMp3Meta(cut)
    assert(nfCut >= 2L && nfCut <= 3L)
    // the padding bit changes per frame, so frame sizes genuinely differ:
    // a parser that assumed constant frame size would misalign and stop
    val sizes = {
      val m = Multimodal.encodeMp3Frames(docId = 8L, nFrames = 4)
      val Some((_, _, n4, _)) = Multimodal.parseMp3Meta(m)
      n4
    }
    assert(sizes == 4L)
  }

  test("phash8: AC coefficients are bit-invariant under uniform brightness shift") {
    val rnd = new scala.util.Random(42)
    (0 until 20).foreach { _ =>
      val base = Array.fill(64)((rnd.nextInt(200) + 20).toByte) // room for ±5
      val shift = rnd.nextInt(11) - 5
      val shifted = base.map(b => ((b & 0xff) + shift).toByte)
      assert(Multimodal.phash8(base) == Multimodal.phash8(shifted),
        s"pHash changed under uniform shift $shift")
    }
    // a non-uniform change must be able to move the hash (not a constant fn)
    val a = Array.tabulate(64)(i => ((i * 37 + 11) % 200 + 20).toByte)
    val b = a.clone(); b(0) = ((b(0) & 0xff) + 80).toByte; b(9) = ((b(9) & 0xff) - 60).toByte
    assert(Multimodal.phash8(a) != Multimodal.phash8(b))
  }

  test("phash pipeline recovers brightness-shifted near-dups that exact dedup misses") {
    val d = "/root/testdata/sf0.01"
    val imgs = Multimodal.syntheticImagesNoisy(spark, d)
    val ph = Multimodal.phashTable(imgs)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    // every replica pair (k, k+256) differs in bytes (different brightness)
    // but shares the perceptual hash
    val pairs = ph.keys.filter(k => k >= 256 && ph.contains(k - 256)).toSeq
    assert(pairs.nonEmpty)
    pairs.foreach(k => assert(ph(k) == ph(k - 256), s"pair ($k, ${k - 256}) not grouped"))
    // exact content fingerprints CANNOT pair them — that's the operator's point
    val fps = Multimodal.decodeImageTable(imgs)
      .collect().map(r => r.getLong(0) -> r.getLong(4)).toMap
    pairs.foreach(k => assert(fps(k) != fps(k - 256),
      s"pair ($k, ${k - 256}) is byte-identical — the planted shift vanished"))
    // and distinct classes stay distinct (no hash collapse across patterns)
    val low = ph.keys.filter(_ < 256).toSeq
    assert(low.map(ph).distinct.size == low.size, "cross-class pHash collision")
  }

  test("phash radius: banded pigeonhole recovers pairs identical-hash grouping misses") {
    val d = "/root/testdata/sf0.01"
    val rows = SparkEntry.queries("q_multimodal_phash_radius")(spark, d)
      .selectExpr("doc_id", "w0", "w1", "canonical_id").collect()
    val byId = rows.map(r => r.getLong(0) -> r).toMap
    val pairs = rows.map(_.getLong(0)).filter(k => k >= 256 && byId.contains(k - 256))
    assert(pairs.nonEmpty)
    // every planted dithered replica pairs back to its original within radius 3
    pairs.foreach(k => assert(byId(k).getLong(3) == k - 256,
      s"pair ($k, ${k - 256}) not recovered: canonical=${byId(k).getLong(3)}"))
    // and a nonzero-distance subset exists — the radius (not equality) did the work
    val moved = pairs.count { k =>
      val (a, b) = (byId(k), byId(k - 256))
      (a.getLong(1), a.getLong(2)) != (b.getLong(1), b.getLong(2))
    }
    assert(moved > 0, "dither produced no hash movement — radius adds nothing over equality")
  }

  test("audioFingerprint: exactly gain-invariant, sensitive to waveform shape") {
    val rnd = new scala.util.Random(7)
    (0 until 20).foreach { _ =>
      val base = Array.fill(64)((rnd.nextInt(16001) - 8000).toShort)
      Seq(2, 3).foreach { g =>
        val scaled = base.map(s => (s * g).toShort)
        assert(Multimodal.audioFingerprint(base) == Multimodal.audioFingerprint(scaled),
          s"fingerprint moved under gain $g")
      }
    }
    // loud first window vs flat: E0 > E1 flips from true to tie
    val flat = Array.fill[Short](64)(100)
    val loud = flat.clone(); (0 until 4).foreach(loud(_) = 2000)
    assert(Multimodal.audioFingerprint(loud) != Multimodal.audioFingerprint(flat))
  }

  test("audio dedup pipeline: gain replicas group through real WAV decode, bytes differ") {
    val d = "/root/testdata/sf0.01"
    val rows = SparkEntry.queries("q_multimodal_audio_dedup")(spark, d)
      .selectExpr("doc_id", "canonical_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = rows.keys.filter(k => k >= 256 && rows.contains(k - 256)).toSeq
    assert(pairs.nonEmpty)
    pairs.foreach(k => assert(rows(k) == k - 256, s"gain replica $k not grouped"))
    // the replicas are NOT byte/sample-identical — exact dedup would miss them
    val stats = Multimodal.decodeAudioTable(Multimodal.syntheticWavsGained(spark, d))
      .selectExpr("doc_id", "energy").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    pairs.foreach(k => assert(stats(k) != stats(k - 256),
      s"replica $k has identical energy — the planted gain vanished"))
  }

  test("phash index: O(delta) crawl scrub recovers planted pairs; append idempotent") {
    val d = "/root/testdata/sf0.01"
    val idx = java.nio.file.Files.createTempDirectory("graft_phidx").toString + "/index"
    val imgs = Multimodal.syntheticImagesDithered(spark, d)
    Multimodal.buildPhashIndex(spark, imgs.filter(col("doc_id") < 256), idx)
    // the dithered replicas (a NEW crawl) all pair back to stored originals
    val scrubbed = Multimodal.scrubImagesAgainstIndex(
        spark, imgs.filter(col("doc_id") >= 256), idx)
      .selectExpr("doc_id", "n_matches", "match_id").collect()
    assert(scrubbed.nonEmpty)
    scrubbed.foreach { r =>
      assert(r.getLong(1) >= 1 && r.getLong(2) == r.getLong(0) - 256,
        s"replica ${r.getLong(0)} matched ${r.get(2)} (${r.getLong(1)} matches)")
    }
    // append the new crawl; a replayed append is a no-op; re-scrub self-matches
    Multimodal.appendPhashIndex(spark, imgs.filter(col("doc_id") >= 256), idx)
    val n = spark.read.parquet(s"$idx/hashes").count()
    Multimodal.appendPhashIndex(spark, imgs.filter(col("doc_id") >= 256), idx)
    assert(spark.read.parquet(s"$idx/hashes").count() == n, "append replay duplicated hashes")
    val again = Multimodal.scrubImagesAgainstIndex(
        spark, imgs.filter(col("doc_id") >= 256), idx)
      .selectExpr("doc_id", "match_id").collect()
    again.foreach(r => assert(r.getLong(1) == r.getLong(0) - 256,
      s"post-append scrub lost the keep-first canonical for ${r.getLong(0)}"))
    // GDPR delete sticks through an append replay (tombstone, not just row drop)
    val victim = 300L
    assert(Multimodal.deleteFromPhashIndex(spark, idx, Seq(victim)) == 1L)
    assert(spark.read.parquet(s"$idx/hashes")
      .filter(col("doc_id") === victim).count() == 0L)
    Multimodal.appendPhashIndex(spark, imgs.filter(col("doc_id") >= 256), idx)
    assert(spark.read.parquet(s"$idx/hashes")
      .filter(col("doc_id") === victim).count() == 0L,
      "append replay resurrected a tombstoned image hash")
  }

  test("phash index: a rebuild keeps the tombstones, so an erased image stays out") {
    val d = "/root/testdata/sf0.001"
    val idx = java.nio.file.Files.createTempDirectory("graft_phrebuild").toString + "/index"
    val imgs = Multimodal.syntheticImagesDithered(spark, d).filter(col("doc_id") < 64)
    def ids = spark.read.parquet(s"$idx/hashes").select("doc_id").collect()
      .map(_.getLong(0)).toSet
    Multimodal.buildPhashIndex(spark, imgs.filter(col("doc_id") < 48), idx)
    val victim = 7L
    assert(Multimodal.deleteFromPhashIndex(spark, idx, Seq(victim)) == 1L)
    // the corpus still holds the victim's image; the rebuild must not index it
    Multimodal.buildPhashIndex(spark, imgs.filter(col("doc_id") < 48), idx)
    assert(!ids.contains(victim), "rebuild resurrected a tombstoned image hash")
    // ... and must carry the tombstones, or a later append re-admits it
    Multimodal.appendPhashIndex(spark, imgs, idx)
    assert(ids == (0L until 64L).toSet - victim,
      "append after a rebuild resurrected a tombstoned image hash")
  }

  test("JPEG at quality 95: dimensions survive, pHash stays within radius 3 of the PNG twin") {
    val sf = "/root/testdata/sf0.001"
    val png = Multimodal.phashTable(Multimodal.syntheticImagesNoisy(spark, sf))
      .selectExpr("doc_id", "w0 AS p0", "w1 AS p1")
    val jpegs = Multimodal.syntheticImagesJpeg(spark, sf)
    // a JPEG is NOT its PNG twin byte-wise (lossy container)...
    val dims = Multimodal.decodeImageTable(jpegs)
      .selectExpr("doc_id", "width", "height").collect()
    assert(dims.nonEmpty)
    dims.foreach(r => assert(r.getLong(1) == 8 && r.getLong(2) == 8))
    // ...but the perceptual hash is decode-tolerant STATISTICALLY: >= 95%
    // of the corpus stays within the scrub radius (measured 97% at q95;
    // the tail exists because the 32nd-order-statistic threshold is
    // fragile on a single-block 8x8 source — JPEG quantization noise that
    // moves coefficients near the threshold flips several bits at once;
    // production pHash over 32x32-downsampled images has far wider
    // low-frequency margins)
    val hd = Multimodal.phashTable(jpegs)
      .join(png, "doc_id")
      .selectExpr("doc_id",
        "CAST(bit_count(w0 ^ p0) + bit_count(w1 ^ p1) AS BIGINT) AS hd")
      .collect().map(r => r.getLong(0) -> r.getLong(1))
    assert(hd.nonEmpty)
    val dist = hd.map(_._2).groupBy(identity).view.mapValues(_.length).toMap
    info(s"phash hamming distribution under q95 re-encode: ${dist.toSeq.sorted}")
    val within = hd.count(_._2 <= 3)
    assert(within * 100 >= hd.length * 95,
      s"only $within/${hd.length} within radius 3: ${dist.toSeq.sorted}")
    assert(hd.map(_._2).max < 16, s"re-encode moved a hash implausibly far: ${dist.toSeq.sorted}")
  }

  test("mixed PNG/JPEG crawl scrubs against the stored pHash index") {
    val sf = "/root/testdata/sf0.001"
    val base = java.nio.file.Files.createTempDirectory("graft_phash_jpeg").toString
    val idx = s"$base/phash_index"
    // stored corpus: the PNG originals
    Multimodal.buildPhashIndex(spark, Multimodal.syntheticImagesNoisy(spark, sf), idx)
    // new crawl: the SAME images re-encoded as quality-95 JPEGs under new ids
    val crawl = Multimodal.syntheticImagesJpeg(spark, sf)
      .withColumn("doc_id", col("doc_id") + 500000L)
    val scrubbed = Multimodal.scrubImagesAgainstIndex(spark, crawl, idx)
      .selectExpr("doc_id", "n_matches", "match_id").collect()
    assert(scrubbed.nonEmpty)
    // the re-encodes pair back to stored PNG originals at the radius-3
    // recall the stability test measures (>= 95%); every match that IS
    // found must be a stored original, and the same-class original (the
    // one with the matching pixel pattern) must be among the candidates
    val matched = scrubbed.filter(_.getLong(1) >= 1)
    assert(matched.length * 100 >= scrubbed.length * 95,
      s"scrub recall ${matched.length}/${scrubbed.length}")
    matched.foreach { r =>
      assert(r.getLong(2) < 500000L,
        s"jpeg ${r.getLong(0)} canonical ${r.getLong(2)} is not a stored original")
    }
  }

  test("scene cuts: exactly the planted boundary per video, through real GIF decode") {
    val rows = SparkEntry.queries("q_multimodal_scenes")(spark, "/root/testdata/sf0.001")
      .selectExpr("doc_id", "frame", "is_cut", "scene_id").collect()
      .groupBy(_.getLong(0))
    assert(rows.nonEmpty)
    rows.foreach { case (docId, frames) =>
      val cuts = frames.filter(_.getBoolean(2)).map(_.getLong(1)).toSeq
      assert(cuts == Seq(3 + docId % 3), s"video $docId: cuts at $cuts")
      assert(frames.map(_.getLong(3)).max == 1, s"video $docId: scene count drifted")
    }
  }
}
