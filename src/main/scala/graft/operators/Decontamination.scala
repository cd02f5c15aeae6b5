package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted benchmark-contamination filter — the build-once / scrub-many
  * lifecycle behind `q_contamination_bloom` (the in-query path trains the
  * filter inline so the oracle can replay it; production builds it ONCE
  * from the benchmark suite and scrubs every crawl snapshot and every
  * incoming stream against the stored artifact):
  *
  *   bloom/   the m=65536-bit filter as 32-bit words in BIGINTs
  *            (word_idx, bits) — ~2048 rows, broadcasts as one map row
  *   grams/   the exact benchmark n-gram set — the confirm side, joined
  *            ONLY by bloom-flagged survivors (~fill³ of the corpus)
  *
  * The probe math is shared verbatim with the query (one 46-bit polynomial
  * hash state sliced into three near-disjoint 16-bit windows — affine
  * probes off one narrow hash degenerate to k=1, measured 3.6% vs 0.14%
  * FP; see the query's docstring). Publishing is atomic (build-aside +
  * rename with rollback), the same discipline as VectorIndex and the lake
  * maintenance operators. At 100 TB the bloom grows with the BENCHMARK
  * (not the corpus) and stays a broadcast; the corpus side is a narrow
  * scan + three bit tests.
  *
  * Reference scope note: decontamination is beyond-reference surface (the
  * reference pipeline at 0xdefendA/defenda-data-lake has no training-data
  * layer); the lifecycle shape mirrors its partition-maintenance
  * discipline (defenda-data-lake/terraform + athenahelper partition
  * registration).
  */
object Decontamination {

  val NGram = 4
  val MBits = 65536L

  /** (doc_id, ng) word n-grams per document, deduped. */
  def docNgrams(docs: DataFrame, n: Int = NGram): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= n)
      // codegen'd n-gram kernel (r19): the transform/array_join/slice HOF
      // chain evaluated an interpreted lambda + two array allocations per
      // gram (bit-parity pinned in FunctionsSpec)
      .select(col("doc_id"),
        explode(graft.functions.VectorFunctions.wordNgrams(col("toks"), n)).as("ng"))
      .distinct()

  /** 46-bit polynomial hash of an (ASCII) n-gram — every step integer and
    * ANSI-overflow-free, replayed exactly by the DuckDB oracle. Served by
    * the codegen'd [[graft.functions.VectorOps.polyHash46]] kernel
    * (bit-parity with the declarative char fold pinned in FunctionsSpec —
    * the fold interprets one lambda tree per character per n-gram and was
    * the probe side's dominant cost). */
  def hashOf(c: Column): Column = graft.functions.VectorFunctions.polyHash(c)

  /** The three probe positions: near-disjoint 16-bit windows of the hash
    * state (bits 0-15, 15-30, 30-45). */
  def positions(h: Column): Column =
    array(h % MBits, shiftright(h, 15) % MBits, shiftright(h, 30) % MBits)

  /** Benchmark n-grams -> the (word_idx, bits) filter table. */
  def bloomTable(benchNgrams: DataFrame): DataFrame =
    benchNgrams
      .select(explode(positions(hashOf(col("ng")))).as("p"))
      .select(expr("p div 32").as("word_idx"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 32 AS INT))").as("bitval"))
      .groupBy("word_idx").agg(bit_or(col("bitval")).as("bits"))

  /** Collapse the filter table to ONE broadcastable map row. */
  def bloomRow(bloom: DataFrame): DataFrame =
    bloom.agg(
      map_from_entries(collect_list(struct(col("word_idx"), col("bits")))).as("bm"))

  private def bitSet(p: String): String =
    s"(coalesce(try_element_at(bm, $p div 32), 0) & " +
      s"shiftleft(CAST(1 AS BIGINT), CAST($p % 32 AS INT))) != 0"

  /** Probe (doc_id, ng) rows against a bloom map row: adds `bloom_hit` —
    * a narrow crossJoin + three bit tests riding the scan. */
  def probe(grams: DataFrame, bloomOneRow: DataFrame): DataFrame =
    grams
      .withColumn("h", hashOf(col("ng")))
      .crossJoin(broadcast(bloomOneRow))
      .withColumn("p1", col("h") % MBits)
      .withColumn("p2", shiftright(col("h"), 15) % MBits)
      .withColumn("p3", shiftright(col("h"), 30) % MBits)
      .withColumn("bloom_hit",
        expr(s"${bitSet("p1")} AND ${bitSet("p2")} AND ${bitSet("p3")}"))
      .select(col("doc_id"), col("ng"), col("bloom_hit"))

  /** Build and atomically publish the filter from a benchmark document
    * table: bloom words + the exact n-gram confirm set. */
  def buildFilter(spark: SparkSession, benchDocs: DataFrame, filterDir: String): Unit = {
    val dir = new Path(filterDir)
    StoreCommit.publish(StoreCommit.fsOf(spark, dir), dir) { tmp =>
      docNgrams(benchDocs).select("ng").distinct()
        .write.mode(SaveMode.Overwrite).parquet(s"$tmp/grams")
      bloomTable(spark.read.parquet(s"$tmp/grams"))
        .write.mode(SaveMode.Overwrite).parquet(s"$tmp/bloom")
    }
  }

  /** Scrub a document batch against the STORED filter: per-doc n-gram,
    * bloom-flagged, and exact-confirmed counts (the q_contamination_bloom
    * output shape, served from disk instead of inline training). */
  def scrub(spark: SparkSession, docs: DataFrame, filterDir: String): DataFrame = {
    // non-mutating read resolution (a reader must never rename mid-swap)
    val root = StoreCommit.readableRoot(
      StoreCommit.fsOf(spark, new Path(filterDir)), new Path(filterDir))
    val grams = docNgrams(docs)
    val flagged = probe(grams,
        bloomRow(spark.read.parquet(new Path(root, "bloom").toString)))
      .filter(col("bloom_hit"))
    val exact = flagged
      .join(spark.read.parquet(new Path(root, "grams").toString), Seq("ng"), "leftsemi")
      .groupBy("doc_id").agg(count(lit(1)).as("exact_hits"))
    grams.groupBy("doc_id").agg(count(lit(1)).as("n_ngrams"))
      .join(flagged.groupBy("doc_id").agg(count(lit(1)).as("bloom_hits")),
        Seq("doc_id"), "left")
      .join(exact, Seq("doc_id"), "left")
      // coalesce in its OWN projection — re-aliasing a referenced input
      // name in one select is the lateral-alias hazard (EngineSpec lint)
      .withColumn("bloom_hits", coalesce(col("bloom_hits"), lit(0L)))
      .withColumn("exact_hits", coalesce(col("exact_hits"), lit(0L)))
      .select(
        col("doc_id"), col("n_ngrams"), col("bloom_hits"), col("exact_hits"),
        (col("exact_hits") > 0).as("is_contaminated"))
  }

  /** Streaming twin: scrub each micro-batch of documents against the
    * stored filter and append per-doc verdicts to `outDir` —
    * effectively-once via [[ReplayGuard]]'s high-water-marked dedup
    * (O(delta) per batch: zero sink reads in the normal path, a windowed
    * anti-join on crash replay — never a scan of every verdict ever
    * written). The guard runs on the INPUT batch, so a replayed batch also
    * skips re-scrubbing documents whose verdicts already landed. */
  def startScrubStream(
      spark: SparkSession, docsStream: DataFrame, filterDir: String,
      outDir: String, checkpointDir: String,
      trigger: org.apache.spark.sql.streaming.Trigger): org.apache.spark.sql.streaming.StreamingQuery =
    graft.streaming.StreamingIngest.foldEachBatch(docsStream, checkpointDir, trigger) {
      (batch, _) =>
        val deduped = batch.dropDuplicates("doc_id").cache()
        try {
          val fresh = ReplayGuard.freshThenAdvance(deduped, "doc_id", outDir)
          scrub(batch.sparkSession, fresh, filterDir)
            .write.mode(SaveMode.Append).parquet(outDir)
        } finally deduped.unpersist()
    }
}
