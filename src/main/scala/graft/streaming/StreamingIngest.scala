package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.pipeline.Ingest

/** Streaming ingest: the Spark re-architecture of the reference's whole
  * S3 -> Firehose -> transform-Lambda -> S3 delivery chain (SURVEY §3.1).
  *
  * One Structured Streaming query replaces all three process boundaries:
  * a file source watches the landing directory (the S3 input bucket
  * analogue), the parse cascade + plugin pipeline run inside a narrow
  * flatMap (the transform Lambda), and a checkpointed partitioned-parquet
  * sink plays Firehose delivery — the 60 s processing-time trigger
  * reproduces Firehose's `buffer_interval = 60`
  * (`/root/reference/main.tf:616-617`), and the file sink's transactional
  * commit log replaces Firehose's at-least-once retry with exactly-once.
  * Partitions are visible at commit time, beating the reference's <=10 min
  * registration cron (`generate_partitions.py`).
  *
  * Scale: the pipeline stage is stateless and shuffle-free — it parallelizes
  * with input files across any number of executors. The only stateful
  * operator is the optional replay-dedup, which is bounded by a watermark.
  */
object StreamingIngest {

  /** The record-level parse cascade shared by EVERY source: one raw blob
    * (a landed file's text, or one producer record's payload) -> `Records[]`
    * unroll / list / single-dict normalize -> plugin pipeline -> shell
    * events, each with a deterministic replay key (128->64-bit murmur3 of
    * the RAW record — a 32-bit String.hashCode would collide and silently
    * drop legitimate events as "replays"). The post-pipeline uuid `eventid`
    * can never dedup replays — event_shell moves producer-supplied eventids
    * into `details` and ensure_eventid mints a fresh uuid per run
    * (reference behavior, event_shell.py:36-44) — so replay safety keys on
    * raw content. Sources only decide how blobs ARRIVE; parsing is
    * byte-identical across them (pinned in StreamingSpec). */
  private def cascadeWithKey(origin: String, content: String): Seq[(graft.pipeline.Event, Long)] =
    graft.pipeline.Ingest.rawRecords(origin, content).flatMap { raw =>
      val rendered = graft.json.Json.render(raw)
      val key = com.google.common.hash.Hashing.murmur3_128()
        .hashString(rendered, java.nio.charset.StandardCharsets.UTF_8).asLong()
      try graft.pipeline.Pipeline.process(raw)
        .map(sh => (graft.pipeline.Pipeline.toEvent(sh), key))
      catch {
        case e: Exception =>
          // the batch path lands these in the errors sink; streaming has
          // a single sink, so surface the drop to the operator log (a
          // production deployment would dual-write via foreachBatch)
          org.slf4j.LoggerFactory.getLogger("graft.streaming")
            .warn(s"dropping failed record from $origin: ${e.getClass.getSimpleName}: ${e.getMessage}")
          None
      }
    }

  /** Events (post-pipeline) as an unbounded DataFrame from the FILE source
    * (the S3-landing analogue). `maxFilesPerTrigger` is the Firehose
    * buffer_size analogue — bounds per-batch work. */
  def eventsStream(spark: SparkSession, landingDir: String, maxFilesPerTrigger: Int = 1000): DataFrame = {
    import spark.implicits._
    spark.readStream
      .option("wholetext", "true")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(landingDir)
      .select(input_file_name().as("path"), col("value"))
      .as[(String, String)]
      .flatMap { case (path, content) => cascadeWithKey(path, content) }
      .select(col("_1.*"), col("_2").as("dedup_key"))
      .withColumn("ingest_ts", current_timestamp())
  }

  /** Events from DIRECT PRODUCERS (SURVEY §3.2): the reference's second
    * ingest path, where producers `put_record_batch` base64 payloads
    * straight into the delivery stream instead of landing files
    * (`lambdas/processor.py:24-28`, `README.md:201`). `records` is ANY
    * unbounded frame with columns (origin: string, data: string) — `data`
    * the base64 record payload, Firehose `Record.data` parity; memory,
    * socket, rate, or Kafka sources all map here with one `selectExpr`
    * (e.g. socket: `value` split on first comma; Kafka: topic + base64 of
    * the value bytes). The unbase64 is `processor.py`'s b64decode, and
    * everything after it is the SAME cascade as the file path — the
    * streaming-parity test pins field-identical output including the
    * replay key. Per-record blobs keep the stage narrow and shuffle-free,
    * exactly like the file path. */
  def eventsFromProducer(records: DataFrame): DataFrame = {
    val spark = records.sparkSession
    import spark.implicits._
    records
      // try_to_binary, not unbase64: one malformed producer payload must
      // drop (same stance as the cascade's bad-record handling), not kill
      // the stream with an ANSI decode error
      .select(col("origin"),
        expr("try_to_binary(data, 'base64')").cast("string").as("content"))
      .filter(col("content").isNotNull)
      .as[(String, String)]
      .flatMap { case (origin, content) => cascadeWithKey(origin, content) }
      .select(col("_1.*"), col("_2").as("dedup_key"))
      .withColumn("ingest_ts", current_timestamp())
  }

  /** Replay safety: drop records whose raw content was already seen within
    * the watermark window. State is bounded by the watermark (at-least-once
    * inputs, effectively-once outputs). */
  def withReplayDedup(events: DataFrame, watermark: String = "10 minutes"): DataFrame =
    events
      .withWatermark("ingest_ts", watermark)
      .dropDuplicatesWithinWatermark("dedup_key")

  /** Start the ingest query: landing dir -> partitioned parquet events table.
    * `trigger` defaults to the Firehose-parity 60 s micro-batch; tests pass
    * `Trigger.AvailableNow()` to drain and stop. The replay-dedup state's
    * partition count is the session's core count (`spark.sql.shuffle.partitions`
    * under [[graft.Engine.createSession]]), fixed when the checkpoint is
    * created; restarts keep the recorded count. */
  def start(
      spark: SparkSession,
      landingDir: String,
      outDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds"),
      dedupWatermark: Option[String] = Some("10 minutes")): StreamingQuery = {
    val events = eventsStream(spark, landingDir)
    val deduped = dedupWatermark.fold(events)(withReplayDedup(events, _))
    deduped
      .drop("ingest_ts", "dedup_key")
      .writeStream
      .format("parquet")
      .option("path", outDir)
      .option("checkpointLocation", checkpointDir)
      .partitionBy("year", "month", "day", "hour")
      .trigger(trigger)
      .start()
  }

  /** Streaming errors sink — the Firehose `error_output_prefix` analogue
    * (`/root/reference/main.tf:618`) for the streaming path: a SECOND
    * checkpointed query over the same landing dir that keeps only pipeline
    * failures and lands them as NDJSON. Running it as its own query (rather
    * than foreachBatch dual-writes inside the main one) keeps BOTH sinks on
    * the file sink's transactional commit log — exactly-once each — at the
    * cost of re-running the cheap, shuffle-free parse over the input. */
  def startErrorsStream(
      spark: SparkSession,
      landingDir: String,
      errDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds"),
      maxFilesPerTrigger: Int = 1000): StreamingQuery = {
    import spark.implicits._
    spark.readStream
      .option("wholetext", "true")
      .option("maxFilesPerTrigger", maxFilesPerTrigger)
      .text(landingDir)
      .select(input_file_name().as("path"), col("value"))
      .as[(String, String)]
      .flatMap { case (path, content) => Ingest.processFileEither(path, content)._2 }
      .writeStream
      .format("json")
      .option("path", errDir)
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .start()
  }

  /** The one micro-batch fold of every store-maintaining stream: `fold`
    * runs once per micro-batch with the batch and its id. foreachBatch
    * delivers at-least-once — after a crash Spark re-runs the batch whose
    * commit it had not logged, under the same id — so every fold is
    * replay-idempotent: a batch-id cursor committed in the store's own swap
    * ([[graft.operators.StoreCommit.publishBatch]]), a monotonic boundary
    * ([[graft.operators.DatasetCard]], [[graft.operators.ReplayGuard]]),
    * or a write idempotent by key ([[graft.operators.Merge.upsertPartitioned]]).
    * This is the idempotent-sink half of Structured Streaming's
    * effectively-once output. `trigger` defaults to the Firehose-parity
    * 60 s micro-batch; tests pass `Trigger.AvailableNow()` to drain and
    * stop. */
  def foldEachBatch(
      stream: DataFrame,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds"))(
      fold: (DataFrame, Long) => Unit): StreamingQuery =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], batchId: Long) =>
        fold(batch.toDF(), batchId)
      }
      .trigger(trigger)
      .start()

  /** Streaming ANN-index maintenance — continuous ingest keeps the persisted
    * IVF-PQ index current: each micro-batch of vectors (schema: vec_id,
    * embedding, label — the embeddings-table layout) lands in the corpus
    * table and is then encoded into the stored index via
    * [[graft.operators.VectorIndex.appendIvfPq]] (STORED codebooks, no
    * retrain, atomic two-rename publish — searchers always see a complete
    * index). Effectively-once under foreachBatch's at-least-once replay:
    * the corpus write dedups through [[graft.operators.ReplayGuard]] — a
    * persisted high-water mark bounds the dedup to the one overlapping
    * batch window (zero corpus reads per batch in the normal path; a table
    * format would make this a MERGE), and appendIvfPq itself is
    * replay-idempotent. The index-append boundary is
    * derived from the RAW batch, not the post-anti-join remainder — if a
    * crash lands the corpus write but not the index publish, the replayed
    * batch anti-joins to empty, and a boundary taken from it would skip the
    * index append forever, leaving those vectors stored but unsearchable;
    * re-encoding an already-indexed delta is harmless. Codebook staleness
    * under continuous append is the metered quantity: with
    * `autoRebuildThreshold` set, each batch closes the loop — after the
    * append, the drift of everything past the index's recorded training
    * boundary is measured against the base-slice error stats persisted in
    * the index `meta` (O(delta) per batch — the corpus is never re-encoded
    * here), and a ratio over the threshold triggers a full retrain of the
    * MATCHING flavor on the current corpus (the `meta` boundary advances
    * with it). Indexes without a recorded boundary (pre-meta builds) skip
    * the drift check rather than crash the stream. Production would
    * typically hand the rebuild to a separate scheduler (it is a training
    * job inside a micro-batch); the default None keeps the stream
    * append-only and leaves [[graft.operators.VectorIndex.driftRatio]] to
    * external polling. */
  def startIndexMaintenanceStream(
      vectors: DataFrame,
      corpusDir: String,
      indexDir: String,
      checkpointDir: String,
      trigger: Trigger = Trigger.ProcessingTime("60 seconds"),
      autoRebuildThreshold: Option[Double] = None): StreamingQuery =
    foldEachBatch(vectors, checkpointDir, trigger) { (batch, _) =>
      val s = batch.sparkSession
      val embDir = s"$corpusDir/embeddings.parquet"
      val raw = batch.dropDuplicates("vec_id").cache()
      val rawMin = raw.agg(min(col("vec_id"))).head().get(0)
      if (rawMin != null) {
        // the mark BEFORE freshThenAdvance advances it — the feed's proven
        // frontier, against which this batch's monotonicity is judged
        val prevMark = graft.operators.ReplayGuard.highWaterMark(s, embDir)
        // O(delta) replay guard: the high-water mark bounds the dedup scan
        // to the one overlapping batch window (zero sink reads in the
        // normal path) instead of re-scanning every vec_id ever written
        // each trigger — see ReplayGuard for the crash-ordering argument
        val fresh = graft.operators.ReplayGuard.freshThenAdvance(raw, "vec_id", embDir)
        if (!fresh.isEmpty) fresh.write.mode("append").parquet(embDir)
        // dispatch on the persisted flavor: one maintenance loop serves
        // the whole index family. Binary codes have no trained codebook,
        // so their appends cannot drift; sq8 appends inherit the trained
        // calibration but store no per-vector error, so neither flavor
        // gets the PQ rebuild metering below.
        val flavor = graft.operators.VectorIndex.flavorOf(s, indexDir)
        val unmetered = Set(
          graft.operators.VectorIndex.FlavorBinary,
          graft.operators.VectorIndex.FlavorSq8)
        // the appends encode the BATCH'S OWN rows (the *Rows cores, r16):
        // the old corpus-dir form re-listed and re-scanned the whole
        // embeddings directory every micro-batch — at 100 TB the listing
        // alone grows with corpus age; this path is O(delta) end to end.
        // Replay parity is unchanged: a replayed batch re-derives the
        // identical delta against the sub-boundary old side either way.
        //
        // The *Rows fast path is only SAFE on a monotonic feed: the old
        // side keeps codes below rawMin and the new side encodes only
        // this batch, so a LATE row (vec_id below the already-indexed
        // frontier) would silently evict every indexed row above it
        // (r16 ADVICE). The guard is the ReplayGuard mark read BEFORE
        // this batch advanced it: rawMin above the mark is the normal
        // monotonic case; anything else (crash replay of the last
        // window, or genuinely late data) re-encodes from the CORPUS
        // at the same boundary — identical result for a true replay
        // (the corpus tail past rawMin IS the batch, still O(delta)),
        // and for late data it re-encodes the overlap instead of
        // dropping it, at a cost proportional to the lateness.
        val rawMinL = rawMin.asInstanceOf[Long]
        val monotonic = prevMark.forall(rawMinL > _)
        if (!monotonic)
          System.err.println(
            s"[index-maintenance] batch min vec_id $rawMinL is at or below the " +
              s"feed frontier ${prevMark.get} (crash replay or out-of-order feed); " +
              "falling back to the corpus-boundary re-encode for this batch")
        if (flavor == graft.operators.VectorIndex.FlavorBinary) {
          if (monotonic)
            graft.operators.VectorIndex.appendBinaryRows(s, raw, indexDir, rawMinL)
          else graft.operators.VectorIndex.appendBinary(s, corpusDir, indexDir, rawMinL)
        } else if (flavor == graft.operators.VectorIndex.FlavorSq8) {
          if (monotonic)
            graft.operators.VectorIndex.appendSq8Rows(s, raw, indexDir, rawMinL)
          else graft.operators.VectorIndex.appendSq8(s, corpusDir, indexDir, rawMinL)
        } else {
          if (monotonic)
            graft.operators.VectorIndex.appendIvfPqRows(s, raw, indexDir, rawMinL)
          else graft.operators.VectorIndex.appendIvfPq(s, corpusDir, indexDir, rawMinL)
        }
        if (!unmetered.contains(flavor))
          autoRebuildThreshold.foreach { threshold =>
            graft.operators.VectorIndex.trainBoundOpt(s, indexDir).foreach { bound =>
              if (graft.operators.VectorIndex.driftRatio(s, corpusDir, indexDir, bound)
                  > threshold) {
                if (flavor == graft.operators.VectorIndex.FlavorResidual)
                  graft.operators.VectorIndex.buildIvfPqResidual(s, corpusDir, indexDir)
                else graft.operators.VectorIndex.buildIvfPq(s, corpusDir, indexDir)
              }
            }
          }
      }
      raw.unpersist()
    }

  /** Streaming analytics over the event stream (SURVEY §2B streaming row):
    * tumbling event-time window counts with late-data drop. Watermark bounds
    * the window state; at 100 TB/day this shuffles once per window on
    * (window, source) — low cardinality, no skew hazard. */
  def hourlyCounts(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withColumn("event_ts", to_timestamp(col("utctimestamp")))
      .filter(col("event_ts").isNotNull)
      .withWatermark("event_ts", watermark)
      .groupBy(window(col("event_ts"), "1 hour"), col("source"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("hour_start"), col("source"), col("n"))

  /** Stream-static enrichment: tag in-flight events whose discovered source
    * IP appears on a (small, static) intel list — the classic security-lake
    * join. The static side broadcasts, so the stream never shuffles and no
    * streaming state accrues; at 100 TB/day this is a per-batch broadcast
    * hash join inside the same narrow stage as the pipeline. The intel frame
    * must have columns (ip, threat). */
  def withThreatIntel(events: DataFrame, intel: DataFrame): DataFrame =
    events
      .withColumn("src_ip", get_json_object(col("details"), "$.sourceipaddress"))
      .join(broadcast(intel), col("src_ip") === intel("ip"), "left")
      .withColumn(
        "tags",
        when(col("threat").isNotNull, array_union(col("tags"), array(col("threat"))))
          .otherwise(col("tags")))
      .drop("src_ip", "ip", "threat")

  /** Stream-stream interval join: correlate two LIVE streams within a time
    * bound (login -> alert, click -> purchase) — the two-stream twin of the
    * batch [[graft.operators.RangeJoin]]. Both inputs must carry columns
    * `key` and `ts` (TimestampType). Both sides are watermarked and the
    * range predicate appears IN the join condition, so Spark derives a state
    * eviction bound: each side buffers only `watermark + maxGap` of data per
    * key — bounded state at any throughput, the property that makes the join
    * runnable forever at 100 TB/day. Inner matches emit as soon as both rows
    * arrive (no watermark wait); the shuffle keys on `key`.
    *
    * Output is the match skeleton (key, l_ts, r_ts, gap_s); callers carry
    * payloads by joining back on (key, ts) or widening the input frames. */
  def correlateStreams(
      left: DataFrame,
      right: DataFrame,
      maxGap: String = "10 minutes",
      watermark: String = "10 minutes"): DataFrame = {
    val l = left.withWatermark("ts", watermark).alias("l")
    val r = right.withWatermark("ts", watermark).alias("r")
    l.join(
        r,
        expr(s"""l.key = r.key AND r.ts > l.ts AND r.ts <= l.ts + INTERVAL $maxGap"""))
      .select(
        col("l.key").as("key"),
        col("l.ts").as("l_ts"),
        col("r.ts").as("r_ts"),
        (unix_timestamp(col("r.ts")) - unix_timestamp(col("l.ts"))).as("gap_s"))
  }

  /** Sliding-window variant (5-minute slide over a 1-hour window). */
  def slidingCounts(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withColumn("event_ts", to_timestamp(col("utctimestamp")))
      .filter(col("event_ts").isNotNull)
      .withWatermark("event_ts", watermark)
      .groupBy(window(col("event_ts"), "1 hour", "5 minutes"), col("source"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("window_start"), col("source"), col("n"))
}
