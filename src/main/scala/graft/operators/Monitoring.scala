package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Event-stream monitoring: the hourly-counts → dense spine → rolling
  * z-score pipeline shared by the batch query (`q_events_anomaly`) and the
  * streaming monitor ([[updateHourly]] folded per micro-batch).
  *
  * The streaming shape: per micro-batch, fold the batch's hourly partial
  * counts into a persisted hourly table (atomic aside+rename swap, replay
  * guarded by the committed batch id stored INSIDE the swapped directory so
  * store content and replay cursor move as one), then re-derive the alerts
  * table from the store alone. The store is types × hours — BOUNDED state
  * that grows by one row per (type, hour) regardless of event volume — so
  * "recompute alerts from the store" is O(store), not O(corpus): the
  * corpus-sized work per batch is exactly one hourly partial aggregate of
  * the delta. That split (O(delta) ingest + bounded-table analytics) is the
  * same lifecycle discipline as the signature stores and vector indexes.
  */
object Monitoring {

  /** Trailing window length (hours) and the |z| > 3 gate, kept integer-exact:
    * with S = Σ and Q = Σ² over the W fully-populated preceding hours,
    * z² > 9 against the trailing population variance rearranges to
    * (W·n − S)² > 9(W·Q − S²) — BIGINT cross-multiplication, no sqrt/float,
    * so batch, stream, and the DuckDB oracle agree bit-for-bit. */
  val WindowHours = 24

  /** Per-type hourly counts of an (event_type, ts) frame — the only
    * corpus-sized stage of the whole pipeline. */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .groupBy(col("event_type"), date_trunc("hour", col("ts")).as("hr"))
      .agg(count(lit(1)).as("n"))

  /** Gap-fill an (event_type, hr, n, ...) frame to a dense per-type hourly
    * spine over each type's [min, max] hour range: missing hours get n = 0,
    * any extra columns ride along (null in gap rows). Spine cardinality is
    * types × hours — `sequence()` + explode on a types-sized bounds
    * aggregate, independent of event volume. */
  def denseCounts(hourly: DataFrame): DataFrame = {
    val extra = hourly.columns.filterNot(Set("event_type", "hr", "n")).toSeq
    val spine = hourly.groupBy("event_type")
      .agg(min("hr").as("h0"), max("hr").as("h1"))
      .select(col("event_type"),
        explode(sequence(col("h0"), col("h1"), expr("interval 1 hour"))).as("hr"))
    spine.join(hourly, Seq("event_type", "hr"), "left")
      .select((Seq(col("event_type"), col("hr"),
        coalesce(col("n"), lit(0L)).as("n")) ++ extra.map(col)): _*)
  }

  /** Rolling z-score anomaly gate over an (event_type, hr, n) hourly frame:
    * flags hours whose count deviates more than 3 trailing standard
    * deviations from the previous [[WindowHours]] fully-populated hours of
    * the dense spine. Output: (event_type, hr, n, expected). */
  def anomalies(hourly: DataFrame): DataFrame = {
    val W = WindowHours
    val w = Window.partitionBy("event_type").orderBy("hr").rowsBetween(-W, -1)
    denseCounts(hourly.select("event_type", "hr", "n"))
      .select(col("event_type"), col("hr"), col("n"),
        count(lit(1)).over(w).as("w_cnt"),
        sum("n").over(w).as("s"),
        sum(col("n") * col("n")).over(w).as("q"))
      .filter(col("w_cnt") === W &&
        (lit(W) * col("n") - col("s")) * (lit(W) * col("n") - col("s")) >
          lit(9) * (lit(W) * col("q") - col("s") * col("s")))
      .select(col("event_type"), col("hr"), col("n"),
        expr(s"s div $W").as("expected"))
  }

  // ---- persisted hourly store ----------------------------------------

  /** The live hourly table (empty frame if nothing committed yet). */
  def readHourly(spark: SparkSession, storeDir: String): DataFrame = {
    val dir = new Path(s"$storeDir/hourly")
    val fs = StoreCommit.fsOf(spark, dir)
    val src = StoreCommit.readableRoot(fs, dir) // non-mutating: see StoreCommit
    if (fs.exists(src)) spark.read.parquet(src.toString)
    else spark.range(0).select(
      lit("").as("event_type"), lit(null).cast("timestamp").as("hr"), lit(0L).as("n"))
  }

  /** Fold one micro-batch of (event_type, ts) events into the stored hourly
    * table, then republish the alerts table derived from the store alone
    * through the IDENTICAL integer z-score gate the batch query and DuckDB
    * oracle run. Replay-safe: a batch id at or below the committed cursor
    * (stored inside the swapped directory, so cursor and content are one
    * atomic unit) is a crash replay and folds nothing. The alerts publish
    * runs even then: a crash between the two publishes leaves the hourly
    * fold committed and the alerts stale, and the replay heals them.
    * Per-batch cost: one O(delta) hourly aggregate plus analytics over the
    * bounded types × hours store — event volume never re-enters. */
  def updateHourly(
      spark: SparkSession, batch: DataFrame, storeDir: String, batchId: Long): Unit = {
    val dir = new Path(s"$storeDir/hourly")
    StoreCommit.publishBatch(StoreCommit.fsOf(spark, dir), dir, batchId) { tmp =>
      readHourly(spark, storeDir)
        .unionByName(hourlyCounts(batch))
        .groupBy("event_type", "hr").agg(sum("n").as("n"))
        .coalesce(1).write.parquet(tmp.toString)
    }
    publishAlerts(spark, storeDir)
  }

  /** Re-derive and atomically publish the alerts table from the stored
    * hourly counts — idempotent by construction (pure function of the
    * store), so it needs no replay cursor. */
  private def publishAlerts(spark: SparkSession, storeDir: String): Unit = {
    val dir = new Path(s"$storeDir/alerts")
    StoreCommit.publish(StoreCommit.fsOf(spark, dir), dir)(tmp =>
      anomalies(readHourly(spark, storeDir)).coalesce(1).write.parquet(tmp.toString))
  }

  /** The live alerts table. */
  def readAlerts(spark: SparkSession, storeDir: String): DataFrame = {
    val dir = new Path(s"$storeDir/alerts")
    spark.read.parquet(
      StoreCommit.readableRoot(StoreCommit.fsOf(spark, dir), dir).toString) // non-mutating
  }

  // ---- per-user inter-arrival regularity store (bot detection, live) ----
  //
  // The streaming twin of q_events_regularity: per-user gap variance is
  // mergeable once the state carries (n_gaps, Σgap, Σgap², last_t) — the
  // cross-BATCH-BOUNDARY gap is recovered by joining the stored last_t to
  // each batch's first event time. State is O(users) rows (grows with the
  // user population, never event volume) — the ONLY store in the repo whose
  // size tracks a data population, so unlike the bounded ledgers it must
  // never be rewritten whole per batch (r9 verdict: at CloudTrail-scale
  // user counts a full-state coalesce(1) rewrite is an O(users)
  // single-task I/O floor under every batch). The state is therefore
  // HASH-BUCKETED on user_id (`regularity/bucket=k/`, [[RegularityBuckets]]
  // dirs, each its own atomic-swap + replay-cursor unit): a fold reads and
  // rewrites ONLY the buckets the batch touches, one file per bucket, and
  // an untouched bucket's files are byte-identical across the fold (pinned
  // in StreamingSpec). Per-batch cost is O(delta + touched-buckets'
  // state); a small batch touching few users leaves most of the store
  // undisturbed. Assumes per-user event-time-ordered arrival ACROSS
  // batches (the monotone-source property every append-only event feed
  // has); out-of-order WITHIN a micro-batch is handled by the in-batch
  // sort.

  /** Bucket count for the regularity store layout. Sandbox-sized here so
    * the spec exercises multi-bucket folds and untouched buckets; a
    * CloudTrail-scale deployment raises it (e.g. 4096) so each bucket's
    * file stays executor-memory-sized — the dial trades per-fold task
    * count against file size, never correctness (bucket is a pure
    * function of user_id). */
  val RegularityBuckets = 8

  /** The store bucket of a user — pure function of user_id (Murmur3, like
    * the repo's other hash-partitioning devices), so any fold, any replay,
    * any reader agrees with no bucket manifest to coordinate. */
  def regularityBucket(userId: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(hash(userId), lit(RegularityBuckets))

  private def bucketDir(storeDir: String, k: Int): Path =
    new Path(s"$storeDir/regularity/bucket=$k")

  /** Per-user gap statistics of one (user_id, event_id, ts) frame in
    * (ts, event_id) order — the within-batch partial of the fold. */
  def gapPartials(events: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    events
      .select(col("user_id"), col("event_id"),
        expr("unix_micros(ts) div 1000000").as("t_s"), col("ts"))
      .withColumn("gap", col("t_s") - lag("t_s", 1).over(w))
      .groupBy("user_id")
      .agg(
        sum(when(col("gap").isNotNull, 1L).otherwise(0L)).as("n_gaps"),
        coalesce(sum("gap"), lit(0L)).as("sum_gap"),
        coalesce(sum(expr("gap * gap")), lit(0L)).as("sum_gap2"),
        min("t_s").as("first_t"), max("t_s").as("last_t"))
  }

  private def emptyRegularity(spark: SparkSession): DataFrame =
    spark.range(0).select(lit(0L).as("user_id"), lit(0L).as("n_gaps"),
      lit(0L).as("sum_gap"), lit(0L).as("sum_gap2"), lit(0L).as("last_t"))

  /** The readable roots of a set of buckets — swap-safe per bucket
    * (readableRoot, non-mutating), only dirs that exist. */
  private def readableBuckets(
      spark: SparkSession, storeDir: String, ks: Seq[Int]): Seq[Path] =
    ks.flatMap { k =>
      val dir = bucketDir(storeDir, k)
      val fs = StoreCommit.fsOf(spark, dir)
      val src = StoreCommit.readableRoot(fs, dir) // non-mutating
      if (fs.exists(src)) Some(src) else None
    }

  /** The live per-user regularity state — ONE multi-path parquet read over
    * every committed bucket dir (empty frame if nothing committed yet). */
  def readRegularity(spark: SparkSession, storeDir: String): DataFrame = {
    val roots = readableBuckets(spark, storeDir, 0 until RegularityBuckets)
    if (roots.isEmpty) emptyRegularity(spark)
    else spark.read.parquet(roots.map(_.toString): _*)
  }

  /** Fold one micro-batch of (user_id, event_id, ts) events into the stored
    * per-user gap state. The boundary gap (batch's first event minus the
    * stored last_t) is what makes the drained store equal a one-shot
    * aggregate of the full stream bit-for-bit.
    *
    * Bucketed fold: only the buckets the batch touches are read, merged,
    * and swapped — every other bucket's files are not opened, let alone
    * rewritten. The replay cursor is PER BUCKET: a crash between bucket
    * swaps leaves some buckets already carrying this batch; on replay
    * their cursor skips them and only the still-behind buckets fold — the
    * fold is idempotent per bucket, so the torn publish heals to exactly
    * one application of the batch everywhere. */
  def updateRegularity(
      spark: SparkSession, batch: DataFrame, storeDir: String, batchId: Long): Unit = {
    val root = new Path(s"$storeDir/regularity")
    val fs = StoreCommit.fsOf(spark, root)
    // layout guard: a store written by the pre-bucketed code has parquet
    // files directly under regularity/ — reading it as "no buckets = empty"
    // would silently drop all accumulated state AND re-fold replayed
    // batches (double counts). Fail loudly instead; the migration is a
    // one-off re-fold of the old rows through this same function.
    if (fs.exists(root) && fs.listStatus(root).exists(st =>
        st.isFile && st.getPath.getName.endsWith(".parquet")))
      throw new IllegalStateException(
        s"$root holds a pre-bucketed (flat) regularity store; migrate it " +
          "by folding its rows into a fresh bucketed store before resuming")
    // the swap's rename target is regularity/bucket=k — the PARENT must
    // exist or the first publish of a bucket degrades to the filesystem's
    // non-atomic fallback (or fails outright on HDFS), breaking the
    // cursor-moves-with-content crash discipline
    fs.mkdirs(root)
    // persisted: the fold needs partials twice (the touched-bucket collect
    // and the merged write) — without the persist the corpus-sized window
    // aggregate, the only corpus-sized stage of the fold, runs twice
    val partials = gapPartials(batch)
      .withColumn("bucket", regularityBucket(col("user_id")))
      .persist()
    try {
      // the touched set is bounded by RegularityBuckets, never by users
      val touchedAll = partials.select("bucket").distinct()
        .collect().map(_.getInt(0)).sorted.toSeq
      // per-bucket replay guard (committedBatch runs crash recover() first —
      // this is the single-writer update path)
      val touched = touchedAll.filter(k =>
        batchId > StoreCommit.committedBatch(fs, bucketDir(storeDir, k)))
      if (touched.isEmpty) return // replay: every touched bucket already folded
      updateTouchedBuckets(spark, partials, storeDir, batchId, root, fs, touched)
    } finally partials.unpersist(false)
  }

  private def updateTouchedBuckets(
      spark: SparkSession, partials: DataFrame, storeDir: String,
      batchId: Long, root: Path, fs: FileSystem, touched: Seq[Int]): Unit = {
    val p = partials.filter(col("bucket").isin(touched: _*)).drop("bucket")
      .withColumnRenamed("n_gaps", "p_n").withColumnRenamed("sum_gap", "p_s")
      .withColumnRenamed("sum_gap2", "p_q").withColumnRenamed("last_t", "p_last")
    val storedRoots = readableBuckets(spark, storeDir, touched)
    val s0 = (if (storedRoots.isEmpty) emptyRegularity(spark)
              else spark.read.parquet(storedRoots.map(_.toString): _*))
      .withColumnRenamed("n_gaps", "s_n").withColumnRenamed("sum_gap", "s_s")
      .withColumnRenamed("sum_gap2", "s_q").withColumnRenamed("last_t", "s_last")
    // boundary gap exists iff the user has stored state AND batch events
    val g0 = when(col("s_last").isNotNull && col("first_t").isNotNull,
      col("first_t") - col("s_last"))
    val merged = s0.join(p, Seq("user_id"), "full_outer")
      .select(
        col("user_id"),
        (coalesce(col("s_n"), lit(0L)) + coalesce(col("p_n"), lit(0L)) +
          when(g0.isNotNull, 1L).otherwise(0L)).as("n_gaps"),
        (coalesce(col("s_s"), lit(0L)) + coalesce(col("p_s"), lit(0L)) +
          coalesce(g0, lit(0L))).as("sum_gap"),
        (coalesce(col("s_q"), lit(0L)) + coalesce(col("p_q"), lit(0L)) +
          coalesce(g0 * g0, lit(0L))).as("sum_gap2"),
        coalesce(col("p_last"), col("s_last")).as("last_t"))
      .withColumn("bucket", regularityBucket(col("user_id")))
    // one job writes every touched bucket: repartition on the bucket column
    // puts each bucket wholly in one task -> ONE file per bucket dir (the
    // per-bucket replacement for the old whole-state coalesce(1))
    StoreCommit.publishEach(fs, root, touched.map(k => s"bucket=$k")) { tmp =>
      merged.repartition(col("bucket"))
        .write.partitionBy("bucket").parquet(tmp.toString)
      touched.foreach { k =>
        val tb = new Path(tmp, s"bucket=$k")
        if (!fs.exists(tb)) fs.mkdirs(tb) // touched bucket always has rows; belt-and-braces
        StoreCommit.writeMeta(fs, tb, batchId)
      }
    }
  }

  /** Scheduler-facing view: the same top-20 most-regular-users table the
    * batch `q_events_regularity` computes, derived from the store alone.
    * The n·Σg² − (Σg)² numerator runs in decimal(38,0) exactly like the
    * batch query (n·Σg² can cross int64 for heavy users; r9 ADVICE) so
    * stream and batch stay bit-for-bit. */
  def regularityStatus(spark: SparkSession, storeDir: String): DataFrame =
    readRegularity(spark, storeDir)
      .filter(col("n_gaps") >= 2)
      .select(col("user_id"), col("n_gaps"), col("sum_gap").as("sum_gap_s"),
        expr("""cast((cast(n_gaps as decimal(38,0)) * sum_gap2
                      - cast(sum_gap as decimal(38,0)) * sum_gap)
                     div (n_gaps * (n_gaps - 1)) as bigint)""")
          .as("var_s2"))
      .orderBy(col("var_s2"), col("user_id"))
      .limit(20)
}
