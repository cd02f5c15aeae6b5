package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Persisted SCD type-2 history — the incremental twin of `q_scd2`.
  *
  * The declared row rebuilds every user's validity intervals from the whole
  * event corpus with one gaps-and-islands pass; a warehouse maintaining
  * dimension history instead receives events in append-only micro-batches
  * and must EXTEND the interval table without rescanning closed history.
  * The only state the island arithmetic needs is each user's OPEN interval
  * (the last island is the only one a later event can change), so the
  * store persists:
  *
  *   closed/  (user_id, version, event_type, valid_from, valid_to,
  *             n_events) — immutable once written
  *   open/    (user_id, version, event_type, valid_from, n_events) — one
  *             row per user, the interval still accepting events
  *   _graft_committed_batch — the replay cursor ([[StoreCommit]] meta),
  *             swapped atomically WITH the content
  *
  * `append(batchId)` folds one micro-batch: batch-local islands (the same
  * single (user)-keyed window as the declared row) meet the stored open
  * cursors through ONE user-keyed join — a first island that CONTINUES the
  * open interval's event_type merges into it (same version, original
  * valid_from, summed n_events); otherwise the open interval CLOSES at the
  * batch's first event and versions shift up. For ts-monotonic feeds (the
  * append-only log order; same contract as [[PackingStore]]) the stored
  * history equals the one-shot gaps-and-islands rebuild row-for-row —
  * OperatorsSpec pins store == the oracle-checked `q_scd2` output across
  * arbitrary chronological cuts, replay no-op, and the
  * open-interval-continuation merge. Replay is effectively once via the
  * committed-batch cursor; crash mid-swap restores via [[StoreCommit]].
  *
  * At 100 TB: the per-batch window is delta-sized, the cursor join is
  * |users-in-batch| vs |users| on the user key, and the one O(store) term
  * is the union-rewrite of `closed/` on publish — the same accepted shape
  * as [[PackingStore]]/[[SnapshotStore]], with the same
  * `bucket=<user-hash>/` generalization when it matters (closed history
  * never changes, so bucketed publishes touch only buckets whose users
  * appear in the delta). */
object HistoryStore {

  /** The live history, shaped exactly like the declared `q_scd2` row:
    * open intervals read `valid_to = 'current'`. */
  def read(spark: SparkSession, storeDir: String): DataFrame = {
    val dir = new Path(storeDir)
    val root = StoreCommit.readableRoot(StoreCommit.fsOf(spark, dir), dir)
    val closed = spark.read.parquet(new Path(root, "closed").toString)
      .select(col("user_id"), col("version"), col("event_type"),
        date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
        date_format(col("valid_to"), "yyyy-MM-dd HH:mm:ss").as("valid_to"),
        col("n_events"))
    val open = spark.read.parquet(new Path(root, "open").toString)
      .select(col("user_id"), col("version"), col("event_type"),
        date_format(col("valid_from"), "yyyy-MM-dd HH:mm:ss").as("valid_from"),
        lit("current").as("valid_to"), col("n_events"))
    closed.unionByName(open)
  }

  private def openCursors(spark: SparkSession, storeDir: String): DataFrame = {
    val dir = new Path(storeDir)
    val root = StoreCommit.readableRoot(StoreCommit.fsOf(spark, dir), dir)
    spark.read.parquet(new Path(root, "open").toString)
  }

  private def closedRows(spark: SparkSession, storeDir: String): DataFrame = {
    val dir = new Path(storeDir)
    val root = StoreCommit.readableRoot(StoreCommit.fsOf(spark, dir), dir)
    spark.read.parquet(new Path(root, "closed").toString)
  }

  /** Fold one micro-batch of events (user_id, ts, event_id, event_type);
    * replayed batchIds are a no-op. A first append on a not-yet-built
    * store initializes it (batch 0 IS the build). Events must be
    * ts-monotonic per user across batches (append-only log order). */
  def append(
      spark: SparkSession, events: DataFrame, storeDir: String,
      batchId: Long): Unit = {
    val dir = new Path(storeDir)
    val fs = StoreCommit.fsOf(spark, dir)
    StoreCommit.publishBatch(fs, dir, batchId) { tmp =>
      // batch-local gaps-and-islands — the declared row's window, delta-sized
      val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      val cum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val isl = events
        .select(col("user_id"), col("ts"), col("event_id"), col("event_type"))
        .withColumn("chg",
          when(!(lag("event_type", 1).over(w) <=> col("event_type")), 1L)
            .otherwise(0L))
        .withColumn("vloc", sum("chg").over(cum))
        .groupBy("user_id", "event_type", "vloc")
        .agg(min("ts").as("vfrom"), count(lit(1)).as("n"))

      // the cursor check recovered the main dir, so the fold reads it directly
      val hasStore = fs.exists(new Path(dir, "open"))
      val (oldClosed, cursors) =
        if (hasStore) (closedRows(spark, storeDir), openCursors(spark, storeDir))
        else {
          val emptyClosed = spark.range(0).select(
            lit(0L).as("user_id"), lit(0L).as("version"), lit("").as("event_type"),
            lit(null).cast("timestamp").as("valid_from"),
            lit(null).cast("timestamp").as("valid_to"), lit(0L).as("n_events"))
          val emptyOpen = spark.range(0).select(
            lit(0L).as("user_id"), lit(0L).as("version"), lit("").as("event_type"),
            lit(null).cast("timestamp").as("valid_from"), lit(0L).as("n_events"))
          (emptyClosed, emptyOpen)
        }

      // ONE user-keyed join decides merge-vs-close for each user's first island
      val first = isl.filter(col("vloc") === 1)
        .select(col("user_id"), col("event_type").as("first_etype"),
          col("vfrom").as("first_vfrom"))
      val cur = cursors.select(
        col("user_id"), col("version").as("cver"), col("event_type").as("cetype"),
        col("valid_from").as("cvfrom"), col("n_events").as("cn"))
      val plan = first.join(cur, Seq("user_id"), "left")
        .select(col("user_id"), col("first_vfrom"),
          (col("cver").isNotNull && col("cetype") === col("first_etype")).as("merges"),
          coalesce(col("cver"), lit(0L)).as("base_ver"),
          col("cvfrom"), col("cn"), col("cetype"),
          col("cver").isNotNull.as("has_cursor"))

      // islands with global versions; the merging first island inherits the
      // open interval's version, start, and count
      val merged = isl.join(plan, Seq("user_id"))
        .select(
          col("user_id"), col("event_type"),
          (col("vloc") + col("base_ver") - when(col("merges"), 1L).otherwise(0L))
            .as("version"),
          when(col("vloc") === 1 && col("merges"), col("cvfrom"))
            .otherwise(col("vfrom")).as("valid_from"),
          (col("n") + when(col("vloc") === 1 && col("merges"), col("cn"))
            .otherwise(lit(0L))).as("n_events"))

      // close each user's non-final islands at the next island's start
      val wv = Window.partitionBy("user_id").orderBy("version")
      val withNext = merged.withColumn("valid_to", lead("valid_from", 1).over(wv))
      val batchClosed = withNext.filter(col("valid_to").isNotNull)
        .select("user_id", "version", "event_type", "valid_from", "valid_to", "n_events")
      val newOpen = withNext.filter(col("valid_to").isNull)
        .select("user_id", "version", "event_type", "valid_from", "n_events")

      // a cursor whose run does NOT continue closes at the batch's first event
      val cursorClosed = plan.filter(col("has_cursor") && !col("merges"))
        .select(col("user_id"), col("base_ver").as("version"),
          col("cetype").as("event_type"), col("cvfrom").as("valid_from"),
          col("first_vfrom").as("valid_to"), col("cn").as("n_events"))
      // cursors for users absent from this batch stay open untouched
      val untouched = cur.join(first.select("user_id"), Seq("user_id"), "left_anti")
        .select(col("user_id"), col("cver").as("version"),
          col("cetype").as("event_type"), col("cvfrom").as("valid_from"),
          col("cn").as("n_events"))

      oldClosed.unionByName(cursorClosed).unionByName(batchClosed)
        .write.mode(SaveMode.Overwrite).parquet(s"$tmp/closed")
      untouched.unionByName(newOpen)
        .write.mode(SaveMode.Overwrite).parquet(s"$tmp/open")
    }
  }
}
