package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Streaming data-quality ledger — the live twin of the batch constraint
  * audit (`q_profile_constraints`): per-row constraint violations are
  * ADDITIVE counters, so each micro-batch folds its one-row violation
  * aggregate into a persisted (constraint, violations, n_rows) ledger and
  * the cumulative ledger after any number of batches equals the one-shot
  * audit over their union bit-for-bit (pinned in StreamingSpec) — the same
  * linearity argument as the count-min store. Per-batch cost: one O(delta)
  * conditional-sum aggregate; ledger state is |rules| rows forever.
  *
  * The uniqueness rule is deliberately NOT in the streaming rule set: it is
  * not mergeable without persisting the key universe (unbounded state).
  * Cross-batch duplicate defense belongs to the ingest pipeline's dedup
  * watermark + [[ReplayGuard]]; the exact uniqueness audit stays in the
  * batch query, which shares [[eventRules]] so the two surfaces can never
  * drift on the additive rules.
  */
object DataQuality {

  /** Additive per-row rules over the events frame: name → VIOLATION
    * predicate (true = row violates). Shared verbatim by the batch audit
    * and the streaming ledger. */
  val eventRules: Seq[(String, Column)] = Seq(
    "event_id_not_null" -> col("event_id").isNull,
    "event_type_in_domain" ->
      !col("event_type").isin("click", "view", "purchase", "error", "login"),
    "props_has_k" -> get_json_object(col("props"), "$.k").isNull,
    "value_non_negative" -> (col("value") < 0))

  /** One-row wide violation aggregate of a batch: n_rows + one violation
    * count per rule — a single map-side-partial pass over the delta. The
    * sums are zero-coalesced: over an EMPTY batch (streams deliver them —
    * recovery no-data batches, triggers firing before files land)
    * `sum(when(...))` is NULL, and a NULL folded into the ledger would turn
    * `passed` into NULL — a gate that neither passes nor blocks. */
  def violationWide(df: DataFrame): DataFrame =
    df.agg(
      count(lit(1)).as("n_rows"),
      eventRules.map { case (n, p) =>
        coalesce(sum(when(p, 1L).otherwise(0L)), lit(0L)).as(n)
      }: _*)

  /** Long form: (constraint, violations, n_rows), one row per rule. */
  def violationCounts(df: DataFrame): DataFrame = {
    val stackExpr = eventRules.map { case (n, _) => s"'$n', $n" }
      .mkString(s"stack(${eventRules.size}, ", ", ", ") AS (constraint, violations)")
    violationWide(df).select(expr(stackExpr), col("n_rows"))
  }

  // --- persisted ledger ([[StoreCommit]] discipline) ---

  /** The stored ledger: (constraint, violations, n_rows); empty before the
    * first fold. Read-side crash tolerance is NON-mutating (readableRoot);
    * the writer's publishBatch performs the actual restore. */
  def readLedger(spark: SparkSession, storeDir: String): DataFrame = {
    val dir = new Path(s"$storeDir/ledger")
    val fs = StoreCommit.fsOf(spark, dir)
    val src = StoreCommit.readableRoot(fs, dir) // non-mutating: see StoreCommit
    if (fs.exists(src)) spark.read.parquet(src.toString)
    else spark.range(0).select(lit("").as("constraint"),
      lit(0L).as("violations"), lit(0L).as("n_rows"))
  }

  /** Fold one micro-batch into the stored ledger. Counters are additive, so
    * ledger-after-N-batches == one-shot audit of the union, exactly.
    * Replay-safe: the committed batch id swaps atomically with the ledger
    * content, so a crash-replayed batch folds zero times. */
  def updateStoredLedger(
      spark: SparkSession, batch: DataFrame, storeDir: String, batchId: Long): Unit = {
    val dir = new Path(s"$storeDir/ledger")
    StoreCommit.publishBatch(StoreCommit.fsOf(spark, dir), dir, batchId) { tmp =>
      readLedger(spark, storeDir)
        .unionByName(violationCounts(batch))
        .groupBy("constraint")
        .agg(sum("violations").as("violations"), sum("n_rows").as("n_rows"))
        .coalesce(1).write.parquet(tmp.toString)
    }
  }

  /** Scheduler-facing view of the ledger: adds the pass flag, stable order. */
  def ledgerStatus(spark: SparkSession, storeDir: String): DataFrame =
    readLedger(spark, storeDir)
      .select(col("constraint"), col("violations"), col("n_rows"),
        (col("violations") === 0L).as("passed"))
      .orderBy("constraint")

  // --- distribution drift (PSI) monitor: stored reference histogram +
  // --- additive current-window bins, the live twin of q_profile_drift ---

  /** Fixed monitored-value binning shared by the batch drift query and the
    * streaming monitor (width 20, clamped to [0, 9] — the operator's dial).
    * Callers must pre-filter NULL values: least()/greatest() ignore NULLs
    * on both engines, so an unfiltered NULL would silently land in a clamp
    * bin and skew the PSI denominator (round-8 advice). */
  def driftBin(value: Column): Column =
    least(greatest(floor(value / 20), lit(0L)), lit(9L))

  /** Per-bin PSI contribution from exact basis-point proportions — the
    * identical decimal(24,6)-routed formula the batch query and DuckDB
    * oracle compute, so stream and batch can be compared row-for-row. */
  def psiTerm(refBp: Column, curBp: Column): Column =
    round((((curBp - refBp) / lit(10000.0)) * log(curBp / refBp.cast("double")))
      .cast("decimal(24,6)"), 6).cast("double")

  private def binCounts(events: DataFrame, as: String): DataFrame =
    events.filter(col("value").isNotNull)
      .select(driftBin(col("value")).as("bin"))
      .groupBy("bin").agg(count(lit(1)).as(as))

  /** Freeze the reference distribution (e.g. the training window) — a
    * build-once bounded table of (bin, n_ref). */
  def buildDriftReference(spark: SparkSession, events: DataFrame, storeDir: String): Unit = {
    val dir = new Path(s"$storeDir/drift_ref")
    StoreCommit.publish(StoreCommit.fsOf(spark, dir), dir)(tmp =>
      binCounts(events, "n_ref").coalesce(1).write.parquet(tmp.toString))
  }

  private def readBins(spark: SparkSession, dir: Path, as: String): DataFrame = {
    val fs = StoreCommit.fsOf(spark, dir)
    val src = StoreCommit.readableRoot(fs, dir) // non-mutating: see StoreCommit
    if (fs.exists(src)) spark.read.parquet(src.toString)
    else spark.range(0).select(lit(0L).as("bin"), lit(0L).as(as))
  }

  /** Fold one micro-batch's bin counts into the stored current-window
    * histogram — additive like the ledger, so the store equals a one-shot
    * histogram of the drained union; replay-guarded by the committed
    * cursor. State is ≤10 rows forever. */
  def updateDriftCurrent(
      spark: SparkSession, batch: DataFrame, storeDir: String, batchId: Long): Unit = {
    val dir = new Path(s"$storeDir/drift_cur")
    StoreCommit.publishBatch(StoreCommit.fsOf(spark, dir), dir, batchId) { tmp =>
      readBins(spark, dir, "n_cur")
        .unionByName(binCounts(batch, "n_cur"))
        .groupBy("bin").agg(sum("n_cur").as("n_cur"))
        .coalesce(1).write.parquet(tmp.toString)
    }
  }

  /** Per-bin drift table from the two bounded histograms — the same output
    * shape (and the same integer-bp + Laplace-floor + decimal-routed PSI
    * math) as the declared `q_profile_drift`, derived from the stores
    * alone: O(bins), the corpus never re-enters. When EITHER window is
    * still empty (reference not yet frozen, or polled before the first
    * micro-batch commits) the result is the EMPTY table, never a
    * fabricated one: a zero total would make every `bp` a div-0 NULL,
    * Laplace-floor to 1, and report confident-looking drift computed from
    * zero observations — a scheduler must see "no data yet", not an
    * alarm. */
  def driftStatus(spark: SparkSession, storeDir: String): DataFrame = {
    val ref = readBins(spark, new Path(s"$storeDir/drift_ref"), "n_ref")
    val cur = readBins(spark, new Path(s"$storeDir/drift_cur"), "n_cur")
    val joined = ref.join(cur, Seq("bin"), "full_outer")
      .select(col("bin"), coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    val tot = joined.agg(sum("n_ref").as("t_ref"), sum("n_cur").as("t_cur"))
    joined.crossJoin(broadcast(tot))
      .filter(col("t_ref") > 0L && col("t_cur") > 0L)
      .select(col("bin"), col("n_ref"), col("n_cur"),
        greatest(expr("n_ref * 10000 div t_ref"), lit(1L)).as("ref_bp"),
        greatest(expr("n_cur * 10000 div t_cur"), lit(1L)).as("cur_bp"))
      .select(col("bin"), col("n_ref"), col("n_cur"), col("ref_bp"), col("cur_bp"),
        psiTerm(col("ref_bp"), col("cur_bp")).as("psi_term"))
      .orderBy("bin")
  }
}
