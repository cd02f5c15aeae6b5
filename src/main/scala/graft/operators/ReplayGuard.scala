package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** O(delta) effectively-once guard for foreachBatch append sinks.
  *
  * foreachBatch delivers at-least-once: after a crash the same micro-batch is
  * replayed, and its rows may already sit in the sink. The naive guard — a
  * left-anti join of the batch against EVERY id ever written — is correct but
  * scans the full sink id column each trigger; with a 60 s trigger at 100 TB
  * that is a continuously growing per-minute read of the entire history
  * (column-pruned, but still the whole column). This operator bounds the read
  * set with a persisted high-water mark (the max id the sink has been ASKED
  * to hold), in the same meta-persistence discipline as
  * [[VectorIndex]]'s `meta` table:
  *
  *   - normal path (batch ids strictly above the mark): the batch passes
  *     through untouched — ZERO sink reads;
  *   - crash replay (batch overlaps the mark): anti-join against the sink
  *     pruned to `[batchMin, mark]` — parquet min/max stats skip every file
  *     outside the one overlapping batch window;
  *   - mark missing (first write, or the mark file was lost): degrade to the
  *     full anti-join — correctness NEVER depends on the mark, the mark only
  *     shrinks the read set.
  *
  * Crash-safety comes from ordering, not atomicity: [[freshThenAdvance]]
  * advances the mark BEFORE the caller writes. If the writer dies between
  * advance and write, the replayed batch overlaps the (now-ahead) mark, the
  * windowed anti-join finds nothing, and every row is appended; if it dies
  * after the write, the same anti-join finds everything and the replay is a
  * no-op. The stale-mark failure of write-then-advance — a replayed batch
  * whose rows landed but whose ids sit above the old mark sails through the
  * fast path and duplicates — cannot occur.
  *
  * The mark lives as a hidden one-line file `.hwm` INSIDE the sink directory
  * (dot-prefixed, so every parquet reader's listing ignores it, and it
  * travels with the sink through renames). Ids are assumed roughly
  * monotonically increasing across batches — the same premise the index
  * maintenance boundary (`appendIvfPq(minVecId)`) already rests on; a
  * violation only costs the fast path, never correctness. */
object ReplayGuard {

  private val MarkName = ".hwm"

  /** The persisted mark, or None if never written / lost. A genuinely
    * unreadable file (not merely absent) propagates — silently disabling
    * the bound on a read error would be indistinguishable from first-write. */
  def highWaterMark(spark: SparkSession, sinkDir: String): Option[Long] = {
    val p = new Path(sinkDir, MarkName)
    val fs = StoreCommit.fsOf(spark, p)
    if (!fs.exists(p)) None
    else {
      val in = new java.io.BufferedReader(new java.io.InputStreamReader(
        fs.open(p), java.nio.charset.StandardCharsets.UTF_8))
      try Some(in.readLine().trim.toLong)
      finally in.close()
    }
  }

  /** Advance the mark to max(current, candidate). Tmp-write + delete + rename;
    * a crash in the window can only LOSE the mark, which degrades the next
    * guard to the full anti-join (correct, just unbounded once). */
  def advance(spark: SparkSession, sinkDir: String, candidate: Long): Unit = {
    val dir = new Path(sinkDir)
    val fs = StoreCommit.fsOf(spark, dir)
    val next = math.max(highWaterMark(spark, sinkDir).getOrElse(Long.MinValue), candidate)
    if (!fs.exists(dir)) fs.mkdirs(dir)
    val tmp = new Path(sinkDir, s"$MarkName.tmp")
    val out = fs.create(tmp, true)
    try out.write(next.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val mark = new Path(sinkDir, MarkName)
    fs.delete(mark, false)
    if (!fs.rename(tmp, mark))
      throw new java.io.IOException(s"replay guard: cannot publish $mark")
  }

  /** True if the sink has committed data files (not just the mark / Spark
    * metadata). Only consulted on the anti-join paths — the fast path never
    * lists the sink. */
  private def hasData(fs: FileSystem, dir: Path): Boolean =
    fs.exists(dir) && fs.listStatus(dir).exists { st =>
      val n = st.getPath.getName
      !(n.startsWith(".") || n.startsWith("_"))
    }

  /** Rows of `batch` not yet in the sink, with the mark advanced past the
    * batch. Call once per micro-batch on the (deduplicated) batch frame,
    * then append the RETURNED frame to `sinkDir`. `batch` should be cached
    * by the caller — its bounds are computed here and its rows written
    * after. */
  def freshThenAdvance(batch: DataFrame, idCol: String, sinkDir: String): DataFrame = {
    val s = batch.sparkSession
    val bounds = batch.agg(min(col(idCol)), max(col(idCol))).head()
    if (bounds.isNullAt(0)) return batch // empty batch: nothing to guard
    val bMin = bounds.getLong(0)
    val bMax = bounds.getLong(1)
    val mark = highWaterMark(s, sinkDir)
    val fs = StoreCommit.fsOf(s, new Path(sinkDir))
    val fresh = mark match {
      case Some(h) if bMin > h => batch // strictly new ids: zero sink reads
      case Some(h) =>
        if (!hasData(fs, new Path(sinkDir))) batch // mark advanced, write lost
        else batch.join(
          s.read.parquet(sinkDir).select(idCol)
            .filter(col(idCol) >= bMin && col(idCol) <= h),
          Seq(idCol), "left_anti")
      case None =>
        if (!hasData(fs, new Path(sinkDir))) batch // first write
        else batch.join( // mark lost: full guard, correct but unbounded
          s.read.parquet(sinkDir).select(idCol), Seq(idCol), "left_anti")
    }
    advance(s, sinkDir, bMax)
    fresh
  }
}
