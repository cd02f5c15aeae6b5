package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The one publish protocol of every persisted store that rewrites itself
  * in place (monitor ledgers, sketches, vector and pHash indexes, LM and
  * tokenizer artifacts, merged/compacted/clustered lake partitions):
  *
  *   1. [[recover]] the store (a crash inside a previous swap window);
  *   2. delete a stale stage dir `.<name>.building` (a crashed build);
  *   3. write the new version into that stage — dot-prefixed, so partition
  *      discovery never lists it — including the committed micro-batch id
  *      where the store has a replay cursor, so content and cursor move as
  *      one. [[publishBatch]] is the one place that checks the cursor and
  *      stamps it ([[writeMeta]]); only `SignatureStore` (an optional batch
  *      id), `Monitoring.updateRegularity` (a cursor per bucket) and
  *      `PackingStore` (a guard before its delta write) keep their own;
  *   4. [[swap]]: move the live dir to the aside `.<name>.previous`, rename
  *      the stage in, delete the aside.
  *
  * [[publish]] runs all four; callers only say what the stage holds. Plain
  * renames cannot atomically exchange two directories, so between the two
  * renames of step 4 the store path is ABSENT. A crash there leaves the
  * last committed version whole in the aside: writers restore it in step
  * 1, readers serve it in place through [[readableRoot]] without renaming
  * anything.
  *
  * Renames outside this object are deliberate exceptions, none of which
  * republishes a store: `Retention.expirePartition` hides a partition
  * under a `.expiring` tomb that is swept, never restored;
  * `BucketedRuns.publishDelta` renames immutable delta files in under
  * deterministic names and its compactions name their base files; and
  * `ReplayGuard.advance` republishes a mark whose loss is harmless. */
object StoreCommit {

  /** '_' prefix: invisible to Spark's parquet FileIndex, so the replay
    * cursor can live inside the data directory and swap with it. */
  val MetaFile = "_graft_committed_batch"

  def fsOf(spark: SparkSession, dir: Path): FileSystem =
    FileSystem.get(dir.toUri, spark.sparkContext.hadoopConfiguration)

  private def stageOf(dir: Path) = new Path(dir.getParent, s".${dir.getName}.building")

  private[graft] def asideOf(dir: Path) = new Path(dir.getParent, s".${dir.getName}.previous")

  /** Crash restore: if the store dir is absent but the swap aside exists,
    * the process died inside the rename window — put the last committed
    * version back. MUTATES the store, so it belongs to the single-writer
    * update path ONLY (each store has one serialized writer — the
    * foreachBatch loop or the maintenance job). A concurrent READER must
    * never call this: mid-swap it would rename the aside back between the
    * writer's two renames and corrupt the publish — use [[readableRoot]]
    * instead. Tolerates racing itself: if the rename fails because the
    * dir reappeared (the writer finished), that is success. */
  def recover(fs: FileSystem, dir: Path): Unit = {
    val aside = asideOf(dir)
    if (!fs.exists(dir) && fs.exists(aside) &&
        !fs.rename(aside, dir) && !fs.exists(dir))
      throw new java.io.IOException(s"store: cannot restore $dir from crash aside $aside")
  }

  /** Non-mutating read-side resolution: the path a READER should load —
    * the store dir if present, else the crash aside (the last committed
    * version, readable in place), else the store dir (caller sees
    * not-yet-built). Safe under a concurrent writer's swap because it
    * renames nothing; the writer's own recover()/swap() puts the main dir
    * back on its next cycle. */
  def readableRoot(fs: FileSystem, dir: Path): Path = {
    if (fs.exists(dir)) dir
    else {
      val aside = asideOf(dir)
      if (fs.exists(aside)) aside else dir
    }
  }

  /** The committed batch id inside the store (−1 before the first commit).
    * Runs [[recover]] first so a crash-replayed batch always sees the last
    * committed cursor, never a reset store. */
  def committedBatch(fs: FileSystem, dir: Path): Long = {
    recover(fs, dir)
    val p = new Path(dir, MetaFile)
    if (!fs.exists(p)) -1L else readCursor(fs, p)
  }

  private def readCursor(fs: FileSystem, p: Path): Long = {
    val in = fs.open(p)
    try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8).trim.toLong
    finally in.close()
  }

  /** Re-resolutions a read-side cursor lookup makes before it gives up. */
  private val CursorReadAttempts = 8

  /** READ-SIDE committed batch id: resolves through [[readableRoot]]
    * instead of [[recover]], so a concurrent monitor/reader can poll the
    * cursor without ever renaming anything (recover() from a reader can
    * rename the aside back INSIDE the writer's swap window and corrupt the
    * publish — its own scaladoc forbids it; r15 review finding).
    *
    * A concurrent swap can move the resolved version away between the
    * resolution and the read: the open then fails (FileNotFoundException),
    * or pairs the cursor file with the `.crc` of another version
    * (ChecksumException), or the cursor looks absent. Each of these
    * re-resolves and reads again, a bounded number of times; an absent
    * cursor counts only when two resolutions in a row see it absent at the
    * same root, which a swap can fake only by running twice in between. */
  def committedBatchReadable(fs: FileSystem, dir: Path): Long = {
    @annotation.tailrec
    def attempt(n: Int, absentAt: Option[Path]): Long = {
      val root = readableRoot(fs, dir)
      val p = new Path(root, MetaFile)
      if (!fs.exists(p)) {
        if (absentAt.contains(root) || n >= CursorReadAttempts) -1L
        else attempt(n + 1, Some(root))
      } else {
        val cursor =
          try Some(readCursor(fs, p))
          catch { case _: java.io.IOException if n < CursorReadAttempts => None }
        cursor match {
          case Some(c) => c
          case None => attempt(n + 1, None)
        }
      }
    }
    attempt(1, None)
  }

  /** Stamp the batch id into a not-yet-published build dir. */
  def writeMeta(fs: FileSystem, dir: Path, batchId: Long): Unit = {
    val out = fs.create(new Path(dir, MetaFile), true)
    try out.write(batchId.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
  }

  /** Publish a new version of the store at `dir`: recover, clear a stale
    * stage, let `stage` write the new version into the stage dir it is
    * handed, then [[swap]] it in. `stage` may read the store: it runs after
    * the recovery, against the live dir. Early exits (nothing-to-do checks)
    * belong BEFORE the call — once `stage` returns, the stage is published;
    * a replay cursor is [[publishBatch]]'s. */
  def publish(fs: FileSystem, dir: Path)(stage: Path => Unit): Unit = {
    recover(fs, dir)
    val tmp = stageOf(dir)
    fs.delete(tmp, true)
    stage(tmp)
    swap(fs, dir, tmp)
  }

  /** [[publish]] for a store folded once per micro-batch: foreachBatch
    * delivers at-least-once, so a batch id at or below the committed cursor
    * is a replay whose fold already landed, and nothing runs. Otherwise
    * `stage` writes the folded version and the batch id is stamped into
    * the stage beside it, so content and cursor swap in as one. `stage`
    * must build its reads of the store inside the closure: the cursor
    * check has recovered a crashed swap by then, so the live dir is the
    * one to read. */
  def publishBatch(fs: FileSystem, dir: Path, batchId: Long)(stage: Path => Unit): Unit =
    if (batchId > committedBatch(fs, dir))
      publish(fs, dir) { tmp =>
        stage(tmp)
        writeMeta(fs, tmp, batchId)
      }

  /** [[publish]] for sibling stores `parent/<name>` that ONE job stages
    * together (a `partitionBy` write whose subdirs are the names): `stage`
    * writes `<tmp>/<name>` for every name, then each swaps in on its own.
    * A crash between two swaps leaves some stores at the new version, so
    * each store needs its own replay cursor. */
  def publishEach(fs: FileSystem, parent: Path, names: Seq[String])(
      stage: Path => Unit): Unit = {
    names.foreach(n => recover(fs, new Path(parent, n)))
    val tmp = stageOf(parent)
    fs.delete(tmp, true)
    stage(tmp)
    names.foreach(n => swap(fs, new Path(parent, n), new Path(tmp, n)))
    fs.delete(tmp, true)
  }

  /** Publish `tmp` as `dir` via the two-rename aside swap. A reader sees
    * the old store or the new one — or, if the process dies mid-window,
    * [[recover]] restores the old one on the next touch. */
  def swap(fs: FileSystem, dir: Path, tmp: Path): Unit = {
    val aside = asideOf(dir)
    fs.delete(aside, true)
    if (fs.exists(dir) && !fs.rename(dir, aside))
      throw new java.io.IOException(s"store swap: cannot move $dir aside")
    if (!fs.rename(tmp, dir)) {
      val rolledBack = fs.exists(aside) && fs.rename(aside, dir)
      throw new java.io.IOException(s"store swap: publish failed for $dir, " +
        (if (rolledBack) "rolled back" else s"no rollback (see $aside)"))
    }
    fs.delete(aside, true)
  }
}
