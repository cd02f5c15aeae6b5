package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Shared mechanics of the bucketed append-only run layout (r14 verdict
  * task 1) used by [[SignatureStore]] (`sigs/`) and [[PackingStore]]
  * (`assignments/`): hash-bucketed dirs holding immutable per-batch
  * `delta-b*.parquet` files plus compacted `base-*.parquet` runs.
  *
  *   - a delta publish RENAMES one staged file per touched bucket into the
  *     live bucket dir under a name deterministic in (batch, bucket) — an
  *     existing target is skipped, so a crash-torn publish replays to
  *     exactly one application. Publish I/O is O(delta); untouched buckets
  *     are never listed, let alone rewritten.
  *   - file counts stay bounded by per-bucket threshold compaction: at
  *     `compactAt` files a bucket folds into one base run via its own
  *     [[StoreCommit.publish]] (the one place the store still rewrites
  *     stored bytes — one bucket's, never the store's; amortized
  *     O(store/compactAt) per batch, and the bucket count is the
  *     deployment dial that keeps a single fold executor-sized at 100 TB).
  *
  * Callers provide the commit point (their own cursor swap AFTER
  * [[publishDelta]]) and run [[compactIfNeeded]] only on committed
  * content, so compaction can never eat a delta file a replay still
  * expects to find. Single-writer discipline throughout (the stores'
  * foreachBatch/maintenance contract). */
private[operators] object BucketedRuns {

  def bucketDir(dataRoot: Path, k: Int): Path = new Path(dataRoot, s"graft_bucket=$k")

  private def parquetFiles(fs: FileSystem, dir: Path) =
    fs.listStatus(dir).filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))

  /** A pre-bucketed (flat) store has parquet files directly under the data
    * root; readable as one dir, but delta publishes must reject it loudly. */
  def isFlat(fs: FileSystem, dataRoot: Path): Boolean =
    fs.exists(dataRoot) && parquetFiles(fs, dataRoot).nonEmpty

  /** The readable per-bucket roots — swap-safe per bucket (non-mutating
    * readableRoot), only dirs that exist; the flat layout reads as itself. */
  def readableDirs(fs: FileSystem, dataRoot: Path, buckets: Int): Seq[Path] =
    if (!fs.exists(dataRoot)) Seq.empty
    else if (isFlat(fs, dataRoot)) Seq(dataRoot)
    else (0 until buckets).flatMap { k =>
      val b = StoreCommit.readableRoot(fs, bucketDir(dataRoot, k))
      if (fs.exists(b)) Some(b) else None
    }

  /** The batch tag of a `delta-b<tag>-<i>.parquet` file name; None for
    * base runs / build part files (which are committed by construction —
    * compaction folds only committed content and build publishes through
    * the whole-root swap). */
  private def deltaBatchOf(name: String): Option[Long] =
    if (!name.startsWith("delta-b")) None
    else name.stripPrefix("delta-b").takeWhile(_.isDigit) match {
      case "" => None
      case ds => Some(ds.toLong)
    }

  /** COMMITTED-ONLY file selection (r15 review finding: delta files land in
    * live bucket dirs BEFORE the caller's cursor swap, so a directory-level
    * read exposes the torn window between publish and commit — and orphaned
    * delta files from a crashed publish). Base/build files are always
    * included; `delta-b<tag>` files only when tag <= committed. The flat
    * (pre-bucketed) layout has no delta files and reads as itself. */
  def committedFiles(
      fs: FileSystem, dataRoot: Path, buckets: Int, committed: Long): Seq[Path] =
    readableDirs(fs, dataRoot, buckets).flatMap { d =>
      parquetFiles(fs, d).map(_.getPath).filter(p =>
        deltaBatchOf(p.getName).forall(_ <= committed))
    }

  /** Writer-side scrub of UNCOMMITTED delta files (tag > committed) — the
    * garbage a publish torn between delta-rename and cursor-commit leaves
    * behind. Without this, a later append that computes the same tag hits
    * the skip-if-exists branch against a DIFFERENT delta's file and its
    * rows are silently swallowed (r15 review finding); with it, a replay
    * simply recomputes and republishes the identical delta. Single-writer
    * path only (runs recover on each touched bucket first). */
  def scrubUncommitted(
      fs: FileSystem, dataRoot: Path, buckets: Int, committed: Long): Unit =
    if (fs.exists(dataRoot) && !isFlat(fs, dataRoot))
      (0 until buckets).foreach { k =>
        val bd = bucketDir(dataRoot, k)
        StoreCommit.recover(fs, bd)
        if (fs.exists(bd))
          parquetFiles(fs, bd).map(_.getPath).foreach { p =>
            if (deltaBatchOf(p.getName).exists(_ > committed)) fs.delete(p, false)
          }
      }

  /** The reserved store-bucket column name. Deliberately NOT `bucket` —
    * signature schemas are caller-defined and the embedding LSH band table
    * really does carry its own `bucket` column; a collision would silently
    * overwrite caller data (and partitionBy would then strip it from the
    * stored files). Callers assert via [[withBucket]]. */
  val BucketCol = "graft_bucket"

  /** Add the store-bucket column (Murmur3 pmod of the id, cast to long so
    * the column hash agrees with any driver-side hashLong replica), loudly
    * rejecting a caller schema that already uses the reserved name. */
  def withBucket(df: DataFrame, idCol: String, buckets: Int): DataFrame = {
    import org.apache.spark.sql.functions.{col, hash, lit, pmod}
    require(!df.columns.contains(BucketCol),
      s"store schema may not carry the reserved column '$BucketCol'")
    df.withColumn(BucketCol, pmod(hash(col(idCol).cast("long")), lit(buckets)))
  }

  /** Stage `bucketed` (must carry the [[BucketCol]] column; one task per
    * bucket → one file per bucket dir) under a dot-tmp sibling of
    * `storeDir`, then rename each staged file into its live bucket dir as
    * `delta-b<batchTag>-<i>.parquet`. Existing targets are skipped —
    * crash-replay idempotence, provided the caller recomputes the SAME
    * delta on replay (guaranteed by committing the cursor only after this
    * returns). Returns the touched bucket ids. */
  def publishDelta(
      spark: SparkSession, fs: FileSystem, storeDir: Path, dataRoot: Path,
      bucketed: DataFrame, batchTag: Long, buckets: Int): Seq[Int] = {
    import org.apache.spark.sql.functions.col
    val tmp = new Path(storeDir.getParent, s".${storeDir.getName}.delta")
    fs.delete(tmp, true)
    bucketed.repartition(col(BucketCol))
      .write.partitionBy(BucketCol).parquet(tmp.toString)
    val touched = (0 until buckets).filter(k =>
      fs.exists(new Path(tmp, s"$BucketCol=$k")))
    touched.foreach { k =>
      val bd = bucketDir(dataRoot, k)
      StoreCommit.recover(fs, bd) // heal a compaction crash aside first
      fs.mkdirs(bd)
      parquetFiles(fs, new Path(tmp, s"$BucketCol=$k")).zipWithIndex.foreach {
        case (st, i) =>
          val target = new Path(bd, f"delta-b$batchTag%019d-$i.parquet")
          // an existing target IS this delta (deterministic name): skip
          if (!fs.exists(target) && !fs.rename(st.getPath, target) && !fs.exists(target))
            throw new java.io.IOException(s"bucketed store: cannot publish $target")
      }
    }
    fs.delete(tmp, true)
    touched
  }

  /** Fold one bucket's files into a single base run when the count crosses
    * `compactAt` — the [[Monitoring]] per-bucket atomic publish: read the
    * bucket, write one file, swap the bucket dir. */
  def compactIfNeeded(
      spark: SparkSession, fs: FileSystem, dataRoot: Path, k: Int, compactAt: Int): Unit = {
    val bd = bucketDir(dataRoot, k)
    if (!fs.exists(bd)) return
    val files = parquetFiles(fs, bd)
    if (files.length < compactAt) return
    StoreCommit.publish(fs, bd)(tmp =>
      writeBase(fs, spark.read.parquet(files.map(_.getPath.toString): _*), tmp))
  }

  /** Rewrite one bucket from a dataframe (delete-scrub path) via its
    * atomic publish. */
  def rewriteBucket(fs: FileSystem, dataRoot: Path, k: Int, rows: DataFrame): Unit =
    StoreCommit.publish(fs, bucketDir(dataRoot, k))(tmp => writeBase(fs, rows, tmp))

  /** One bucket = one base run (bucket bytes are the dial); the part file
    * is renamed to `base-<i>.parquet` so repeated compactions stay one base
    * file. */
  private def writeBase(fs: FileSystem, rows: DataFrame, tmp: Path): Unit = {
    rows.coalesce(1).write.parquet(tmp.toString)
    parquetFiles(fs, tmp).zipWithIndex.foreach { case (st, i) =>
      fs.rename(st.getPath, new Path(tmp, s"base-$i.parquet")) }
  }
}
