package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{SaveMode, SparkSession}

/** Partition compaction — the lake-maintenance operator the streaming ingest
  * path makes necessary: a 60 s trigger (Firehose parity) writes at least one
  * file per partition per micro-batch, so an hour partition accretes ~60
  * small files and a day ~1440 x sources. Small files poison a 100 TB lake
  * twice over: scan tasks degenerate to per-file overhead, and file listing
  * dominates planning. The reference never solves this (its gzip NDJSON
  * output has the same shape; Athena just eats the cost per query).
  *
  * `compactPartition` rewrites one closed partition directory to
  * ceil(bytes / targetBytes) files — compact ONLY partitions the streaming
  * trigger has moved past (e.g. previous hours), never the one being written.
  * The rewrite publishes through [[StoreCommit.publish]] (a dot-prefixed
  * `.building` stage, then two renames through the `.previous` aside), so a
  * concurrent reader sees either the old layout or the new one, never a
  * partial mix (rename is atomic per path on HDFS-like filesystems; on S3 a
  * real deployment would swap via the table format's metadata instead).
  */
object Compaction {

  /** Compact one partition directory (e.g. `$events/year=2026/month=08/...`).
    * Returns (filesBefore, filesAfter); no-op when already compact. */
  def compactPartition(
      spark: SparkSession,
      partitionDir: String,
      targetBytes: Long = 128L * 1024 * 1024): (Int, Int) = {
    val path = new Path(partitionDir)
    val fs = StoreCommit.fsOf(spark, path)
    // a crash inside an earlier swap leaves the data only in the hidden
    // aside and the partition path absent — restore it before listing
    StoreCommit.recover(fs, path)
    val files = fs.listStatus(path).filter(f => f.isFile && !f.getPath.getName.startsWith("_"))
    val totalBytes = files.map(_.getLen).sum
    val targetFiles = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    if (files.length <= targetFiles) return (files.length, files.length)

    StoreCommit.publish(fs, path)(tmp =>
      spark.read.parquet(partitionDir)
        .repartition(targetFiles)
        .write.mode(SaveMode.Overwrite)
        .parquet(tmp.toString))
    val after = fs.listStatus(path).count(f => f.isFile && !f.getPath.getName.startsWith("_"))
    (files.length, after)
  }

  /** Compact every partition of an events table EXCEPT the currently-open
    * one(s), identified by modification time newer than `settledMs` ago —
    * the cron-job form (the reference's 10-minute partition cron slot). */
  def compactSettledPartitions(
      spark: SparkSession,
      eventsDir: String,
      targetBytes: Long = 128L * 1024 * 1024,
      settledMs: Long = 2 * 60 * 1000): Seq[(String, Int, Int)] = {
    val root = new Path(eventsDir)
    val fs = FileSystem.get(root.toUri, spark.sparkContext.hadoopConfiguration)
    settledPartitions(fs, root, System.currentTimeMillis() - settledMs).flatMap { part =>
      val (before, after) = compactPartition(spark, part.toString, targetBytes)
      if (before != after) Some((part.toString, before, after)) else None
    }
  }

  /** The leaf partition directories under `root` whose NEWEST file is older
    * than `cutoffMs` — the settled partitions compaction and retention act
    * on. Any write inside the window keeps the whole partition out; empty
    * leaves are not data partitions; `_`/`.`-prefixed directories are
    * skipped. Empty when `root` does not exist yet. */
  private[graft] def settledPartitions(fs: FileSystem, root: Path, cutoffMs: Long): Seq[Path] = {
    def leafPartitions(p: Path): Seq[Path] = {
      val children = fs.listStatus(p).filter(_.isDirectory).map(_.getPath)
        .filterNot(c => c.getName.startsWith("_") || c.getName.startsWith("."))
      if (children.isEmpty) Seq(p)
      else children.toSeq.flatMap(leafPartitions)
    }
    if (!fs.exists(root)) Seq.empty
    else leafPartitions(root).filter(_ != root).filter { part =>
      val mtimes = fs.listStatus(part).filter(_.isFile).map(_.getModificationTime)
      mtimes.nonEmpty && mtimes.max < cutoffMs
    }
  }
}
