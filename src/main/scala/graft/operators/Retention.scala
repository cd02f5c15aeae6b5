package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** Storage-lifecycle retention — the lake-maintenance twin of [[Compaction]].
  *
  * The reference delegates retention to S3 bucket lifecycle rules
  * (`main.tf:31-42`: 90-day expiry on the ingest bucket; `main.tf:62-73`:
  * 360-day expiry + infrequent-access transition on the lake bucket), so
  * data ages out underneath Athena with no engine involvement. A Spark-native
  * lake needs the same policy as an operator: without it a 100 TB/year table
  * only ever grows, and every full scan pays for data past its useful life.
  *
  * `expireSettledPartitions` deletes leaf partition directories whose NEWEST
  * file is older than the retention window — the same age signal S3
  * lifecycle uses (object age), and the same settled-detection
  * `compactSettledPartitions` keys on, so a partition still being written
  * (or just compacted) is never eligible. Deletion follows the crash-safe
  * rename discipline compaction established: the partition is first renamed
  * to a dot-prefixed sibling (`.hour=05.expiring`) — atomic, and invisible
  * to partition discovery — then deleted. A reader therefore sees the
  * partition fully present or fully gone, never half-deleted; a crash
  * between rename and delete leaves only a hidden leftover that the next
  * run sweeps. Emptied ancestor directories (a month whose days all
  * expired) are pruned so discovery never lists hollow branches.
  */
object Retention {

  /** Suffix for the hidden rename-target; also the crash-leftover marker. */
  private def expiringSibling(p: Path) = new Path(p.getParent, s".${p.getName}.expiring")

  /** Delete the tomb a crash between hide and delete left beside one
    * partition. Every writer of the partition sweeps it before touching the
    * partition, so an erasure's rows do not outlive the next write. */
  private[graft] def sweepTomb(fs: FileSystem, partition: Path): Unit =
    fs.delete(expiringSibling(partition), true)

  /** Expire one partition directory: rename aside (atomic hide), then
    * delete. Idempotent — a missing partition is a no-op (another run, or
    * the crash-sweep, already took it). */
  def expirePartition(spark: SparkSession, partitionDir: String): Boolean = {
    val path = new Path(partitionDir)
    val fs = FileSystem.get(path.toUri, spark.sparkContext.hadoopConfiguration)
    val tomb = expiringSibling(path)
    sweepTomb(fs, path)
    if (!fs.exists(path)) return false
    if (!fs.rename(path, tomb))
      throw new java.io.IOException(s"retention: cannot move $path aside for expiry")
    fs.delete(tomb, true)
    true
  }

  /** Expire every leaf partition whose newest file predates the retention
    * window; sweep crash leftovers; prune emptied ancestors. Returns the
    * expired partition paths. `nowMs` is injectable for deterministic tests
    * (and for replaying a policy as-of a point in time). */
  def expireSettledPartitions(
      spark: SparkSession,
      eventsDir: String,
      maxAgeMs: Long,
      nowMs: Long = System.currentTimeMillis()): Seq[String] = {
    val root = new Path(eventsDir)
    val fs = FileSystem.get(root.toUri, spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val cutoff = nowMs - maxAgeMs

    def children(p: Path) = fs.listStatus(p).filter(_.isDirectory).map(_.getPath)

    def sweepLeftovers(p: Path): Unit = {
      fs.listStatus(p).map(_.getPath)
        .filter(c => c.getName.startsWith(".") && c.getName.endsWith(".expiring"))
        .foreach(fs.delete(_, true))
      children(p).filterNot(_.getName.startsWith(".")).foreach(sweepLeftovers)
    }
    sweepLeftovers(root)

    val expired = Compaction.settledPartitions(fs, root, cutoff)
      .filter(part => expirePartition(spark, part.toString)).map(_.toString)

    // prune ancestors emptied by the expiry, bottom-up, never the root
    def prune(p: Path): Unit = {
      children(p).filterNot(_.getName.startsWith(".")).foreach(prune)
      if (p != root && fs.listStatus(p).isEmpty) fs.delete(p, false)
    }
    prune(root)
    expired
  }
}
