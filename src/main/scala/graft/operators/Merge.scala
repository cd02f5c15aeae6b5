package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions.{col, lit}

/** Copy-on-write partition upsert — the lake-maintenance capability the
  * reference stack cannot express at all: Athena over S3 objects has no
  * UPDATE, so a correction (late-arriving fix, GDPR erasure, enrichment
  * backfill) means hand-rewriting objects. This operator gives the merge
  * the shape a 100 TB lake needs:
  *
  *   - Only partitions the update batch actually TOUCHES are rewritten
  *     (copy-on-write at partition granularity); the rest of the table is
  *     never read, listed, or moved. The touched-partition set is partition
  *     METADATA (distinct partition-key tuples of the update batch) — its
  *     size is bounded by the table's partition count, never by data
  *     volume, so collecting it to the driver is the standard, safe move.
  *   - Within one partition, old rows losing to an update leave via a
  *     LEFT ANTI join on the id (broadcastable: one update batch spread
  *     over its partitions is small per partition) and the update rows
  *     union in — one scan of the touched partition, one write.
  *   - The rewritten partition publishes through [[StoreCommit.publish]]
  *     (stage `.building` → aside `.previous` → swap), so a concurrent
  *     reader sees the old rows or the new rows, never both or neither; a
  *     crash between the renames leaves the data in the hidden `.previous`
  *     sibling, restored on the next call.
  *
  * Updates must carry the partition columns; rows for partitions that do
  * not exist yet land as fresh partition directories through the same
  * publish. Table formats (Iceberg/Delta/Hudi) move this swap into a
  * metadata commit; on a filesystem lake the rename discipline is the
  * equivalent invariant.
  */
object Merge {

  /** Touched-partition metadata is bounded by the table's partition count,
    * but a mis-keyed update stream (e.g. partitioning on a timestamp instead
    * of its hour) would collect unbounded strings to the driver — fail fast
    * with a diagnosable message instead of an OOM. 100k tuples of partition
    * strings is a few MB, far past any sane partition layout. */
  private val MaxTouchedPartitions = 100000

  /** Partition directory component for one value, escaped exactly the way
    * Spark's own partitioned writer escapes it (ExternalCatalogUtils), with
    * null taking the writer's `__HIVE_DEFAULT_PARTITION__` sentinel — so a
    * merged partition is indistinguishable from one the writer laid out. */
  private def pathSegment(k: String, v: Any): String = {
    val s =
      if (v == null) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
      else ExternalCatalogUtils.escapePathName(String.valueOf(v))
    s"$k=$s"
  }

  /** Slice of `batch` belonging to one touched-partition tuple; `<=>` keeps
    * null partition values matched to their rows instead of dropping them. */
  private def partitionSlice(batch: DataFrame, partitionCols: Seq[String], pvals: Row): DataFrame =
    partitionCols.zipWithIndex.foldLeft(batch) { case (df, (k, i)) =>
      df.filter(col(k) <=> lit(pvals.get(i)))
    }

  private def touchedPartitions(batch: DataFrame, partitionCols: Seq[String]): Array[Row] = {
    val touched =
      batch.select(partitionCols.map(col): _*).distinct().limit(MaxTouchedPartitions + 1).collect()
    require(touched.length <= MaxTouchedPartitions,
      s"merge: update batch touches more than $MaxTouchedPartitions partitions - " +
        "the batch is almost certainly keyed on a non-partition column")
    touched
  }

  /** Upsert `updates` into the partitioned parquet table at `tableDir` by
    * `idCol`. PRECONDITION: `idCol` is unique within the batch (two updates
    * for one id in a single batch have no defined winner — split them across
    * batches or pre-aggregate); violations are rejected up front rather than
    * silently writing duplicate-id rows. Returns one (partitionPath,
    * nReplaced, nInserted) per touched partition.
    *
    * Folded per micro-batch ([[graft.streaming.StreamingIngest.foldEachBatch]]),
    * this keeps a table CURRENT under late corrections — CDC-style, which
    * an append-only lake cannot — and is effectively-once without a
    * transactional commit log: the merge is idempotent by id, so a
    * crash-replayed batch replaces the same rows. */
  def upsertPartitioned(
      spark: SparkSession,
      tableDir: String,
      updates: DataFrame,
      idCol: String,
      partitionCols: Seq[String]): Seq[(String, Long, Long)] = {
    val fs = StoreCommit.fsOf(spark, new Path(tableDir))

    val dupIds = updates.groupBy(col(idCol)).count().filter(col("count") > 1).limit(1).count()
    require(dupIds == 0,
      s"merge: update batch has duplicate $idCol values - one id must appear at most once per batch")

    // partition METADATA only: one row per touched partition
    val touched = touchedPartitions(updates, partitionCols)

    touched.toSeq.map { pvals =>
      val part = new Path(tableDir + "/" +
        partitionCols.zipWithIndex.map { case (k, i) => pathSegment(k, pvals.get(i)) }.mkString("/"))
      // cached for the duration of THIS partition's merge (the slice feeds
      // the semi join, anti join, union, and counts), released before the
      // next partition so a wide update batch can't pile up executor blocks
      val u = partitionSlice(updates, partitionCols, pvals)
        .drop(partitionCols: _*)
        .cache()
      try {
        StoreCommit.recover(fs, part) // a crash inside an earlier swap
        Retention.sweepTomb(fs, part) // ... or inside an earlier erase
        val (merged, replaced) =
          if (!fs.exists(part)) (u, 0L) // brand-new partition
          else {
            val old = spark.read.parquet(part.toString)
            (old.join(u, Seq(idCol), "left_anti").unionByName(u, allowMissingColumns = false),
              old.join(u, Seq(idCol), "left_semi").count())
          }
        StoreCommit.publish(fs, part)(tmp =>
          merged.write.mode(SaveMode.Overwrite).parquet(tmp.toString))
        (part.toString, replaced, u.count() - replaced)
      } finally u.unpersist()
    }
  }

  /** Targeted row deletion — the right-to-be-forgotten operator (a GDPR
    * erasure cannot wait for [[Retention]]'s age-based expiry). `tombstones`
    * carries the ids to remove plus their partition columns; only touched
    * partitions rewrite (old rows leave via the same LEFT ANTI join the
    * upsert uses, with no union back), behind the same crash-safe
    * publish. A partition whose every row dies is removed entirely (through
    * [[Retention.expirePartition]]) rather than left as an empty directory. Returns (partitionPath,
    * nDeleted) per touched partition; ids absent from the table delete
    * zero rows (idempotent replay). */
  def deletePartitioned(
      spark: SparkSession,
      tableDir: String,
      tombstones: DataFrame,
      idCol: String,
      partitionCols: Seq[String]): Seq[(String, Long)] = {
    val fs = StoreCommit.fsOf(spark, new Path(tableDir))
    val touched = touchedPartitions(tombstones, partitionCols)

    touched.toSeq.flatMap { pvals =>
      val part = new Path(tableDir + "/" +
        partitionCols.zipWithIndex.map { case (k, i) => pathSegment(k, pvals.get(i)) }.mkString("/"))
      val ids = partitionSlice(tombstones, partitionCols, pvals)
        .select(idCol).distinct().cache()
      try {
        StoreCommit.recover(fs, part)
        Retention.sweepTomb(fs, part)
        if (!fs.exists(part)) None
        else {
          val old = spark.read.parquet(part.toString)
          val dying = old.join(ids, Seq(idCol), "left_semi").count()
          if (dying == 0L) None
          else {
            val survivors = old.join(ids, Seq(idCol), "left_anti")
            // whole partition dies: hide under Retention's `.expiring` tomb,
            // which is swept and never restored (the restorable `.previous`
            // aside would bring the erased rows back on the next write)
            if (survivors.isEmpty) Retention.expirePartition(spark, part.toString)
            else StoreCommit.publish(fs, part)(tmp =>
              survivors.write.mode(SaveMode.Overwrite).parquet(tmp.toString))
            Some((part.toString, dying))
          }
        }
      } finally ids.unpersist()
    }
  }
}
