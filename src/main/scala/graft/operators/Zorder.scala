package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) file clustering — the data-skipping layout
  * operator of the lake-maintenance family ([[Compaction]], [[Retention]],
  * [[Merge]]). Parquet prunes row groups by min/max stats, but stats only
  * skip when the layout CORRELATES with the predicate: a partition written
  * in arrival order has every file spanning the full range of every column,
  * so a selective two-column box query still opens every file. Sorting by
  * one column fixes that column and destroys the other; interleaving the
  * bits of both (the Morton code) gives every file a compact rectangle in
  * (a, b) space, so box predicates on EITHER or both columns skip most
  * files — the layout trick behind Delta/Iceberg OPTIMIZE ZORDER.
  *
  * The z-value is pure bit-twiddling on built-in column ops (five
  * mask-shift spreads per key — codegen'd, no UDF), the rewrite is a
  * range-repartition + within-partition sort on z (one shuffle, no global
  * sort), and the rewrite publishes through [[StoreCommit.publish]], so
  * readers see the old layout or the new one, never a mix.
  */
object Zorder {

  /** Spread the low 32 bits of `c` to the even bit positions (0,2,4,...62)
    * — the classic five-step mask/shift Morton spread, as column algebra. */
  private[operators] def spreadBits(c: Column): Column = {
    def step(x: Column, shift: Int, mask: Long): Column =
      x.bitwiseOR(call_function("shiftleft", x, lit(shift))).bitwiseAND(lit(mask))
    val x0 = c.cast("long").bitwiseAND(lit(0xffffffffL))
    val x1 = step(x0, 16, 0x0000ffff0000ffffL)
    val x2 = step(x1, 8, 0x00ff00ff00ff00ffL)
    val x3 = step(x2, 4, 0x0f0f0f0f0f0f0f0fL)
    val x4 = step(x3, 2, 0x3333333333333333L)
    step(x4, 1, 0x5555555555555555L)
  }

  /** 64-bit Morton code of two non-negative 32-bit keys: bits of `a` on the
    * even positions, bits of `b` on the odd ones. */
  def mortonCode(a: Column, b: Column): Column =
    spreadBits(a).bitwiseOR(call_function("shiftleft", spreadBits(b), lit(1)))

  /** Rewrite one partition directory clustered on the Morton curve of
    * (colA, colB) into `targetFiles` files. Returns (filesBefore,
    * filesAfter). Range-repartitioning on z assigns each output file a
    * contiguous z-interval (a rectangle family in key space); the
    * within-partition sort tightens per-row-group stats inside each file.
    * One keyed shuffle; no global sort, no driver materialization. */
  def clusterPartition(
      spark: SparkSession,
      partitionDir: String,
      colA: String,
      colB: String,
      targetFiles: Int): (Int, Int) = {
    val path = new Path(partitionDir)
    val fs = StoreCommit.fsOf(spark, path)
    StoreCommit.recover(fs, path) // a crash inside an earlier swap
    val before = fs.listStatus(path).count(f => f.isFile && !f.getPath.getName.startsWith("_"))
    StoreCommit.publish(fs, path)(tmp =>
      spark.read.parquet(partitionDir)
        .withColumn("__z", mortonCode(col(colA), col(colB)))
        .repartitionByRange(targetFiles, col("__z"))
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(SaveMode.Overwrite).parquet(tmp.toString))
    val after = fs.listStatus(path).count(f => f.isFile && !f.getPath.getName.startsWith("_"))
    (before, after)
  }
}
