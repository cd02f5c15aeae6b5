package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.collection.mutable

/** Bounded-state frequency sketches.
  *
  * The distributed heavy-hitter shape (SURVEY §2 LLM-pipeline surplus): a
  * groupBy over ALL distinct keys shuffles the full key distribution — at
  * 100 TB that is the token/entity vocabulary, which can itself be huge and
  * skewed. The sketch route never shuffles the distribution: each partition
  * folds its rows into an O(k) Misra-Gries summary, the union of per-partition
  * candidate keys (≤ partitions × k rows) broadcasts back, and one exact
  * recount touches only candidate rows. The output is EXACT (not approximate):
  * any key with global frequency > n/k must exceed n_p/k in at least one
  * partition (averaging argument), so the candidate union is a superset of the
  * true frequent items and the recount-then-threshold equals the plain
  * groupBy-HAVING answer — which is what the DuckDB oracle runs.
  */
object Sketches {

  /** Misra-Gries frequent-items summary (Misra & Gries 1982): at most k
    * counters; an arriving key either increments its counter, claims a free
    * slot, or decrements ALL counters (dropping zeros). Guarantees on a
    * stream of n items: every key with frequency > n/(k+1) retains a counter,
    * and each counter undercounts its key by at most n/(k+1).
    */
  def misraGries(items: Iterator[Long], k: Int): Map[Long, Long] = {
    require(k >= 1, s"misraGries: k must be >= 1, got $k")
    val m = mutable.LongMap.empty[Long]
    items.foreach { x =>
      if (m.contains(x)) m(x) += 1L
      else if (m.size < k) m(x) = 1L
      else {
        // decrement-all step; amortized O(1) per item (each decrement pass
        // cancels k+1 arrivals)
        val dead = mutable.ArrayBuffer.empty[Long]
        m.foreachEntry { (key, c) =>
          if (c == 1L) dead += key else m(key) = c - 1L
        }
        dead.foreach(m.remove)
      }
    }
    m.toMap
  }

  /** Merge two MG summaries into one of at most k counters (Agarwal et al.
    * 2013: sum counters, then subtract the (k+1)-th largest count and drop
    * non-positives). The merged summary keeps the additive-error guarantee,
    * which is what makes MG a valid partial-aggregate state.
    */
  def mergeMisraGries(a: Map[Long, Long], b: Map[Long, Long], k: Int): Map[Long, Long] = {
    val sum = mutable.LongMap.empty[Long]
    a.foreach { case (key, c) => sum(key) = sum.getOrElse(key, 0L) + c }
    b.foreach { case (key, c) => sum(key) = sum.getOrElse(key, 0L) + c }
    if (sum.size <= k) sum.toMap
    else {
      val counts = sum.values.toArray.sorted(Ordering.Long.reverse)
      val cut = counts(k) // (k+1)-th largest
      sum.iterator.collect { case (key, c) if c > cut => key -> (c - cut) }.toMap
    }
  }

  /** MG summary of a (single long-column) frame: per-partition sketches fold
    * on the driver — the collect is ≤ partitions × k counter rows, bounded at
    * any data volume (the bounded-state point of the operator). */
  def summarize(keys: DataFrame, k: Int): Map[Long, Long] = {
    val keyCol = keys.columns.head
    val s = keys.sparkSession
    import s.implicits._
    keys.select(col(keyCol)).as[Long]
      .mapPartitions(it => Iterator.single(misraGries(it, k)))
      .collect()
      .foldLeft(Map.empty[Long, Long])((a, b) => mergeMisraGries(a, b, k))
  }

  // ---- persisted streaming sketch (the top-talkers monitor state) -------

  /** The stored MG summary as (key, cnt) rows (empty if never committed). */
  def readSketch(spark: SparkSession, storeDir: String): Map[Long, Long] = {
    val dir = new Path(s"$storeDir/sketch")
    val fs = StoreCommit.fsOf(spark, dir)
    val src = StoreCommit.readableRoot(fs, dir) // non-mutating: see StoreCommit
    if (!fs.exists(src)) Map.empty
    else spark.read.parquet(src.toString)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  /** Count-min cell table of a (single string-column) frame: d=3 rows ×
    * w=256 columns, row-hashes taken as three 16-bit windows of the 46-bit
    * polynomial state (the q_agg_countmin layout). CM is a LINEAR sketch —
    * cell tables of disjoint batches ADD to the cell table of their union
    * exactly — which is what makes the stored form below incrementally
    * maintainable with zero error drift. */
  def countMinCells(keys: DataFrame): DataFrame = {
    val keyCol = keys.columns.head
    val h = keys.select(col(keyCol).as("k"))
      .groupBy("k").agg(count(lit(1)).as("n"))
      .withColumn("h", graft.functions.VectorFunctions.polyHash(col("k")))
    val rc = array(
      struct(lit(0).as("j"), expr("h % 65536 % 256").as("c")),
      struct(lit(1).as("j"), expr("(h div 32768) % 65536 % 256").as("c")),
      struct(lit(2).as("j"), expr("(h div 1073741824) % 65536 % 256").as("c")))
    h.select(col("n"), explode(rc).as("rc"))
      .groupBy(col("rc.j").as("j"), col("rc.c").as("c"))
      .agg(sum("n").as("cell"))
  }

  /** The stored CM cell table (empty if never committed). */
  def readCountMin(spark: SparkSession, storeDir: String): DataFrame = {
    val dir = new Path(s"$storeDir/cm")
    val fs = StoreCommit.fsOf(spark, dir)
    val src = StoreCommit.readableRoot(fs, dir) // non-mutating: see StoreCommit
    if (fs.exists(src)) spark.read.parquet(src.toString)
    else spark.range(0).select(lit(0).as("j"), lit(0L).as("c"), lit(0L).as("cell"))
  }

  /** Fold one micro-batch of string keys into the stored count-min table —
    * by linearity the stored cells after N batches equal the one-shot
    * cells of the union, bit-for-bit (pinned in StreamingSpec). Replay-safe
    * via the committed-batch-id-inside-the-swap discipline. The store is
    * 768 summed cells at any volume — the fixed-size distributed-counter
    * state the MG store's frequency twin. */
  def updateStoredCountMin(
      spark: SparkSession, keys: DataFrame, storeDir: String, batchId: Long): Unit = {
    val dir = new Path(s"$storeDir/cm")
    StoreCommit.publishBatch(StoreCommit.fsOf(spark, dir), dir, batchId) { tmp =>
      readCountMin(spark, storeDir)
        .unionByName(countMinCells(keys))
        .groupBy("j", "c").agg(sum("cell").as("cell"))
        .coalesce(1).write.parquet(tmp.toString)
    }
  }

  /** KMV (k-minimum-values / bottom-k) sketch of a (single long-column)
    * frame: the k smallest Knuth-hash values over DISTINCT keys, each with
    * the smallest key attaining it. One structure, two uses: a
    * DETERMINISTIC uniform sample of the distinct-key population (the
    * coordination-free stand-in for reservoir sampling — any worker, any
    * batch order, any replay converges on the same k rows because the
    * sample is a pure function of the key set), and a distinct-count
    * estimator ((k−1)·2³² div h_k, integer-exact so both engines agree
    * bit-for-bit — no tolerance contract needed, unlike HLL). Mergeable as
    * a lattice: bottom-k(A ∪ B) = bottom-k(bottom-k(A) ∪ bottom-k(B)),
    * which is what makes the stored form below incrementally maintainable
    * with zero drift. Bounded: k rows at any corpus size. */
  def kmvSketch(keys: DataFrame, k: Int): DataFrame = {
    val keyCol = keys.columns.head
    keys.select(col(keyCol).as("key")).distinct()
      .select(col("key"),
        expr("(key % 1000003 * 2654435761) % 4294967296").as("h"))
      .groupBy("h").agg(min("key").as("sample_key"))
      .orderBy("h").limit(k) // TakeOrderedAndProject: per-partition heap, no global sort
  }

  /** The stored KMV sketch (empty if never committed). */
  def readKmv(spark: SparkSession, storeDir: String): DataFrame = {
    val dir = new Path(s"$storeDir/kmv")
    val fs = StoreCommit.fsOf(spark, dir)
    val src = StoreCommit.readableRoot(fs, dir) // non-mutating: see StoreCommit
    if (fs.exists(src)) spark.read.parquet(src.toString)
    else spark.range(0).select(lit(0L).as("h"), lit(0L).as("sample_key"))
  }

  /** Fold one micro-batch of long keys into the stored bottom-k — by the
    * lattice-merge property the stored sketch after N batches equals the
    * one-shot sketch of their union BIT-FOR-BIT (pinned in StreamingSpec).
    * Replay-safe via the committed-batch-id-inside-the-swap discipline. */
  def updateStoredKmv(
      spark: SparkSession, keys: DataFrame, storeDir: String,
      k: Int, batchId: Long): Unit = {
    val dir = new Path(s"$storeDir/kmv")
    StoreCommit.publishBatch(StoreCommit.fsOf(spark, dir), dir, batchId) { tmp =>
      readKmv(spark, storeDir)
        .unionByName(kmvSketch(keys, k))
        .groupBy("h").agg(min("sample_key").as("sample_key"))
        .orderBy("h").limit(k)
        .coalesce(1).write.parquet(tmp.toString)
    }
  }

  /** Fold one micro-batch of keys into the stored MG summary — the
    * streaming top-talkers monitor. MG summaries are mergeable with the
    * additive-error guarantee intact, so the stored sketch after N batches
    * carries the same bounds as a one-shot pass over their union:
    * every key with total frequency > n/(k+1) is present and counters
    * undercount by ≤ n/(k+1). Replay-safe like the other stores: the
    * committed batch id swaps atomically with the sketch content. */
  def updateStoredSketch(
      spark: SparkSession, keys: DataFrame, storeDir: String,
      k: Int, batchId: Long): Unit = {
    val dir = new Path(s"$storeDir/sketch")
    import spark.implicits._
    StoreCommit.publishBatch(StoreCommit.fsOf(spark, dir), dir, batchId) { tmp =>
      mergeMisraGries(readSketch(spark, storeDir), summarize(keys, k), k)
        .toSeq.toDF("key", "cnt").coalesce(1).write.parquet(tmp.toString)
    }
  }
}
