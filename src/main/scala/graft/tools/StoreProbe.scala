package graft.tools

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Long-horizon streaming-store probe (r13 verdict task 3): the O(delta)
  * per-batch claims for SnapshotStore / HistoryStore / PackingStore /
  * SignatureStore / VectorIndex are unit-pinned PER BATCH but had never
  * been measured over a horizon — an O(store) term hiding in the per-batch
  * path (the exact class r12 ADVICE found in PackingStore's defensive
  * anti-join) shows up only as per-batch wall CREEPING as the store grows.
  *
  * Drives each store through `batches` micro-batches of CONSTANT delta and
  * reports the per-batch wall series plus the store's file count at start /
  * end. Reading the series: compute terms must stay flat; the accepted
  * O(store) term is the PUBLISH REWRITE (stores swap a full parquet root
  * atomically — SignatureStore/PackingStore union-rewrite, SnapshotStore's
  * one full-outer join), whose cost is I/O-bounded by stored bytes and
  * whose 100 TB form is the documented bucketed-shard layout
  * ([[graft.operators.Monitoring]]'s regularity store); HistoryStore's
  * open-cursor append and every delta-side compute must NOT trend with
  * store size. File counts must stay bounded (each swap REPLACES the root
  * — a store that accretes files leaks listings).
  *
  * Run: sbt 'runMain graft.tools.StoreProbe [batches] [deltaRows] [outBase]'
  */
object StoreProbe {

  private def fileCount(spark: SparkSession, dir: String): Long = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) 0L
    else {
      val it = fs.listFiles(p, true)
      var n = 0L
      while (it.hasNext) { it.next(); n += 1 }
      n
    }
  }

  private def series(name: String, spark: SparkSession, dir: String,
      batches: Int)(feed: Int => Unit): String = try {
    val walls = (0 until batches).map { b =>
      val t0 = System.nanoTime()
      feed(b)
      (System.nanoTime() - t0) / 1e9
    }
    val files = fileCount(spark, dir)
    // trend: mean of last 5 vs batches 3-7 (post-warmup head) — the
    // number PERF.md quotes as the creep factor over the horizon
    val head = walls.slice(3, 8)
    val tail = walls.takeRight(5)
    val creep = tail.sum / tail.size / (head.sum / head.size)
    System.err.println(f"[storeprobe] $name done, creep=$creep%.2f files=$files")
    f"""{"store":"$name","batches":$batches,"head_sec":${head.sum / head.size}%.2f,""" +
      f""""tail_sec":${tail.sum / tail.size}%.2f,"creep":$creep%.2f,"files_final":$files,""" +
      s""""walls":[${walls.map(w => f"$w%.2f").mkString(",")}]}"""
  } catch {
    case e: Throwable =>
      // one failing store must cost one error line, never the whole probe
      System.err.println(s"[storeprobe] $name FAILED: $e")
      s"""{"store":"$name","error":"${e.getClass.getSimpleName}"}"""
  }

  /** Reader-WHILE-writer consistency drive (r15 verdict task 6): the
    * bucketed stores' crash/replay discipline is single-writer-pinned, but
    * the committed-cursor gating at read time exists precisely so a
    * CONCURRENT reader is safe during publishDelta and per-bucket
    * compaction. This drives a reader thread across a writer horizon and
    * checks every successful read equals a COMMITTED PREFIX of the feed:
    * each batch appends exactly `delta` rows with dense doc_ids, so a
    * consistent snapshot has count = (c+1)·delta for some batch c inside
    * the [cursor-before, cursor-after] window of that read, and
    * max(doc_id) = count−1 (count and max come from ONE action — two
    * actions could legally straddle a commit). An uncommitted-delta leak
    * (torn publish window) shows as implied > cursor-after; a lost file
    * shows as a non-multiple or a max/count mismatch.
    *
    * CONTRACT NOTE (documented, measured here): the per-bucket compaction
    * swap deletes the folded delta files after the rename, so a reader
    * whose file listing predates the swap can fail TRANSIENTLY
    * (vanished-file error) — a retry re-lists and lands on a newer
    * committed prefix. The probe counts those retries separately from
    * violations; correctness means violations = 0, with retries expected
    * to be a small fraction of reads. A failed CURSOR read is counted on
    * its own: the read-side cursor must always serve a committed batch id,
    * swap window or not, so that count must be 0.
    *
    * Run: sbt 'runMain graft.tools.StoreProbe rw [batches] [deltaRows] [base]'
    * Returns (reads, transient-retries, failed cursor reads, violations). */
  def readerWriterRun(
      spark: SparkSession, dir: String, batches: Int, delta: Int): (Int, Int, Int, Seq[String]) = {
    import graft.operators.SignatureStore
    def sigs(b: Int) = spark.range(delta).select(
      (lit(b.toLong * delta) + col("id")).as("doc_id"),
      (col("id") % 8).as("band"),
      xxhash64(col("id") + lit(b)).as("bh"))
    SignatureStore.build(spark, sigs(0), dir) // reader starts on a built store
    val violations = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    val retries = new java.util.concurrent.atomic.AtomicInteger(0)
    val cursorFailures = new java.util.concurrent.atomic.AtomicInteger(0)
    object CursorReadFailed extends Exception
    def cursor(): Long =
      try SignatureStore.committedBatch(spark, dir)
      catch { case _: Exception => cursorFailures.incrementAndGet(); throw CursorReadFailed }
    @volatile var done = false
    val reader = new Thread(() => {
      while (!done) {
        try {
          val cBefore = cursor()
          val row = SignatureStore.read(spark, dir)
            .agg(count(lit(1)).as("n"), max("doc_id").as("mx")).collect()(0)
          val n = row.getLong(0)
          val mx = if (row.isNullAt(1)) -1L else row.getLong(1)
          val cAfter = cursor()
          reads.incrementAndGet()
          // build alone (cursor −1) is the prefix of batch 0: one delta
          val implied = n / delta - 1
          val ok = n > 0 && n % delta == 0 && mx == n - 1 &&
            implied >= math.max(cBefore, 0L) && implied <= math.max(cAfter, 0L)
          if (!ok) violations.add(
            s"count=$n max=$mx implied=$implied window=[$cBefore,$cAfter]")
        } catch {
          case CursorReadFailed => // counted apart: a cursor read must never fail
          case _: Throwable => retries.incrementAndGet() // compaction-swap window
        }
      }
    }, "graft-store-reader")
    reader.setDaemon(true)
    reader.start()
    (1 until batches).foreach { b =>
      SignatureStore.append(spark, sigs(b), dir, batchId = Some(b.toLong))
    }
    // let the reader land at least one more full read after the final
    // commit (a quiescent-state read must also equal the final prefix)
    val atEnd = reads.get()
    val deadline = System.nanoTime() + 60L * 1000000000L
    while (reads.get() <= atEnd && System.nanoTime() < deadline) Thread.sleep(10)
    done = true
    reader.join(60000)
    (reads.get(), retries.get(), cursorFailures.get(),
      violations.toArray(Array.empty[String]).toSeq)
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("rw")) {
      val batches = args.lift(1).map(_.toInt).getOrElse(60)
      val delta = args.lift(2).map(_.toInt).getOrElse(5000)
      val base = args.lift(3).getOrElse("/tmp/graft_storeprobe_rw")
      val spark = graft.Engine.createSession("graft-store-probe", graft.Engine.localMaster)
      spark.sparkContext.setLogLevel("ERROR")
      val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.delete(new Path(base), true)
      val (reads, retries, cursorFailures, violations) =
        readerWriterRun(spark, s"$base/signature", batches, delta)
      println(s"""{"probe":"store_reader_writer","batches":$batches,"delta_rows":$delta,""" +
        s""""reads":$reads,"transient_retries":$retries,"failed_cursor_reads":$cursorFailures,""" +
        s""""violations":${violations.size},"violation_samples":[${
          violations.take(5).map("\"" + _ + "\"").mkString(",")}]}""")
      spark.stop()
      return
    }
    val batches = args.headOption.map(_.toInt).getOrElse(60)
    val delta = args.lift(1).map(_.toInt).getOrElse(5000)
    val base = args.lift(2).getOrElse("/tmp/graft_storeprobe")
    // optional 4th arg: comma-separated store subset for a targeted re-run
    val only = args.lift(3).map(_.split(",").toSet)
    def want(name: String): Boolean = only.forall(_.contains(name))
    val spark = graft.Engine.createSession("graft-store-probe", graft.Engine.localMaster)
    spark.sparkContext.setLogLevel("ERROR")
    val fs = new Path(base).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(base), true)

    println(s"""{"probe":"store_horizon","batches":$batches,"delta_rows":$delta,"stores":[""")
    def ifWanted(name: String)(run: => String): Option[String] =
      if (want(name)) Some(run) else None
    val lines = Seq(
      // SnapshotStore: constant-delta changelog over a 10x-delta key
      // universe (every batch is ~90% updates once warm), 10% deletes.
      ifWanted("snapshot")(series("snapshot", spark, s"$base/snapshot", batches) { b =>
        val changes = spark.range(delta).select(
          (((col("id") * 7 + lit(b * 13)) % (delta * 10)) + 1).as("k"),
          (lit(b.toLong * delta) + col("id")).as("seq"),
          when((col("id") + b) % 10 === 0, "D").otherwise("U").as("op"),
          concat(lit("payload-"), col("id") + lit(b)).as("v"))
        graft.operators.SnapshotStore(spark, changes, s"$base/snapshot",
          batchId = b, keyCol = "k")
      }),
      // HistoryStore: ts-monotonic event feed, constant users-per-batch —
      // the O(delta) open-cursor append claim under test.
      ifWanted("history")(series("history", spark, s"$base/history", batches) { b =>
        val ev = spark.range(delta).select(
          (col("id") % 500).as("user_id"),
          timestamp_micros(lit(b.toLong * delta * 1000000L) + col("id") * 1000000L).as("ts"),
          (lit(b.toLong * delta) + col("id")).as("event_id"),
          concat(lit("t"), (col("id") + lit(b)) % 3).as("event_type"))
        graft.operators.HistoryStore.append(spark, ev, s"$base/history", batchId = b)
      }),
      // PackingStore: doc_id-monotonic append-only docs over 4 lang shards.
      ifWanted("packing")(series("packing", spark, s"$base/packing", batches) { b =>
        val docs = spark.range(delta).select(
          (lit(b.toLong * delta) + col("id")).as("doc_id"),
          concat(lit("lang"), col("id") % 4).as("lang"),
          concat_ws(" ", (0 until 40).map(i => concat(lit(s"w$i"), col("id") % 97)): _*)
            .as("text"))
        graft.operators.PackingStore.append(spark, docs, s"$base/packing", batchId = b)
      }),
      // SignatureStore: fresh doc_id signatures per batch (band, bh rows);
      // batch 0 is the build (append requires a readable store root).
      // Appends carry the batchId — the streaming feed contract (append-
      // only, batch-deduplicated), which is the O(delta) path the r15
      // bucketed layout makes flat; the no-batchId ad-hoc form keeps the
      // O(store)-read anti-join and is NOT the per-batch shape.
      ifWanted("signature")(series("signature", spark, s"$base/signature", batches) { b =>
        val sigs = spark.range(delta).select(
          (lit(b.toLong * delta) + col("id")).as("doc_id"),
          (col("id") % 8).as("band"),
          xxhash64(col("id") + lit(b)).as("bh"))
        if (b == 0) graft.operators.SignatureStore.build(spark, sigs, s"$base/signature")
        else graft.operators.SignatureStore.append(spark, sigs, s"$base/signature",
          batchId = Some(b.toLong))
      }),
      // VectorIndex (IVFPQ): growing embeddings table, per-batch delta
      // append — codebooks train once on batch 0, appends are
      // delta-assign + store-rewrite. Smaller delta/horizon: each append
      // carries k-means assignment work per delta vector.
      {
        val vdelta = math.max(500, delta / 5)
        val vbatches = math.min(batches, 30)
        val vecSf = s"$base/vecsf"
        val idx = s"$base/vecindex"
        def vecs(b: Int) = spark.range(vdelta).select(
          (lit(b.toLong * vdelta) + col("id")).as("vec_id"),
          // +1 phase: a 0 argument would make EVERY dim sin(0)=0 — a
          // zero vector the l2 normalizer rightly refuses; any positive
          // integer argument keeps sin nonzero (pi is irrational)
          transform(sequence(lit(0), lit(63)),
            d => sin((col("id") + lit(b * 31) + 1) * (d + 1)).cast("float")).as("embedding"),
          (col("id") % 10).cast("int").as("label"))
        ifWanted("vector_index")(series("vector_index", spark, idx, vbatches) { b =>
          vecs(b).write.mode(if (b == 0) "overwrite" else "append")
            .parquet(s"$vecSf/embeddings.parquet")
          if (b == 0) graft.operators.VectorIndex.buildIvfPq(spark, vecSf, idx)
          else graft.operators.VectorIndex.appendIvfPq(spark, vecSf, idx,
            minVecId = b.toLong * vdelta)
        })
      }
    ).flatten
    println(lines.mkString(",\n"))
    println("]}")
    spark.stop()
  }
}
