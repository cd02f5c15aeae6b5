package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

import java.util.concurrent.atomic.AtomicLong

/** Memory-pressure / spill certification (r13 verdict task 1 — the
  * highest-leverage untested axis of the 100 TB story).
  *
  * Every number to date was collected with a 32 GiB heap over <= 156 MB
  * corpora, so NO plan had ever been forced to spill: hash-build sizes,
  * window-partition state, and the dense-verify kernel's budget guard were
  * spill-untested — exactly the bug class the oracle gate (answers) and the
  * wall-clock gates (throughput) cannot see. This probe runs the heavy
  * family on a gate corpus under a CONSTRAINED heap
  * (`SPARK_DRIVER_MEM=3g sbt 'runMain graft.tools.SpillProbe <corpus> <queries>'`)
  * with a SparkListener folding every task's spill metrics, and reports one
  * JSON line per query: completed-or-failed, wall, memory/disk bytes
  * spilled, peak single-task execution memory. The 100 TB reading: an
  * executor is ALWAYS memory-starved relative to its data slice; an
  * operator that OOMs instead of spilling under pressure is a scale-killer
  * no green oracle row can excuse, while one that completes by spilling is
  * exhibiting exactly the graceful degradation Tungsten promises.
  *
  * Spark-facing knobs stay at the bench defaults (one thread and one
  * shuffle partition per core of `Engine.cores`, default
  * spark.memory.fraction) — the probe varies ONLY the
  * heap, so a pass/fail diff against the 32 GiB bench isolates memory
  * pressure as the cause.
  */
object SpillProbe {

  private class SpillListener extends SparkListener {
    val memSpilled = new AtomicLong(0L)
    val diskSpilled = new AtomicLong(0L)
    val peakExecMem = new AtomicLong(0L)
    val tasksFailed = new AtomicLong(0L)
    val tasksDone = new AtomicLong(0L)
    def reset(): Unit = {
      memSpilled.set(0); diskSpilled.set(0); peakExecMem.set(0)
      tasksFailed.set(0); tasksDone.set(0)
    }
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasksDone.incrementAndGet()
      if (t.reason != org.apache.spark.Success) tasksFailed.incrementAndGet()
      val m = t.taskMetrics
      if (m != null) {
        memSpilled.addAndGet(m.memoryBytesSpilled)
        diskSpilled.addAndGet(m.diskBytesSpilled)
        peakExecMem.accumulateAndGet(m.peakExecutionMemory, math.max(_, _))
      }
    }
  }

  /** The listener bus is async: poll until the done-task counter is stable
    * so a query's tail metrics never leak into the next row. */
  private def settle(l: SpillListener): Unit = {
    var prev = -1L
    var same = 0
    while (same < 3) {
      val now = l.tasksDone.get()
      if (now == prev) same += 1 else { same = 0; prev = now }
      Thread.sleep(200)
    }
  }

  /** `SpillProbe stores [outBase] [stores]` — the persisted-store twin of
    * the query sweep (r15 verdict task 6): drive each store's micro-batch
    * fold under the constrained heap with the same listener. SpillProbe
    * covered only BATCH queries in r14; StoreProbe ran unconstrained — so
    * the store folds (CDC full-outer merge, SCD2 window, pack prefix-sum,
    * signature staging, IVFPQ assign) had never been squeezed. Deltas are
    * probe-sized UP (50k rows vs StoreProbe's 5k) so the per-batch state
    * is actually pressured at 2 GiB. */
  private def storeSweep(spark: SparkSession, listener: SpillListener,
      outBase: String, only: Option[Set[String]]): Seq[String] = {
    import org.apache.spark.sql.functions._
    val fs = new org.apache.hadoop.fs.Path(outBase)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(outBase), true)
    val delta = 50000
    val batches = 20
    def feed(name: String)(body: Int => Unit): Option[String] =
      if (!only.forall(_.contains(name))) None
      else {
        spark.catalog.clearCache()
        System.gc()
        listener.reset()
        val t0 = System.nanoTime()
        val outcome =
          try { (0 until batches).foreach(body); "completed" }
          catch {
            case e: Throwable =>
              val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.last
              s"FAILED ${root.getClass.getSimpleName}: ${Option(root.getMessage)
                .getOrElse("").replace('"', ' ').takeWhile(_ != '\n').take(160)}"
          }
        val wall = (System.nanoTime() - t0) / 1e9
        settle(listener)
        val line =
          f"""{"store":"$name","outcome":"$outcome","batches":$batches,""" +
            f""""delta_rows":$delta,"wall_sec":$wall%.1f,""" +
            s""""mem_spilled_mb":${listener.memSpilled.get / 1024 / 1024},""" +
            s""""disk_spilled_mb":${listener.diskSpilled.get / 1024 / 1024},""" +
            s""""peak_task_exec_mb":${listener.peakExecMem.get / 1024 / 1024},""" +
            s""""tasks":${listener.tasksDone.get},"task_failures":${listener.tasksFailed.get}}"""
        System.err.println(s"[spillprobe] $line")
        Some(line)
      }
    Seq(
      feed("snapshot") { b =>
        val changes = spark.range(delta).select(
          (((col("id") * 7 + lit(b * 13)) % (delta * 10)) + 1).as("k"),
          (lit(b.toLong * delta) + col("id")).as("seq"),
          when((col("id") + b) % 10 === 0, "D").otherwise("U").as("op"),
          concat(lit("payload-"), col("id") + lit(b)).as("v"))
        graft.operators.SnapshotStore(spark, changes, s"$outBase/snapshot",
          batchId = b, keyCol = "k")
      },
      feed("history") { b =>
        val ev = spark.range(delta).select(
          (col("id") % 5000).as("user_id"),
          timestamp_micros(lit(b.toLong * delta * 1000000L) + col("id") * 1000000L).as("ts"),
          (lit(b.toLong * delta) + col("id")).as("event_id"),
          concat(lit("t"), (col("id") + lit(b)) % 3).as("event_type"))
        graft.operators.HistoryStore.append(spark, ev, s"$outBase/history", batchId = b)
      },
      feed("packing") { b =>
        val docs = spark.range(delta).select(
          (lit(b.toLong * delta) + col("id")).as("doc_id"),
          concat(lit("lang"), col("id") % 4).as("lang"),
          concat_ws(" ", (0 until 40).map(i => concat(lit(s"w$i"), col("id") % 97)): _*)
            .as("text"))
        graft.operators.PackingStore.append(spark, docs, s"$outBase/packing", batchId = b)
      },
      feed("signature") { b =>
        val sigs = spark.range(delta).select(
          (lit(b.toLong * delta) + col("id")).as("doc_id"),
          (col("id") % 8).as("band"),
          xxhash64(col("id") + lit(b)).as("bh"))
        if (b == 0) graft.operators.SignatureStore.build(spark, sigs, s"$outBase/signature")
        else graft.operators.SignatureStore.append(spark, sigs, s"$outBase/signature",
          batchId = Some(b.toLong))
      },
      feed("vector_index") { b =>
        val vdelta = 2500
        val vecSf = s"$outBase/vecsf"
        def vecs = spark.range(vdelta).select(
          (lit(b.toLong * vdelta) + col("id")).as("vec_id"),
          transform(sequence(lit(0), lit(63)),
            d => sin((col("id") + lit(b * 31) + 1) * (d + 1)).cast("float")).as("embedding"),
          (col("id") % 10).cast("int").as("label"))
        vecs.write.mode(if (b == 0) "overwrite" else "append")
          .parquet(s"$vecSf/embeddings.parquet")
        if (b == 0) graft.operators.VectorIndex.buildIvfPq(spark, vecSf, s"$outBase/vecindex")
        else graft.operators.VectorIndex.appendIvfPq(spark, vecSf, s"$outBase/vecindex",
          minVecId = b.toLong * vdelta)
      }
    ).flatten
  }

  def main(args: Array[String]): Unit = {
    val corpus = args.headOption.getOrElse("/tmp/graft_gate10x")
    val queries = args.lift(1).map(_.split(",").toSeq).getOrElse(Seq(
      "q_dedup_minhash", "q_dedup_cluster_stats", "q_dedup_ngram",
      "q_dedup_embed", "q_dedup_incremental", "q_text_dup_ngrams",
      "q_graph_pagerank", "q_graph_components", "q_graph_triangles",
      "q_sim_ivfpq", "q_sim_ivfpq_rerank", "q_sim_ivfpq_residual",
      "q_text_packing", "q_join_star", "q_join_fuzzy",
      "q_window_frames", "q_window_dist", "q_agg_collect",
      "q_agg_approx_percentile", "q_text_perplexity5"))
    val heap = Runtime.getRuntime.maxMemory()
    // SPARK_GRAFT_PRESET=cluster-sane bundles the r15 pressure-ladder
    // findings into one switch (r15 verdict task 5 — previously the three
    // knobs lived only in PERF.md prose): shuffle partitions sized so
    // reduce-side state is rows/256 not rows/32, 16 MB Tungsten pages (the
    // default heuristic requests 1 GiB pages on small heaps), 16 MB input
    // splits (explode-heavy scans are ~10x bytes-out per byte-in). Any
    // individual SPARK_GRAFT_* env still overrides its preset value. This
    // is the 100 TB operator's STARTING config — see README "Deployment
    // profile".
    val clusterSane = sys.env.get("SPARK_GRAFT_PRESET").contains("cluster-sane")
    def dial(name: String, benchDefault: String, saneDefault: String): String =
      sys.env.getOrElse(name, if (clusterSane) saneDefault else benchDefault)
    // every dial's non-preset value is the bench session's own
    val cores = graft.Engine.cores.toString
    val spark = graft.Engine.createSession("graft-spill-probe",
      // SPARK_GRAFT_CPUS dials concurrency: heap ÷ threads = per-core
      // memory, the cluster-shape invariant a pressure ladder must be able
      // to hold fixed (6 GiB/32 threads is 0.19 GB/core — below any real
      // executor; 6 GiB/8 is a plausible tight one). The preset's 8 is why
      // this probe reads the variable itself instead of only Engine.cores
      s"local[${dial("SPARK_GRAFT_CPUS", cores, "8")}]",
      // SPARK_GRAFT_SHUFFLE overrides the bench default: per-task sort/agg
      // state is (rows / shuffle partitions)-bounded, so the partition
      // count is the standard cluster dial this probe must be able to turn
      // to show an operator's pressure behavior is knob-fixable rather
      // than plan-broken (the 100x dup_ngrams certification)
      "spark.sql.shuffle.partitions" -> dial("SPARK_GRAFT_SHUFFLE", cores, "256"),
      // SPARK_GRAFT_PAGESIZE caps the Tungsten page size: Spark's default
      // heuristic sizes pages off the pool and can request 1 GiB pages on
      // a small constrained heap (observed: the 100x dup_ngrams run at
      // 3 GiB died on a 1 GiB page allocation AFTER spilling correctly) —
      // a many-core/small-heap box needs the standard small-page knob
      "spark.buffer.pageSize" -> dial("SPARK_GRAFT_PAGESIZE", "64m", "16m"),
      // SPARK_GRAFT_MAXPART shrinks input splits: an expansion-heavy scan
      // (the gram explode is ~10x bytes-out per byte-in) turns one 128 MB
      // split into >1 GB of map-side shuffle records — at tight per-core
      // memory the split size is the standard dial that keeps the map
      // task's working set executor-sized (the brief's
      // files.maxPartitionBytes guidance, exercised)
      "spark.sql.files.maxPartitionBytes" ->
        dial("SPARK_GRAFT_MAXPART", "134217728", "16777216"),
      // SPARK_GRAFT_BROADCAST caps the auto-broadcast threshold: the bench
      // default (64 MB) assumes the 32 GiB bench heap — on a 2 GiB
      // executor a stats-estimated 64 MB relation is several x that as
      // built unsafe rows plus the driver-side collect, and the build dies
      // with "not enough memory to build and broadcast" (r18 certification
      // caught q_dedup_minhash's vocabulary join exactly this way). The
      // cluster-sane value follows the heap-proportional rule of thumb
      // (~heap/256): big-enough for genuine dims, never a meaningful
      // fraction of the executor
      "spark.sql.autoBroadcastJoinThreshold" ->
        dial("SPARK_GRAFT_BROADCAST", (64 * 1024 * 1024).toString, (8 * 1024 * 1024).toString))
    spark.sparkContext.setLogLevel("WARN")
    val listener = new SpillListener
    spark.sparkContext.addSparkListener(listener)
    if (corpus == "stores") {
      // store-sweep mode: SpillProbe stores [outBase] [store-subset]
      val outBase = args.lift(1).getOrElse("/tmp/graft_spillstores")
      val only = args.lift(2).map(_.split(",").toSet)
      println(s"""{"probe":"spill_stores","heap_bytes":$heap,"stores":[""")
      println(storeSweep(spark, listener, outBase, only).mkString(",\n"))
      println("]}")
      spark.stop()
      return
    }
    println(s"""{"probe":"spill","corpus":"$corpus","heap_bytes":$heap,"queries":[""")
    val lines = queries.map { q =>
      spark.catalog.clearCache()
      System.gc()
      listener.reset()
      val t0 = System.nanoTime()
      val outcome =
        try {
          graft.SparkEntry.queries(q)(spark, corpus)
            .write.format("noop").mode("overwrite").save()
          "completed"
        } catch {
          case e: Throwable =>
            val root = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
              .toSeq.last
            s"FAILED ${root.getClass.getSimpleName}: ${Option(root.getMessage)
                .getOrElse("").replace('"', ' ').takeWhile(_ != '\n').take(160)}"
        }
      val wall = (System.nanoTime() - t0) / 1e9
      settle(listener)
      val line =
        f"""{"query":"$q","outcome":"$outcome","wall_sec":$wall%.1f,""" +
          s""""mem_spilled_mb":${listener.memSpilled.get / 1024 / 1024},""" +
          s""""disk_spilled_mb":${listener.diskSpilled.get / 1024 / 1024},""" +
          s""""peak_task_exec_mb":${listener.peakExecMem.get / 1024 / 1024},""" +
          s""""tasks":${listener.tasksDone.get},"task_failures":${listener.tasksFailed.get}}"""
      System.err.println(s"[spillprobe] $line")
      line
    }
    println(lines.mkString(",\n"))
    println("]}")
    spark.stop()
  }
}
