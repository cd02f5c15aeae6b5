package graft.tools

import java.util.concurrent.{Executors, TimeUnit}
import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Multi-tenant concurrency probe — the measurement axis the per-query
  * bench cannot see: a 1000-executor cluster never runs ONE query at a
  * time, so a plan that is fast alone but serializes on shared driver
  * state (catalog locks, a hot cache, a driver-side collect) taxes every
  * co-tenant. This probe runs a fixed cross-family query set twice per
  * scheduler mode: serial (the bench's shape) and K-way concurrent from
  * a thread pool against ONE SparkSession (Spark's documented
  * multi-tenancy model — jobs from concurrent threads interleave at
  * stage granularity). `spark.scheduler.mode` is a session-startup
  * config, so FIFO and FAIR each get their own session, each with its
  * own warmup and serial control.
  *
  * What good looks like: concurrent wall well under the serial total
  * (idle-core recovery — many cores rarely saturate on one small query),
  * with per-query inflation bounded (no query's wall explodes because a
  * co-tenant holds the driver). A query whose concurrent wall balloons
  * past the suite total is the local signature of a driver bottleneck —
  * exactly what SURVEY §2's "no collect/driver-side loops" rule exists
  * to prevent.
  *
  * Run: sbt 'runMain graft.tools.ConcurrencyProbe [sfDir] [K]'
  */
object ConcurrencyProbe {

  /** Cross-family medium-cost set: every major operator class, none of
    * the multi-second head (the probe measures SCHEDULING, not the head
    * queries' own cost — a 6 s minhash would drown the interleaving
    * signal in its own construct time). */
  private val Set12 = Seq(
    "q_agg_group", "q_join_star", "q_window_frames", "q_agg_histogram",
    "q_text_bm25", "q_dedup_ngram", "q_sim_ivf_trained", "q_events_markov",
    "q_text_topics", "q_join_fuzzy", "q_text_perplexity3", "q_graph_triangles")

  private def runOne(spark: SparkSession, sfDir: String, name: String): Double = {
    val t0 = System.nanoTime()
    graft.SparkEntry.queries(name)(spark, sfDir)
      .write.format("noop").mode("overwrite").save()
    (System.nanoTime() - t0) / 1e9
  }

  private def session(mode: String): SparkSession = {
    val s = graft.Engine.createSession("graft-concurrency-probe", graft.Engine.localMaster,
      "spark.scheduler.mode" -> mode)
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  /** (serial_total, serial_per, concurrent_total, concurrent_per[, writer
    * batches applied during the concurrent phase]). With `writerDir` set
    * (r15 verdict task 8 — concurrency × stores), a MAINTENANCE-WRITER
    * tenant runs a SignatureStore micro-batch append loop on the same
    * session for the whole concurrent phase: the question is whether a
    * live store writer (driver-side cursor reads, FileSystem renames,
    * per-bucket compactions) inflates co-tenant QUERY latency beyond the
    * pure query-vs-query number. */
  private def phases(mode: String, sfDir: String, k: Int,
      writerDir: Option[String] = None)
      : (Double, Map[String, Double], Double, Map[String, Double], Int) = {
    val spark = session(mode)
    try {
      // JIT/scan warmup, untimed (the bench's discipline — without it the
      // first phase pays all codegen compilation and the compare is noise)
      Set12.foreach(runOne(spark, sfDir, _))

      val serialPer = mutable.LinkedHashMap[String, Double]()
      val t0 = System.nanoTime()
      Set12.foreach(n => serialPer(n) = runOne(spark, sfDir, n))
      val serialTotal = (System.nanoTime() - t0) / 1e9

      val pool = Executors.newFixedThreadPool(k)
      val per = new java.util.concurrent.ConcurrentHashMap[String, Double]()
      // optional mixed tenant: constant-delta signature micro-batches from
      // a dedicated thread, started with the pool, stopped when it drains
      @volatile var writerStop = false
      val writerBatches = new java.util.concurrent.atomic.AtomicInteger(0)
      val writer = writerDir.map { wd =>
        import org.apache.spark.sql.functions.{col, concat, lit, xxhash64}
        def sigs(b: Int) = spark.range(2000).select(
          (lit(b.toLong * 2000) + col("id")).as("doc_id"),
          (col("id") % 8).as("band"),
          xxhash64(concat(lit(b.toString), col("id"))).as("bh"))
        graft.operators.SignatureStore.build(spark, sigs(0), wd)
        val th = new Thread(() => {
          var b = 1
          while (!writerStop) {
            try {
              graft.operators.SignatureStore.append(spark, sigs(b), wd,
                batchId = Some(b.toLong))
              writerBatches.incrementAndGet()
            } catch {
              case e: Throwable =>
                System.err.println(s"[concprobe] writer tenant FAILED: ${e.getMessage}")
                writerStop = true
            }
            b += 1
          }
        }, "graft-writer-tenant")
        th.setDaemon(true)
        th
      }
      val t1 = System.nanoTime()
      writer.foreach(_.start())
      Set12.foreach { n =>
        pool.submit(new Runnable {
          override def run(): Unit =
            // a swallowed exception would leave `per` missing this key and
            // crash the report AFTER all the work (r15 review finding) —
            // record the failure as NaN and say so
            try per.put(n, runOne(spark, sfDir, n))
            catch {
              case e: Throwable =>
                System.err.println(s"[concprobe] $n FAILED: ${e.getMessage}")
                per.put(n, Double.NaN)
            }
        })
      }
      pool.shutdown()
      if (!pool.awaitTermination(30, TimeUnit.MINUTES)) {
        pool.shutdownNow()
        System.err.println("[concprobe] concurrent phase TIMED OUT at 30 min")
      }
      val concTotal = (System.nanoTime() - t1) / 1e9
      writerStop = true
      writer.foreach(_.join(120000))
      import scala.jdk.CollectionConverters._
      val concPer = Set12.map(n =>
        n -> per.asScala.getOrElse(n, Double.NaN)).toMap
      (serialTotal, serialPer.toMap, concTotal, concPer, writerBatches.get())
    } finally spark.stop()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val k = args.lift(1).map(_.toInt).getOrElse(4)
    val mixed = args.contains("mixed")

    def med(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    def fmtPer(per: Map[String, Double]): String =
      Set12.map(n => s""""$n":${f"${per(n)}%.2f"}""").mkString("{", ",", "}")

    def block(label: String, mode: String, writerDir: Option[String]): String = {
      val (sTot, sPer, cTot, cPer, wb) = phases(mode, sfDir, k, writerDir)
      val inf = Set12.map(n => n -> (cPer(n) / sPer(n))).sortBy(-_._2)
      f""""$label":{"serial_total_sec":$sTot%.2f,""" +
        f""""concurrent_total_sec":$cTot%.2f,"speedup":${sTot / cTot}%.2f,""" +
        f""""inflation_median":${med(inf.map(_._2))}%.2f,""" +
        f""""inflation_max":"${inf.head._1}:${inf.head._2}%.2f",""" +
        (if (writerDir.isDefined) s""""writer_batches_applied":$wb,""" else "") +
        s""""serial_per":${fmtPer(sPer)},"concurrent_per":${fmtPer(cPer)}}"""
    }

    if (mixed) {
      // r15 verdict task 8: the K-way FIFO run twice — pure queries, then
      // the same queries sharing the session with a LIVE store-maintenance
      // writer tenant. The diff of the two inflation tables is the
      // writer's latency tax on co-tenant queries.
      val wd = java.nio.file.Files.createTempDirectory("graft_concwriter").toString
      println(
        s"""{"probe":"concurrency_mixed","k":$k,"sf":"$sfDir","n_queries":${Set12.size},""" +
          block("fifo_plain", "FIFO", None) + "," +
          block("fifo_with_writer", "FIFO", Some(s"$wd/signature")) + "}")
      return
    }

    val out = Seq("FIFO", "FAIR").map { mode =>
      block(mode.toLowerCase, mode, None)
    }
    println(
      s"""{"probe":"concurrency","k":$k,"sf":"$sfDir","n_queries":${Set12.size},""" +
        out.mkString(",") + "}")
  }
}
