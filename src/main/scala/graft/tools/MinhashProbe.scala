package graft.tools

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** r19 optimization-round phase probe for `q_dedup_minhash` (guide §1:
  * measure BEFORE changing — VERDICT r18 #5 asks for the signature-build vs
  * band-join vs merge-walk-verify split, and #8 for job-count evidence on
  * the lazy-localCheckpoint claim). Each phase ends in a noop write; the
  * caches mirror the declared query's so attribution matches what the bench
  * times. Usage: sbt "runMain graft.tools.MinhashProbe [sfDir] [passes]"
  */
object MinhashProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val passes = if (args.length > 1) args(1).toInt else 3
    val spark = graft.Engine.createSession("graft-minhash-probe", graft.Engine.localMaster)
    spark.sparkContext.setLogLevel("WARN")
    import graft.queries.DedupQueries._

    def time(name: String)(mk: => DataFrame): Unit =
      (1 to passes).foreach { i =>
        spark.catalog.clearCache()
        val t0 = System.nanoTime()
        mk.write.format("noop").mode("overwrite").save()
        println(f"[mhprobe] $name pass $i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
      }

    val d = sfDir
    // P0: scan + tokenize + distinct word sets (narrow)
    time("p0_wordsets")(docWordSets(spark, d))
    // P1: + minhash signature + band hashes (narrow kernel work on top of P0)
    time("p1_sig_bands")(docWordSets(spark, d).select(
      col("doc_id"), bandHashes(minhashSig(col("ws"), 32), 8, 4).as("bhs")))
    // P2: the sparse bit numbering ALONE (vocab explode + distinct + window
    // rank + numbering join + collect_list — the leg SpillProbe flagged)
    time("p2_packbits")(packSparseBits(docWordSets(spark, d), "ws"))
    // P3: the banded table as q_dedup_minhash builds it (word->bit-id
    // numbering join via packSparseBits)
    time("p3_banded_numbering") {
      val docs = docWordSets(spark, d).cache()
      bandedSparse(docs, "ws", 32, 8, 4)
    }
    // P3b: the numbering-free SORTED-STRING banded table — cheaper to
    // BUILD, but its string merge-walk verify regressed the dense
    // word-level graph 4.5x (kept on the sparse bigram path only; see
    // bandedSparseSorted)
    time("p3b_banded_str") {
      val docs = docWordSets(spark, d).cache()
      bandedSparseSorted(docs, "ws", 32, 8, 4)
    }
    // P4: band self-join + merge-walk verify + distinct (the full verified
    // pair list, banded cached as in the declared query)
    time("p4_verified") {
      val docs = docWordSets(spark, d).cache()
      val banded = bandedSparse(docs, "ws", 32, 8, 4).cache()
      verifiedPairsSparse(banded, lit(0.9))
    }
    // P5: the declared query end to end (reference point)
    time("p5_full")(graft.SparkEntry.queries("q_dedup_minhash")(spark, d))

    // --- VERDICT #8: job/stage counts for the Closure checkpoint mode ---
    // edges materialized once OUTSIDE the timed/counted region so the
    // listener sees only Closure's own jobs
    val docs = docWordSets(spark, d).cache()
    val banded = bandedSparse(docs, "ws", 32, 8, 4).cache()
    val verified = verifiedPairsSparse(banded, lit(0.9))
      .select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val sym = verified
      .union(verified.select(col("dst").as("src"), col("src").as("dst")))
      .cache()
    sym.count()
    val nodes = docs.select(col("doc_id").as("id")).cache()
    nodes.count()
    for (eager <- Seq(false, true); i <- 1 to passes) {
      val jobs = new AtomicInteger
      val stages = new AtomicInteger
      val l = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit = {
          jobs.incrementAndGet(); stages.addAndGet(j.stageInfos.size)
        }
      }
      spark.sparkContext.addSparkListener(l)
      val t0 = System.nanoTime()
      graft.operators.Closure.minLabel(nodes, sym, rounds = 6, eagerCheckpoints = eager)
        .write.format("noop").mode("overwrite").save()
      val dt = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let the listener bus drain before reading counts
      spark.sparkContext.removeSparkListener(l)
      println(f"[mhprobe] closure eager=$eager pass $i: $dt%.3f s " +
        s"jobs=${jobs.get} stages=${stages.get}")
    }
    spark.stop()
  }
}
