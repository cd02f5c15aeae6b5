package graft

/** Dev harness: run ONE declared query by name, time N passes, optionally
  * dump the formatted plan. Usage:
  *   sbt "runMain graft.RunOne q_dedup_ngram /root/testdata/sf0.01 3 plan"
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.01"
    val runs = if (args.length > 2) args(2).toInt else 1
    val showPlan = args.contains("plan")
    val spark = Engine.createSession("graft-runone", Engine.localMaster)
    spark.sparkContext.setLogLevel("WARN")
    // comma-separated names run sequentially in ONE JVM — the shape needed
    // to reproduce bench cross-talk (query B timed after query A has warmed
    // codegen caches / ImageIO state / GC pressure in the same process);
    // with "settle", each query starts from an explicitly settled heap
    // (the mode Bench's fresh-JVM isolation phase drives)
    val settle = args.contains("settle")
    // each query's passes run under their own try/catch: one crashing query
    // must cost exactly its own isolation number, never abort the batch and
    // null out every later query's column (r9 ADVICE)
    name.split(",").foreach { qn =>
      try {
        val fn = SparkEntry.queries(qn)
        if (showPlan) fn(spark, sfDir).explain("formatted")
        if (settle) { System.gc(); Thread.sleep(500) }
        (1 to runs).foreach { i =>
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          val df = fn(spark, sfDir)
          val tc = System.nanoTime()
          df.write.format("noop").mode("overwrite").save()
          println(f"[runone] $qn pass $i: ${(System.nanoTime() - t0) / 1e9}%.3f s " +
            f"(construct ${(tc - t0) / 1e9}%.3f, execute ${(System.nanoTime() - tc) / 1e9}%.3f)")
        }
      } catch {
        case e: Throwable =>
          System.err.println(s"[runone] $qn FAILED: $e")
      }
    }
    spark.stop()
  }
}
