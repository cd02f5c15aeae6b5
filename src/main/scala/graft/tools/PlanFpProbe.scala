package graft.tools

/** Dev probe: print Bench's plan fingerprint for named queries through
  * `Bench.planFingerprint`, the function the bench warmup pass records
  * (planProxy frame + AQEPropagateEmptyRelation exclusion — r17 verdict
  * task 2), so a signature seen here is the signature BENCH_PLANS.json
  * will carry. With no names it runs every declared query; a query that
  * throws prints a FAILED line and the sweep goes on. `RunOne <name>
  * <sfDir> 1 plan` prints a query's formatted plan.
  * Usage: sbt "runMain graft.tools.PlanFpProbe [sfDir] [q_a,q_b]"
  */
object PlanFpProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val names =
      if (args.length > 1) args(1).split(",").toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    val spark = graft.Engine.createSession("graft-plan-fp", graft.Engine.localMaster)
    spark.sparkContext.setLogLevel("WARN")
    val proxies = graft.SparkEntry.planProxies
    names.foreach { n =>
      spark.catalog.clearCache()
      val mode = if (proxies.contains(n)) "proxy" else "direct"
      try {
        val fp = graft.Bench.planFingerprint(spark, sfDir, n)
        println(s"[fpprobe] $n ($mode) ${fp.sig} spill=${fp.spillBytes}")
      } catch {
        case e: Exception => println(s"[fpprobe] $n ($mode) FAILED ${e.getClass.getSimpleName}")
      }
    }
    spark.stop()
  }
}
