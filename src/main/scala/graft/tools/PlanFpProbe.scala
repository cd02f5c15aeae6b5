package graft.tools

/** Dev probe: print Bench's plan fingerprint for named queries, applying the
  * same planProxy discipline as the bench warmup pass (proxy frame +
  * AQEPropagateEmptyRelation exclusion — r17 verdict task 2), so a
  * signature seen here is the signature BENCH_PLANS.json will carry. With
  * no names it runs every declared query; a query that throws prints a
  * FAILED line and the sweep goes on. `RunOne <name> <sfDir> 1 plan` prints
  * a query's formatted plan.
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
    val emptyRule = "org.apache.spark.sql.execution.adaptive.AQEPropagateEmptyRelation"
    names.foreach { n =>
      spark.catalog.clearCache()
      val (fn, mode) = proxies.get(n) match {
        case Some(p) => (p, "proxy")
        case None    => (graft.SparkEntry.queries(n), "direct")
      }
      if (mode == "proxy")
        spark.conf.set("spark.sql.adaptive.optimizer.excludedRules", emptyRule)
      try {
        val qe = fn(spark, sfDir).queryExecution
        qe.executedPlan.execute().count()
        val fp = graft.Bench.fingerprintOf(qe.executedPlan)
        println(s"[fpprobe] $n ($mode) ${fp.sig} spill=${fp.spillBytes}")
      } catch {
        case e: Exception => println(s"[fpprobe] $n ($mode) FAILED ${e.getClass.getSimpleName}")
      } finally if (mode == "proxy")
        spark.conf.unset("spark.sql.adaptive.optimizer.excludedRules")
    }
    spark.stop()
  }
}
