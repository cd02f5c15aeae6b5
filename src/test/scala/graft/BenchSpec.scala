package graft

import org.scalatest.funsuite.AnyFunSuite

/** Guard the guard (r16 verdict task 6): `plan_regressed` had only ever been
  * EMPTY in the artifacts, so nothing proved the flag CAN fire. This spec
  * injects a real regression — the same query planned with its broadcast
  * (the committed shape) and then degraded to a sort-merge join (the classic
  * silent regression: a dropped hint, a threshold change) — through the
  * exact fingerprint + diff functions Bench runs, and asserts both the
  * exchange-growth branch and the new-spill branch fire, then clear when
  * reverted. */
class BenchSpec extends AnyFunSuite with SparkSuite {

  override def beforeAll(): Unit = {
    super.beforeAll()
    // AQE off: the test pins exact plan shapes (broadcast vs hinted SMJ);
    // Bench's production path runs WITH AQE and fingerprintOf unwraps the
    // adaptive nodes — that leg is exercised by every BENCH_PLANS.json row
    spark.conf.set("spark.sql.adaptive.enabled", "false")
  }

  test("plan_regressed fires on a broadcast->SMJ regression and on new same-sf spill, then clears") {
    import org.apache.spark.sql.functions._
    val a = spark.range(0, 10000L).toDF("id")
    val b = spark.range(0, 100L).toDF("id")
    def fpOf(df: org.apache.spark.sql.DataFrame): Bench.PlanFp = {
      val qe = df.queryExecution
      qe.executedPlan.execute().count()
      Bench.fingerprintOf(qe.executedPlan)
    }
    val fpBroadcast = fpOf(a.join(broadcast(b), "id"))
    val fpSmj = fpOf(a.join(b.hint("merge"), "id"))
    assert(fpBroadcast.bhj == 1 && fpBroadcast.exchanges == 0 && fpBroadcast.sorts == 0,
      s"broadcast shape expected, got ${fpBroadcast.sig}")
    assert(fpSmj.smj == 1 && fpSmj.exchanges >= 2 && fpSmj.sorts >= 2,
      s"sort-merge shape expected, got ${fpSmj.sig}")
    // the committed artifact recorded the broadcast shape; this round's
    // tree lost the broadcast -> MUST land in plan_regressed
    val prev = Map("q_probe" -> (fpBroadcast.exchanges, fpBroadcast.sorts))
    assert(Bench.planRegressed(Map("q_probe" -> fpSmj), prev, Set.empty, prevSameSf = true)
      == Seq("q_probe"), "exchange/sort growth must flag")
    // reverted (same shape as committed) -> clears
    assert(Bench.planRegressed(Map("q_probe" -> fpBroadcast), prev, Set.empty, true).isEmpty)
    // NEW spill at the SAME corpus flags even with an unchanged plan tree;
    // at a different corpus it must not (bigger corpora legitimately spill)
    val spilled = fpBroadcast.copy(spillBytes = 1L << 20)
    assert(Bench.planRegressed(Map("q_probe" -> spilled), prev, Set.empty, true)
      == Seq("q_probe"), "new same-sf spill must flag")
    assert(Bench.planRegressed(Map("q_probe" -> spilled), prev, Set.empty, false).isEmpty,
      "cross-sf spill must not flag")
    assert(Bench.planRegressed(Map("q_probe" -> spilled), prev, Set("q_probe"), true).isEmpty,
      "a query that already spilled last round is not NEW spill")
    // a query with no committed baseline never flags (first appearance)
    assert(Bench.planRegressed(Map("q_new" -> fpSmj), prev, Set.empty, true).isEmpty)
    // spill accounting is byte-typed only (r16 ADVICE): a healthy in-memory
    // join reports zero even though its nodes expose count/time-valued
    // spill metrics alongside the SIZE-typed ones
    assert(fpSmj.spillBytes == 0 && fpBroadcast.spillBytes == 0)
  }

  test("planProxy fingerprints: every previously-blind row carries a non-zero " +
      "distributed signature, and an injected regression inside the pagerank " +
      "loop flips plan_regressed (r17 task 2)") {
    val sf = "/root/testdata/sf0.001"
    val proxies = SparkEntry.planProxies
    val proxied = Seq("q_graph_pagerank", "q_graph_components", "q_graph_triangles",
      "q_agg_heavy_hitters", "q_privacy_kanon", "q_privacy_ldiversity", "q_text_redact")
    assert(proxied.forall(proxies.contains),
      s"missing planProxy entries: ${proxied.filterNot(proxies.contains)}")
    def proxyFp(name: String): Bench.PlanFp = {
      // exactly the Bench warmup pass: proxy frame, empty-propagation
      // excluded, fingerprint the executed plan
      spark.catalog.clearCache()
      Bench.planFingerprint(spark, sf, name)
    }
    val fps = proxied.map(n => n -> proxyFp(n)).toMap
    fps.foreach { case (n, fp) =>
      assert(fp.exchanges + fp.sorts + fp.broadcasts + fp.bhj + fp.smj +
        fp.shj + fp.nestedLoop + fp.topk > 0, s"$n still fingerprints all-zero: ${fp.sig}")
    }
    // the two TakeOrderedAndProject rows are covered by the new t counter,
    // not a proxy: the single-node top-k IS the wanted shape, and a
    // regression to Sort+Exchange now shows as s/x growth
    Seq("q_sort_topk", "q_pipeline_readme1").foreach { n =>
      spark.catalog.clearCache()
      val qe = SparkEntry.queries(n)(spark, sf).queryExecution
      qe.executedPlan.execute().count()
      val fp = Bench.fingerprintOf(qe.executedPlan)
      assert(fp.topk > 0, s"$n: expected a t>0 top-k signature, got ${fp.sig}")
    }
    // injected regression INSIDE the pagerank loop: kill the per-round
    // stats-estimated broadcasts (threshold -1) so the contribution joins
    // degrade to shuffle joins — exchanges grow, the diff must flag
    val healthy = fps("q_graph_pagerank")
    assert(healthy.exchanges > 0, s"healthy pagerank proxy lost its exchanges: ${healthy.sig}")
    val saved = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val degraded =
      try proxyFp("q_graph_pagerank")
      finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", saved)
    // the co-partitioned cached adjacency absorbs some exchange growth, so
    // the degradation may surface as sort growth (each SMJ side sorts)
    // rather than exchange growth — planRegressed watches BOTH
    assert(degraded.exchanges > healthy.exchanges || degraded.sorts > healthy.sorts,
      s"injected regression grew neither exchanges nor sorts: ${healthy.sig} -> ${degraded.sig}")
    assert(degraded.smj > healthy.smj && degraded.bhj < healthy.bhj,
      s"expected broadcast->SMJ degradation: ${healthy.sig} -> ${degraded.sig}")
    assert(Bench.planRegressed(
      Map("q_graph_pagerank" -> degraded),
      Map("q_graph_pagerank" -> (healthy.exchanges, healthy.sorts)),
      Set.empty, prevSameSf = true) == Seq("q_graph_pagerank"),
      "a regression inside the pagerank loop must flip plan_regressed")
  }

  test("isolation promotion unions the committed artifact with the driver lineage (r16 task 5)") {
    import java.nio.file.Files
    val dir = Files.createTempDirectory("graft_bench_prior").toFile
    // committed compact artifact: one slow median, one fast, one promotion
    Files.writeString(dir.toPath.resolve("BENCH.json"),
      """{"metric":"total","queries":{"q_a":3.50,"q_b":0.50},""" +
        """"queries_isolated":{"q_a":3.1},"isolate_next_run":["q_c"]}""")
    // driver artifacts are PRETTY-PRINTED wrappers; the newest (r3) must
    // win over an older one (r2) whose promotion list must NOT leak in
    Files.writeString(dir.toPath.resolve("BENCH_r2.json"),
      "{\n \"parsed\": {\n  \"queries\": {},\n  \"isolate_next_run\": [\n   \"q_stale\"\n  ]\n }\n}")
    Files.writeString(dir.toPath.resolve("BENCH_r3.json"),
      "{\n \"parsed\": {\n  \"queries\": {\n   \"q_d\": 2.75,\n   \"q_b\": 0.40\n  },\n" +
        "  \"isolate_next_run\": [\n   \"q_e\",\n   \"q_f\"\n  ]\n }\n}")
    val got = Bench.isolationCandidates(dir)
    assert(got == Seq("q_a", "q_c", "q_d", "q_e", "q_f"),
      s"expected the union of both lineages minus sub-threshold medians, got $got")
    // and on the REAL repo artifacts: every name the last driver round
    // asked to promote must be in this round's quiet pre-suite set — the
    // exact propagation r16 caught broken
    val repo = new java.io.File(".")
    val re = """BENCH_r(\d+)\.json""".r
    val latest = Option(repo.listFiles()).toSeq.flatten.flatMap(f => f.getName match {
      case re(n) => Some((n.toInt, f.toPath)); case _ => None
    }).sortBy(-_._1).headOption
    latest.foreach { case (_, p) =>
      val txt = Files.readString(p)
      val nextSection = """"isolate_next_run"\s*:\s*\[([^\]]*)\]""".r
        .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
      val promoted = """"(q_[a-z0-9_]+)"""".r.findAllMatchIn(nextSection)
        .map(_.group(1)).toSet
      val candidates = Bench.isolationCandidates(repo).toSet
      assert(promoted.subsetOf(candidates),
        s"driver-promoted names missing from the quiet set: ${promoted -- candidates}")
    }
  }
}
