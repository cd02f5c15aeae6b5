package perfbench

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark: SparkSession = graft.Engine.createSession("perfbench-spec", "local[2]")
  override def afterAll(): Unit = spark.stop()

  test("executed-plan walks see through adaptive stages") {
    val df = spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count()
    assert(df.collect().length == 7)
    val plan = df.queryExecution.executedPlan
    assert(Plans.nodes(plan).exists(_.isInstanceOf[org.apache.spark.sql.execution.exchange.Exchange]))
    assert(Plans.wscgSubtrees(plan) >= 1)
    assert(Plans.codegenFallbacks(plan) == 0)
  }

  test("tracker phases cover analysis, optimization and planning") {
    val df = spark.sql("SELECT 1 AS x")
    df.collect()
    val phases = df.queryExecution.tracker.phases
    Seq("analysis", "optimization", "planning").foreach(p => assert(phases.contains(p), p))
  }

  test("scan counters read the files and partitions a pruned scan selected") {
    val dir = Files.createTempDirectory("perfbench-scan").resolve("t").toString
    spark.range(100).selectExpr("id", "CAST(id % 4 AS STRING) AS p").write.partitionBy("p").parquet(dir)
    val df = spark.read.parquet(dir).where("p = '1'")
    assert(df.collect().length == 25)
    val scan = Plans.scan(df.queryExecution.executedPlan)
    assert(scan.partitions == 1 && scan.files >= 1 && scan.bytes > 0 && scan.rows == 25)
  }

  test("self time subtracts the union of child intervals") {
    val spans = Seq(
      Span(1, 0, "q", "k", 0, 100), Span(2, 1, "a", "k", 10, 40),
      Span(3, 1, "b", "k", 30, 60), Span(4, 1, "c", "k", 90, 120))
    assert(Tracer.selfUs(spans) == Map("q" -> 40L, "a" -> 30L, "b" -> 30L, "c" -> 30L))
  }

  test("tail percentile keeps ten samples beyond it") {
    assert(Stats.tailPct(10) == 50.0)
    assert(Stats.tailPct(45) == 75.0)
    assert(Stats.tailPct(250) == 95.0)
    assert(Stats.tailPct(1000) == 99.0)
  }

  test("the same seed gives byte-identical landing files; other seeds keep the shares") {
    // a 60 s run's inputs, about 630 files: enough that a 3% share is
    // estimated to within about 0.7%
    def files(seed: Long) = IngestBench.generate(seed, 60).all
    val a = files(7); val b = files(7)
    assert(a.map(_.name) == b.map(_.name))
    assert(a.zip(b).forall { case (x, y) => java.util.Arrays.equals(x.bytes, y.bytes) })
    Seq(7L, 8L, 9L).map(files).foreach { fs =>
      val share = (p: GenFile => Boolean) => fs.count(p).toDouble / fs.size
      assert(share(_.replayOf >= 0) > 0.01 && share(_.replayOf >= 0) < 0.06)
      assert(share(_.recovery) > 0.02 && share(_.recovery) < 0.12)
      assert(share(_.name.endsWith(".gz")) > 0.3 && share(_.name.endsWith(".gz")) < 0.6)
      val recs = fs.flatMap(_.records)
      assert(recs.count(_.poison).toDouble / recs.size < 0.02)
      assert(recs.map(_.family).distinct.size == 6)
    }
  }

  test("the corpus queries are declared, each with oracle SQL, and their tables repeat for a seed") {
    CorpusBench.Queries.foreach { q =>
      assert(graft.SparkEntry.queries.contains(q), q)
      assert(graft.SparkEntry.oracleSql.contains(q), q)
    }
    assert(CorpusBench.Groups.map(_._1) == Seq("iterative", "kernels", "reuse", "relational"))
    def rows(seed: Long) = CorpusGen.tables(seed).map { case (n, _, rs) => n -> rs }
    assert(rows(5) == rows(5))
    assert(rows(5) != rows(6))
  }

  test("the pipeline gives every generated family the answers its truth predicts") {
    val g = new Gen(3)
    val sec = Hunt.BaseSec + 7200
    Seq(g.cloudtrail(sec), g.cloudfront(sec), g.vpcflow(sec), g.syslog(sec), g.gsuite(sec)).foreach { r =>
      val name = if (r.truth.family == "cloudtrail") "1_CloudTrail_x.json.gz" else "x.json"
      val ev = Hunt.ingestObject(name, r.json, 2).head
      val details = graft.json.Json.parse(ev.details).asInstanceOf[graft.json.JObject]
      assert(ev.source == r.truth.source, r.truth.family)
      assert(ev.utctimestamp.startsWith(Gen.isoZ.format(java.time.Instant.ofEpochSecond(sec)).dropRight(1)), r.truth.family)
      assert(ev.category == Hunt.category(r.truth))
      val ips = details.get("_ipaddresses").collect { case graft.json.JArray(xs) => xs.map(graft.json.JsonOps.pyStr) }
      assert(ips.getOrElse(Vector.empty).toSet == r.truth.ips.toSet, r.truth.family)
      assert(ev.plugins.contains("normalization_gsuite_login") == r.truth.hasKind)
    }
    assertThrows[Exception](graft.pipeline.Pipeline.process(
      graft.json.Json.parse(g.poison(sec).json).asInstanceOf[graft.json.JObject]))
  }
}
