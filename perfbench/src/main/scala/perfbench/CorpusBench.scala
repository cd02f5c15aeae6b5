package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry

/** The declared-query corpus that hunt's traced runs measure: a fixed list
  * of the program's declared queries (`SparkEntry.queries`), one per
  * mechanism group, over seeded tables ([[CorpusGen]]). Each query is built
  * with its declared function, then run with a `noop` write as the action,
  * one after another. Each group's query is its cheapest whose oracle does
  * not read fixture files. */
object CorpusBench {
  val Groups: Seq[(String, Seq[String])] = Seq(
    "iterative" -> Seq("q_graph_components"),
    "kernels" -> Seq("q_contamination"),
    "reuse" -> Seq("q_text_bm25"),
    "relational" -> Seq("q_events_json_presto"))
  val Queries: Seq[String] = Groups.flatMap(_._2)
  /** Passes after the answers pass before the measured one: with fewer, the
    * measured pass was still 25-44% slower than a later one. */
  val WarmPasses = 2
  def group(q: String): String = Groups.collectFirst { case (g, qs) if qs.contains(q) => g }.get

  /** One execution of one query. `constructS` is the declared function (jobs
    * it fires before the action run here), `actionS` the `noop` write. */
  final case class Run(query: String, constructS: Double, actionS: Double, error: Option[String]) {
    def totalS: Double = constructS + actionS
  }

  private def noop(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  /** What a traced pass watches: the scheduler listener whose job spans get
    * the query's phase spans as parents, and the execution listener. */
  final case class Watch(stats: SparkStats, execs: ExecWatch)

  /** Runs query `q`; `tag` names this execution in job properties. With a
    * watch, each phase's listener events are delivered before the next phase
    * starts, so the execution listener attributes every plan to its phase. */
  def runOne(spark: SparkSession, q: String, tag: String, dir: String, tracer: Tracer,
      watch: Option[Watch] = None, action: DataFrame => Unit = noop): Run =
    tracer.span(0L, "corpus.query", tag) { qid =>
      val sc = spark.sparkContext
      def phase[A](name: String)(body: => A): A = tracer.span(qid, s"corpus.$name", tag) { id =>
        val key = s"$tag/$name"
        sc.setLocalProperty("perfbench.span", key)
        watch.foreach { w => w.stats.parents.put(key, id); w.execs.phase = name }
        try body finally watch.foreach(_ => Listeners.drain(spark))
      }
      val t0 = System.nanoTime()
      try {
        val df = phase("construct")(SparkEntry.queries(q)(spark, dir))
        val t1 = System.nanoTime()
        phase("execute")(action(df))
        Run(q, (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9, None)
      } catch {
        case e: Exception =>
          Run(q, (System.nanoTime() - t0) / 1e9, 0, Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
      } finally sc.setLocalProperty("perfbench.span", null)
    }

  /** One pass over the list, each query once; `pass` tags its executions. */
  def pass(spark: SparkSession, dir: String, pass: String, tracer: Tracer,
      watch: Option[Watch] = None): Vector[Run] =
    Queries.map(q => runOne(spark, q, s"$q#$pass", dir, tracer, watch)).toVector

  /** One pass, the queries side by side, that writes each query's answer
    * under `<out>/<query>`, and the oracle SQL of each to
    * `<out>/oracle_sql.json`; `perfbench/oracle.py` compares them with DuckDB
    * after the JVM exits. */
  def writeAnswers(spark: SparkSession, dir: String, out: Path, watch: Option[Watch]): Vector[Run] = {
    val runs = Main.concurrently(Queries) { q =>
      runOne(spark, q, s"$q#answer", dir, new Tracer(false), watch, _.write.parquet(out.resolve(q).toString))
    }.toVector
    val oracles = SparkEntry.oracleSql
    Files.write(out.resolve("oracle_sql.json"),
      Json.obj(Queries.flatMap(q => oracles.get(q).map(q -> _)): _*).text.getBytes("UTF-8"))
    runs
  }

  /** Per query execution (the action, and every action a query's function
    * runs while it builds the frame): its phase, scans, exchanges and
    * planning. A query that fails shows as its `Run`'s error. */
  final case class Exec(phase: String, scanBytes: Long, exchanges: Int, reused: Int,
      phasesMs: Map[String, Double], fallbacks: Int, wscg: Int) {
    def planMs: Double = phasesMs.values.sum
  }
  final class ExecWatch extends QueryExecutionListener {
    /** The phase of the query running now: every event of a phase is
      * delivered before the next phase starts. */
    @volatile var phase = ""
    private val execs = new java.util.concurrent.ConcurrentLinkedQueue[Exec]()
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val plan = qe.executedPlan
      val nodes = Plans.nodes(plan)
      execs.add(Exec(phase, Plans.scan(plan).bytes,
        nodes.count(_.isInstanceOf[ShuffleExchangeLike]), nodes.count(_.isInstanceOf[ReusedExchangeExec]),
        qe.tracker.phases.map { case (k, v) => k -> (v.endTimeMs - v.startTimeMs).toDouble },
        Plans.codegenFallbacks(plan), Plans.wscgSubtrees(plan)))
    }
    def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    def all: Vector[Exec] = scala.jdk.CollectionConverters.IterableHasAsScala(execs).asScala.toVector
  }

  /** Jobs by query and phase, from the `perfbench.span` job property. */
  final class JobWatch extends SparkListener {
    private val counts = new java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Long]()
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.span"))).foreach { key =>
        val q = key.takeWhile(_ != '#')
        val phase = key.substring(key.lastIndexOf('/') + 1)
        counts.merge((q, phase), 1L, (a, b) => a + b)
      }
    def jobs(pred: (String, String) => Boolean): Long =
      scala.jdk.CollectionConverters.MapHasAsScala(counts).asScala.collect { case ((q, p), n) if pred(q, p) => n.longValue }.sum
  }

  /** A pass runs each query once: the queries' times summed, their
    * geometric mean, and each group's sum. */
  def metrics(runs: Seq[Run]): Map[String, Double] = {
    val ok = runs.filter(_.error.isEmpty)
    val t = ok.map(r => r.query -> r.totalS).toMap
    Map(
      "corpus.total_s" -> t.values.sum,
      "corpus.geomean_s" -> math.exp(t.values.map(math.log).sum / math.max(1, t.size))) ++
      Groups.map { case (g, qs) => s"corpus.${g}_s" -> qs.flatMap(t.get).sum }
  }
}
