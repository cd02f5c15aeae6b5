package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan, WholeStageCodegenExec}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec

/** A closed interval of one layer's work. `key` groups the spans of one query,
  * file or micro-batch; `parent` is the id of the span that caused it (0 = root). */
final case class Span(id: Long, parent: Long, name: String, key: String, startUs: Long, endUs: Long) {
  def durUs: Long = endUs - startUs
}

/** Spans, held in memory and written out when the run ends. Disabled
  * tracers record nothing, so untraced runs pay only a branch. */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()

  def nextId(): Long = ids.incrementAndGet()

  def add(parent: Long, name: String, key: String, startUs: Long, endUs: Long): Long =
    if (!enabled) 0L
    else { val id = nextId(); spans.add(Span(id, parent, name, key, startUs, endUs)); id }

  /** Times `body` as a span; the body receives the span's id for its children. */
  def span[A](parent: Long, name: String, key: String)(body: Long => A): A =
    if (!enabled) body(0L)
    else {
      val id = nextId()
      val t0 = Clock.nowUs()
      try body(id) finally spans.add(Span(id, parent, name, key, t0, Clock.nowUs()))
    }

  /** Moves the job spans of `key` under `parent` (known only after the jobs ran). */
  def reparentJobs(key: String, parent: Long): Unit =
    all.filter(s => s.name == "spark.job" && s.key == key).foreach { s =>
      spans.remove(s); spans.add(s.copy(parent = parent))
    }

  def all: Vector[Span] = spans.asScala.toVector

  /** Self time per span name: each span's duration minus the part of it its
    * children cover, summed over the run (µs). */
  def selfUs(): Map[String, Long] = Tracer.selfUs(all)

  def writeJsonl(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try all.sortBy(_.startUs).foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","key":"${s.key}","start_us":${s.startUs},"end_us":${s.endUs}}""")
      w.newLine()
    } finally w.close()
  }
}

object Tracer {
  def selfUs(spans: Seq[Span]): Map[String, Long] = {
    val children = spans.groupBy(_.parent)
    spans.groupMapReduce(_.name) { s =>
      val kids = children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue; var curB = Long.MinValue
      kids.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.durUs - covered
    }(_ + _)
  }
}

/** One wall clock for every span source: listener events carry epoch
  * milliseconds, the benchmark's own timers read the monotonic clock. */
object Clock {
  private val originUs = System.currentTimeMillis() * 1000 - System.nanoTime() / 1000
  def nowUs(): Long = originUs + System.nanoTime() / 1000
  def msToUs(ms: Long): Long = ms * 1000
}

/** Scheduler-level totals from a registered SparkListener, plus one span per
  * job, parented to the query (local property `perfbench.span`) or the
  * micro-batch (`streaming.sql.batchId`) that ran it. */
final class SparkStats(tracer: Tracer) extends SparkListener {
  val jobs = new AtomicLong; val stages = new AtomicLong; val tasks = new AtomicLong
  val failedTasks = new AtomicLong; val runMs = new AtomicLong; val cpuNs = new AtomicLong
  val gcMs = new AtomicLong; val shuffleWrite = new AtomicLong; val shuffleRead = new AtomicLong
  val spill = new AtomicLong
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long, String)]()
  /** parent span id to attach a job to, by `perfbench.span` / batch id */
  val parents = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobs.incrementAndGet()
    val p = Option(e.properties)
    val key = p.flatMap(x => Option(x.getProperty("perfbench.span")))
      .orElse(p.flatMap(x => Option(x.getProperty("streaming.sql.batchId"))).map(b => s"batch-$b"))
      .getOrElse("")
    val parent = Option(parents.get(key)).map(_.longValue).getOrElse(0L)
    jobStart.put(e.jobId, (Clock.msToUs(e.time), parent, key))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (t0, parent, key) =>
      tracer.add(parent, "spark.job", key, t0, Clock.msToUs(e.time))
    }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (!e.taskInfo.successful) failedTasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      runMs.addAndGet(m.executorRunTime); cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      spill.addAndGet(m.diskBytesSpilled + m.memoryBytesSpilled)
    }
  }

  /** The scheduler metrics of the run, `wallS` seconds on `cores` cores. */
  def metrics(wallS: Double, cores: Int): Seq[(String, Double)] = {
    val mb = 1024.0 * 1024.0
    Seq(
      "spark.jobs" -> jobs.get.toDouble,
      "spark.stages" -> stages.get.toDouble,
      "spark.tasks" -> tasks.get.toDouble,
      "spark.tasks_per_stage" -> (if (stages.get == 0) 0.0 else tasks.get.toDouble / stages.get),
      "spark.executor_run_s" -> runMs.get / 1e3,
      "spark.executor_cpu_s" -> cpuNs.get / 1e9,
      "spark.core_busy_frac" -> (if (wallS <= 0) 0.0 else runMs.get / 1e3 / (wallS * cores)),
      "spark.gc_s" -> gcMs.get / 1e3,
      "spark.shuffle_write_mb" -> shuffleWrite.get / mb,
      "spark.shuffle_read_mb" -> shuffleRead.get / mb,
      "spark.spill_mb" -> spill.get / mb,
      "spark.failed_tasks" -> failedTasks.get.toDouble)
  }
}

/** Walks of an executed physical plan, through adaptive stages, reused
  * exchanges and subqueries. */
object Plans {
  def nodes(plan: SparkPlan): Vector[SparkPlan] = {
    val out = Vector.newBuilder[SparkPlan]
    def go(p: SparkPlan): Unit = {
      out += p
      p match {
        case a: AdaptiveSparkPlanExec => go(a.executedPlan)
        case q: QueryStageExec => go(q.plan)
        case r: ReusedExchangeExec => go(r.child)
        case _ => ()
      }
      p.subqueries.foreach(go)
      p.children.foreach(go)
    }
    go(plan)
    out.result()
  }

  final case class Scan(files: Long, bytes: Long, partitions: Long, rows: Long)

  /** Files, bytes and partitions the file scans selected, and rows they produced. */
  def scan(plan: SparkPlan): Scan = {
    val scans = nodes(plan).collect { case s: FileSourceScanExec => s }
    def m(s: FileSourceScanExec, k: String): Long = s.metrics.get(k).map(_.value).getOrElse(0L)
    Scan(scans.map(m(_, "numFiles")).sum, scans.map(m(_, "filesSize")).sum,
      scans.map(m(_, "numPartitions")).sum, scans.map(m(_, "numOutputRows")).sum)
  }

  /** Expressions that run interpreted inside generated code. */
  def codegenFallbacks(plan: SparkPlan): Int =
    nodes(plan).map(_.expressions.map(e => countExpr(e)).sum).sum

  private def countExpr(e: Expression): Int =
    (if (e.isInstanceOf[CodegenFallback]) 1 else 0) + e.children.map(countExpr).sum

  def wscgSubtrees(plan: SparkPlan): Int = nodes(plan).count(_.isInstanceOf[WholeStageCodegenExec])
}

/** Heap occupancy after the full collections the benchmark asks for at the
  * end of set-up and of each measured phase ([[HeapWatch.settle]]), summed
  * over heap pools: the live set at phase boundaries, free of the timing of
  * young collections. */
object HeapWatch {
  @volatile private var peak = 0L
  private val seen = new AtomicLong
  def peakMb: Double = peak / (1024.0 * 1024.0)

  /** A full collection; returns once its notification has been counted. */
  def settle(): Unit = {
    val before = seen.get
    System.gc()
    val until = System.nanoTime() + 2000000000L
    while (seen.get == before && System.nanoTime() < until) Thread.sleep(5)
  }

  def install(): Unit = {
    import com.sun.management.GarbageCollectionNotificationInfo
    import javax.management.{NotificationEmitter, NotificationListener, Notification}
    import javax.management.openmbean.CompositeData
    val heapPools = java.lang.management.ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    val listener = new NotificationListener {
      def handleNotification(n: Notification, hb: Any): Unit =
        if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          if (info.getGcCause == "System.gc()") {
            val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
              .collect { case (k, v) if heapPools(k) => v.getUsed }.sum
            if (used > peak) peak = used
            seen.incrementAndGet()
          }
        }
    }
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ => ()
    }
  }
}

/** Registers the scheduler listener and returns it. */
object Listeners {
  def sparkStats(spark: SparkSession, tracer: Tracer): SparkStats = {
    val s = new SparkStats(tracer)
    spark.sparkContext.addSparkListener(s)
    s
  }

  /** Blocks until every posted listener event has been delivered. */
  def drain(spark: SparkSession): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}

/** Counts failed query executions, a cross-check on the benchmark's own
  * answer checks. */
final class ExecCounts extends org.apache.spark.sql.util.QueryExecutionListener {
  val failed = new AtomicLong
  def onSuccess(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit = ()
  def onFailure(funcName: String, qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit =
    failed.incrementAndGet()
}

object Stats {
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.floor.toInt; val hi = pos.ceil.toInt
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest of the usual tail percentiles with at least ten samples
    * beyond it (the median when there are fewer than 20). */
  def tailPct(n: Int): Double =
    Seq(99.9, 99.0, 98.0, 95.0, 90.0, 75.0).find(p => n * (1 - p / 100) >= 10).getOrElse(50.0)
}
