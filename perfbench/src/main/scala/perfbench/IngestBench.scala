package perfbench

import java.nio.file.{Files, Path, StandardCopyOption}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress, Trigger}

import graft.json.{JObject, Json}
import graft.pipeline.{Ingest, Pipeline, Plugin, PluginDispatch}
import graft.streaming.StreamingIngest

/** The `ingest` workload: the product's write path, `StreamingIngest.start`
  * as shipped (replay dedup on) with a short processing-time trigger. One
  * generator thread drops landing files open-loop at a fixed rate, then one
  * fixed burst backlog. */
object IngestBench {
  /** Steady drop rate: 6 files/s, about 220 events/s. The trigger interval
    * is longer than a warm micro-batch (about 3.5 s on a 4-core host), so
    * batches start on the trigger's fixed grid: freshness is the wait for the
    * next trigger, which does not depend on the program, plus the batch's own
    * time. At a third of the burst drain rate (about 20 files/s) each batch
    * instead ran back to back, carried whatever arrived during the previous
    * one and grew with it, and freshness spread 0.36 across seeds. Keep the
    * steady phase a whole number of trigger intervals (10 s = 2 x 5 s), so
    * every schedule-to-grid alignment sees the same wait distribution. */
  val SteadyFilesPerSec = 6
  /** The burst is the run of files holding this many records: a fixed amount
    * of work whatever the seed, about 250 files. */
  val BurstRecords = 9000
  val WarmFiles = 20
  /** Passes of [[warmPipeline]] over the burst's files in set-up. */
  val WarmPasses = 3
  val TriggerMs = 5000

  final case class Inputs(warm: Vector[GenFile], steady: Vector[GenFile], burst: Vector[GenFile]) {
    val all: Vector[GenFile] = warm ++ steady ++ burst
    /** Rows the sink must hold per source: every recovered record that is
      * not poison and not in a replay of an earlier file. */
    def expectedBySource(files: Seq[GenFile]): Map[String, Long] =
      files.filter(_.replayOf < 0).flatMap(_.records).filterNot(_.poison)
        .groupMapReduce(_.source)(_ => 1L)(_ + _)
    def accepted(files: Seq[GenFile]): Long = expectedBySource(files).values.sum
  }

  def generate(seed: Long, seconds: Double): Inputs = {
    val g = new Gen(seed)
    val steadyN = math.max(1, (SteadyFilesPerSec * seconds).round.toInt)
    val base = Hunt.BaseSec
    val warm = g.landingFiles(WarmFiles, base, 0, Vector.empty)
    val steady = g.landingFiles(steadyN, base + 100, WarmFiles, warm)
    val pool = g.landingFiles(BurstRecords / 18, base + 100 + steady.size, WarmFiles + steady.size, warm ++ steady)
    val upTo = pool.scanLeft(0)(_ + _.records.size).indexWhere(_ >= BurstRecords)
    require(upTo > 0, s"$BurstRecords records need more than ${pool.size} burst files")
    Inputs(warm, steady, pool.take(upTo))
  }

  /** Everything one pass over the stream observed. */
  final case class Pass(
      freshS: Vector[Double], burstRate: Double, lateMsMax: Double, backlogEndOfSteady: Int,
      progress: Vector[StreamingQueryProgress], bySource: Map[String, Long], wantBySource: Map[String, Long],
      sinkFiles: Int, sinkPartitions: Int, sinkBytes: Long, inputBytes: Long, walls: Double,
      error: Option[String])

  /** Polls the checkpoint as each micro-batch starts, for the files it takes
    * (the file source's log, one entry per batch with new files) and its
    * source offset (the offsets log, so batches without new files cannot
    * shift the mapping), and the sink's `_spark_metadata` log for each
    * batch's commit, the moment readers can see it. */
  final class CommitWatcher(out: Path, ckpt: Path) extends Thread("commit-watcher") {
    val commitUs = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]()
    private val fileSource = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
    private val sourceBatch = new java.util.concurrent.ConcurrentHashMap[Long, java.lang.Long]()
    @volatile var running = true
    private var nextCommit = 0L
    private var nextSource = 0L
    private var nextOffsets = 0L
    private val pathRe = "\"path\":\"([^\"]+)\"".r
    private val batchRe = "\"batchId\":(\\d+)".r
    private val offsetRe = "\"logOffset\":(\\d+)".r
    setDaemon(true)

    /** The micro-batch that took the file named `name`, once it has started. */
    def batchOf(name: String): Option[Long] =
      Option(fileSource.get(name)).flatMap(s => Option(sourceBatch.get(s.longValue))).map(_.longValue)

    private def log(dir: Path, n: Long): Seq[Path] =
      Seq(dir.resolve(n.toString), dir.resolve(s"$n.compact")).filter(Files.exists(_))
    /** Reads log entry `n` of `dir` if it exists. */
    private def read(dir: Path, n: Long)(line: String => Unit): Boolean = {
      val ps = log(dir, n)
      ps.foreach(p => Files.readAllLines(p).asScala.drop(1).foreach(line))
      ps.nonEmpty
    }
    override def run(): Unit = while (running) {
      while (read(ckpt.resolve("sources").resolve("0"), nextSource) { line =>
        for (pm <- pathRe.findFirstMatchIn(line); bm <- batchRe.findFirstMatchIn(line))
          fileSource.putIfAbsent(pm.group(1).substring(pm.group(1).lastIndexOf('/') + 1), bm.group(1).toLong)
      }) nextSource += 1
      while (read(ckpt.resolve("offsets"), nextOffsets) { line =>
        offsetRe.findFirstMatchIn(line).foreach(m => sourceBatch.putIfAbsent(m.group(1).toLong, nextOffsets))
      }) nextOffsets += 1
      val committed = log(out.resolve("_spark_metadata"), nextCommit).nonEmpty
      if (committed) { commitUs.putIfAbsent(nextCommit, Clock.nowUs()); nextCommit += 1 }
      else Thread.sleep(1)
    }
  }

  private def write(dir: Path, staging: Path, f: GenFile): Unit = {
    val tmp = staging.resolve(f.name)
    Files.write(tmp, f.bytes)
    Files.move(tmp, dir.resolve(f.name), StandardCopyOption.ATOMIC_MOVE)
  }

  /** A started ingest stream that has drained the warm files: the first
    * batch of a new query pays planning and code generation, as a
    * long-running ingest service pays them once. */
  final class Running(spark: SparkSession, in: Inputs, root: Path, traced: Boolean) {
    val landing: Path = Files.createDirectories(root.resolve("landing"))
    val staging: Path = Files.createDirectories(root.resolve("staging"))
    val burstDir: Path = Files.createDirectories(root.resolve("burst"))
    val out: Path = root.resolve("events")
    val listener = new ProgressLog
    if (traced) spark.streams.addListener(listener)
    in.burst.foreach(f => Files.write(burstDir.resolve(f.name), f.bytes))
    val watcher = new CommitWatcher(out, root.resolve("checkpoint"))
    watcher.start()
    val q: StreamingQuery = StreamingIngest.start(spark, landing.toString, out.toString,
      root.resolve("checkpoint").toString, Trigger.ProcessingTime(s"$TriggerMs milliseconds"), Some("10 minutes"))

    /** Every file is in a batch that has started. */
    def taken(files: Seq[GenFile]): Boolean = files.forall(f => watcher.batchOf(f.name).isDefined)
    def visible(files: Seq[GenFile]): Boolean =
      files.forall(f => watcher.batchOf(f.name).exists(b => watcher.commitUs.containsKey(b)))
    def await(timeoutS: Double)(done: => Boolean): Boolean = {
      val until = Clock.nowUs() + (timeoutS * 1e6).toLong
      while (!done && Clock.nowUs() < until && q.exception.isEmpty) Thread.sleep(5)
      done
    }
    def stop(): Unit = {
      try q.stop() catch { case _: Exception => () }
      watcher.running = false
      watcher.join()
      spark.streams.removeListener(listener)
    }

    in.warm.foreach(write(landing, staging, _))
    if (!await(90)(visible(in.warm))) {
      stop()
      throw new IllegalStateException(q.exception.map(_.toString).getOrElse("warm files never became visible"))
    }
  }

  /** The measured phase on a started stream: the steady drops on their
    * schedule; once every steady file is in a started batch, the burst;
    * then wait until every file is visible. Freshness counts the steady files
    * only, and no steady file shares a batch with the burst. */
  def measure(spark: SparkSession, r: Running, in: Inputs, seconds: Double, tracer: Tracer): Pass = {
    import r._
    try {
      val flow = in.steady
      val start = Clock.nowUs() + 50000
      val dueUs = flow.indices.map(i => start + (i * 1e6 / SteadyFilesPerSec).toLong)
      var lateMax = 0L
      flow.indices.foreach { i =>
        val wait = dueUs(i) - Clock.nowUs()
        if (wait > 0) Thread.sleep(wait / 1000, ((wait % 1000) * 1000).toInt)
        write(landing, staging, flow(i))
        lateMax = math.max(lateMax, Clock.nowUs() - dueUs(i))
      }
      val tb = start + (seconds * 1e6).toLong
      val wait = tb - Clock.nowUs()
      if (wait > 0) Thread.sleep(wait / 1000)
      if (!await(60 + seconds * 4)(taken(flow)))
        throw new IllegalStateException(q.exception.map(_.toString).getOrElse("steady files never taken"))
      in.burst.foreach(f => Files.move(burstDir.resolve(f.name), landing.resolve(f.name), StandardCopyOption.ATOMIC_MOVE))
      if (!await(60 + seconds * 4)(visible(flow ++ in.burst)))
        throw new IllegalStateException(q.exception.map(_.toString).getOrElse("stream did not drain"))
      val wallS = (Clock.nowUs() - start) / 1e6
      def batchOf(f: GenFile) = watcher.batchOf(f.name).get
      val burstBatches = in.burst.map(batchOf).distinct
      // the last batch's progress report is posted after its commit
      val until = Clock.nowUs() + 10000000L
      while (!q.recentProgress.exists(_.batchId == burstBatches.max) && Clock.nowUs() < until) Thread.sleep(5)
      HeapWatch.settle() // the live set with the stream's state still loaded
      stop()

      def commit(b: Long) = watcher.commitUs.get(b).longValue
      val fresh = in.steady.indices.map(i => (commit(batchOf(in.steady(i))) - dueUs(i)) / 1e6).toVector
      val progress = (if (tracer.enabled) { Listeners.drain(spark); listener.all } else q.recentProgress.toVector)
        .filter(_.id == q.id).sortBy(_.batchId)
      // drain rate of the batches that took the burst: their accepted events
      // over their span, from the start of the first to the commit of the last
      val burstStart = progress.find(_.batchId == burstBatches.min)
        .map(p => java.time.Instant.parse(p.timestamp).toEpochMilli * 1000)
        .getOrElse(throw new IllegalStateException(s"no progress report for batch ${burstBatches.min}"))
      val burstRate = in.accepted(in.burst) / ((commit(burstBatches.max) - burstStart) / 1e6)
      val backlog = in.steady.count(f => commit(batchOf(f)) > tb)
      val bySource = spark.read.parquet(out.toString).groupBy("source").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val sink = Files.walk(out).iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")).toVector
      val parts = sink.map(_.getParent).distinct.size
      if (tracer.enabled) batchSpans(progress, tracer)
      Pass(fresh, burstRate, lateMax / 1e3, backlog, progress, bySource, in.expectedBySource(in.all),
        sink.size, parts, sink.map(Files.size).sum, in.all.map(_.inputBytes).sum, wallS, None)
    } catch {
      case e: Exception =>
        stop()
        Pass(Vector.empty, 0, 0, 0, Vector.empty, Map.empty, in.expectedBySource(in.all), 0, 0, 0, 0, 0,
          Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
    }
  }

  /** One line per micro-batch for the artifact. */
  def batchSummary(p: Pass): String = p.progress.map { x =>
    val d = x.durationMs.asScala.map { case (k, v) => s"$k=$v" }.toSeq.sorted.mkString(" ")
    s"batch ${x.batchId}: rows ${x.numInputRows}, $d"
  }.mkString("; ")

  /** Every progress event of the streams, kept in full (the query's own
    * recent-progress ring is bounded). */
  final class ProgressLog extends StreamingQueryListener {
    private val q = new java.util.concurrent.ConcurrentLinkedQueue[StreamingQueryProgress]()
    def all: Vector[StreamingQueryProgress] = q.asScala.toVector
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = q.add(e.progress)
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  /** One span per micro-batch with its phases laid out in execution order;
    * the batch's Spark jobs become children of its `addBatch` phase. */
  private val PhaseOrder = Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
  private def batchSpans(progress: Seq[StreamingQueryProgress], tracer: Tracer): Unit =
    progress.foreach { p =>
      val start = java.time.Instant.parse(p.timestamp).toEpochMilli * 1000
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val key = s"batch-${p.batchId}"
      val id = tracer.add(0L, "stream.batch", key, start, start + d.getOrElse("triggerExecution", 0L) * 1000)
      var t = start
      PhaseOrder.foreach { ph =>
        d.get(ph).foreach { ms =>
          val pid = tracer.add(id, s"stream.$ph", key, t, t + ms * 1000)
          if (ph == "addBatch") tracer.reparentJobs(key, pid)
          t += ms * 1000
        }
      }
    }

  def passMetrics(p: Pass, in: Inputs): Map[String, Double] = {
    def ms(k: String) = Stats.median(p.progress.flatMap(x => Option(x.durationMs.get(k)).map(_.doubleValue)))
    val state = p.progress.lastOption.flatMap(_.stateOperators.headOption)
    val accepted = in.accepted(in.all).toDouble
    Map(
      "ops_per_s" -> p.burstRate,
      "latency_p50_s" -> Stats.median(p.freshS),
      "latency_tail_s" -> Stats.quantile(p.freshS, Stats.tailPct(p.freshS.size) / 100),
      "bytes_per_op" -> p.sinkBytes / accepted,
      "ingest.tail_pct" -> Stats.tailPct(p.freshS.size),
      "ingest.fresh_samples" -> p.freshS.size.toDouble,
      "streaming.batches" -> p.progress.size.toDouble,
      "streaming.rows_per_batch_p50" -> Stats.median(p.progress.map(_.numInputRows.toDouble)),
      "streaming.trigger_ms_p50" -> ms("triggerExecution"),
      "streaming.trigger_ms_max" -> p.progress.map(_.durationMs.get("triggerExecution").doubleValue).maxOption.getOrElse(0.0),
      "streaming.latest_offset_ms_p50" -> ms("latestOffset"),
      "streaming.add_batch_ms_p50" -> ms("addBatch"),
      "streaming.query_planning_ms_p50" -> ms("queryPlanning"),
      "streaming.wal_commit_ms_p50" -> ms("walCommit"),
      "streaming.commit_offsets_ms_p50" -> ms("commitOffsets"),
      "streaming.dedup_state_rows" -> state.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "streaming.dedup_state_mb" -> state.map(_.memoryUsedBytes / 1048576.0).getOrElse(0.0),
      "streaming.dedup_commit_ms_p50" -> Stats.median(p.progress.flatMap(_.stateOperators.headOption.map(_.commitTimeMs.toDouble))),
      "streaming.backlog_files_end_of_steady" -> p.backlogEndOfSteady.toDouble,
      "streaming.generator_late_ms_max" -> p.lateMsMax,
      "sink.files_written" -> p.sinkFiles.toDouble,
      "sink.files_per_partition" -> (if (p.sinkPartitions == 0) 0.0 else p.sinkFiles.toDouble / p.sinkPartitions),
      "sink.mean_file_kb" -> (if (p.sinkFiles == 0) 0.0 else p.sinkBytes / 1024.0 / p.sinkFiles),
      "sink.bytes_written" -> p.sinkBytes.toDouble,
      "sink.bytes_per_input_byte" -> p.sinkBytes.toDouble / math.max(1L, p.inputBytes))
  }

  /** Single-thread replay of the run's own landing files, in dispatch order,
    * through the public functions of `graft.json` and `graft.pipeline`, with
    * a span around every call. Returns its counters and the single-thread
    * rate of `Ingest.processFileEither` over the same files. */
  def replay(files: Seq[GenFile], tracer: Tracer): Map[String, Double] = {
    val texts = files.map(f => (f.name, new String(if (f.name.endsWith(".gz")) gunzip(f.bytes) else f.bytes, "UTF-8")))
    val inCount = mutable.Map[String, Long]().withDefaultValue(0L)
    val dropped = mutable.Map[String, Long]().withDefaultValue(0L)
    var records = 0L; var events = 0L; var failed = 0L; var recovered = 0L
    var fileSpan = 0L; var fileKey = ""

    /** The plugin as registered, with a span and counters around its
      * `onMessage`: `PluginDispatch.send` matches and orders it as it would
      * the plugin itself. */
    final class Timed(p: Plugin) extends Plugin {
      def name: String = p.name
      def registration: Seq[String] = p.registration
      override def priority: Int = p.priority
      def onMessage(message: JObject, metadata: JObject): (Option[JObject], JObject) = {
        inCount(p.name) += 1
        val out = tracer.span(fileSpan, s"plugin.${p.name}", fileKey)(_ => p.onMessage(message, metadata))
        if (out._1.isEmpty) dropped(p.name) += 1
        out
      }
    }
    val normal = Pipeline.normalizationPlugins.map(new Timed(_))
    val enrich = Pipeline.enrichmentPlugins.map(new Timed(_))
    // `Pipeline.process` with the timed plugin lists; a `pipeline.send`
    // span's self time is the dispatch's own work (criteria matching,
    // ordering, provenance)
    def send(ev: JObject, meta: JObject, plugins: Seq[Plugin]): (Option[JObject], JObject) =
      tracer.span(fileSpan, "pipeline.send", fileKey) { id =>
        val parent = fileSpan
        fileSpan = id
        try PluginDispatch.send(ev, meta, plugins) finally fileSpan = parent
      }

    texts.zipWithIndex.foreach { case ((name, text), i) =>
      fileKey = s"file-$i"
      tracer.span(0L, "replay.file", fileKey) { fid =>
        fileSpan = fid
        if (tracer.span(fid, "json.parse", fileKey)(_ => Json.parseOpt(text)).isEmpty) recovered += 1
        val raws = tracer.span(fid, "pipeline.cascade", fileKey)(_ => Ingest.rawRecords(name, text))
        raws.foreach { raw =>
          records += 1
          tracer.span(fid, "json.render", fileKey)(_ => Json.render(raw))
          try {
            val (normalized, m1) = send(raw, Pipeline.defaultMetadata, normal)
            normalized.flatMap(n => send(n, m1, enrich)._1).foreach { shell =>
              tracer.span(fid, "pipeline.to_event", fileKey)(_ => Pipeline.toEvent(shell))
              events += 1
            }
          } catch { case _: Exception => failed += 1 }
        }
      }
    }
    // the program's own per-file entry point, uninstrumented: one pass to
    // warm, one timed
    def timedPass(): (Long, Long) = {
      val t0 = System.nanoTime()
      val n = texts.map { case (name, text) => Ingest.processFileEither(name, text)._1.size.toLong }.sum
      (n, System.nanoTime() - t0)
    }
    timedPass()
    val (n, ns) = timedPass()

    val self = tracer.selfUs()
    val spanUs = tracer.all.groupMapReduce(_.name)(_.durUs)(_ + _)
    def per(name: String, n: Long) = if (n == 0) 0.0 else spanUs.getOrElse(name, 0L).toDouble / n
    val base = Map(
      "json.parse_us_per_record" -> per("json.parse", records),
      "json.render_us_per_record" -> per("json.render", records),
      "pipeline.cascade_us_per_file" -> per("pipeline.cascade", texts.size),
      "pipeline.recovered_file_frac" -> recovered.toDouble / math.max(1, texts.size),
      "pipeline.criteria_us_per_event" -> self.getOrElse("pipeline.send", 0L).toDouble / math.max(1L, records),
      "pipeline.to_event_us_per_event" -> per("pipeline.to_event", events),
      "pipeline.failed_records" -> failed.toDouble,
      "pipeline.replay_files" -> texts.size.toDouble,
      "pipeline.single_thread_events_per_s" -> n / (ns / 1e9))
    base ++ (Pipeline.normalizationPlugins ++ Pipeline.enrichmentPlugins).flatMap { p =>
      val short = p.name.replaceFirst("^(normalization|enrichment)_", "")
      Seq(
        s"pipeline.$short.us_per_event" -> per(s"plugin.${p.name}", inCount(p.name)),
        s"pipeline.$short.in" -> inCount(p.name).toDouble,
        s"pipeline.$short.dropped" -> dropped(p.name).toDouble)
    } ++ Map("replay.self_us_per_file" -> self.getOrElse("replay.file", 0L).toDouble / math.max(1, texts.size))
  }

  /** Runs the program's per-file entry point over `files` on the calling
    * thread, `passes` times: the parsing and plugin code is then compiled
    * before the stream's tasks run it (they share the JVM). */
  def warmPipeline(files: Seq[GenFile], passes: Int): Unit = {
    val texts = files.map(f => (f.name, new String(if (f.name.endsWith(".gz")) gunzip(f.bytes) else f.bytes, "UTF-8")))
    (0 until passes).foreach(_ => texts.foreach { case (name, text) => Ingest.processFileEither(name, text) })
  }

  /** Dispatch-order prefix of the landing files holding about `records` records. */
  def replaySet(in: Inputs, records: Int): Vector[GenFile] = {
    var n = 0
    in.all.takeWhile { f => val keep = n < records; n += f.records.size; keep }
  }

  def gunzip(b: Array[Byte]): Array[Byte] =
    new java.util.zip.GZIPInputStream(new java.io.ByteArrayInputStream(b)).readAllBytes()
}
