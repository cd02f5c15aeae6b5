package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.SparkSession

import graft.Engine

/** The benchmark JVM. `run.py` builds it and starts it as
  * `perfbench.Main --workload <ingest|hunt|train> --seed <n> --seconds <s> --trace <0|1>
  *  --cores <n> --work <dir> --out <dir>`; it writes its result line to
  * `<out>/result.json` and its full artifact next to it. */
object Main {
  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean, cores: Int, work: Path, out: Path) {
    /** The warm-up to run: all of `full`, or one unit of it in the training
      * run, which only has to load the classes. */
    def warm(full: Double): Double = if (workload == "train") math.min(full, 1) else full
  }

  private def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("cores").toInt, Paths.get(need("work")), Paths.get(need("out")))
  }

  private val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  /** Marks the end of a phase in the JVM log, with the seconds since the JVM
    * started: where a run's wall time goes. */
  def phase(name: String): Unit =
    println(f"[perfbench] ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.1f s: $name")

  /** A fixed CPU workload timed before the measured one: a drift in it means
    * the host, not the program, changed. */
  def calibrationMs(): Double = {
    val buf = Array.tabulate[Byte](1 << 22)(i => (i * 31).toByte)
    val md = java.security.MessageDigest.getInstance("SHA-256")
    (0 until 3).map { _ =>
      val t0 = System.nanoTime()
      (0 until 8).foreach(_ => md.update(buf))
      md.digest()
      (System.nanoTime() - t0) / 1e6
    }.min
  }

  /** Jiffies the hypervisor gave to other guests (`steal`) and all jiffies,
    * from /proc/stat. */
  def cpuTimes(): (Long, Long) =
    scala.util.Try {
      val f = new String(Files.readAllBytes(Paths.get("/proc/stat"))).linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
      (f(7), f.sum)
    }.getOrElse((0L, 0L))

  def loadAvg(): Double =
    scala.util.Try(new String(Files.readAllBytes(Paths.get("/proc/loadavg"))).split(" ")(0).toDouble).getOrElse(-1.0)

  /** Result of one workload: metrics plus what was attempted and failed. */
  final case class Outcome(metrics: Map[String, Double], attempted: Long, failed: Long, errors: Seq[String],
      notes: Map[String, String] = Map.empty, oracleCheck: Option[(String, Path)] = None)

  /** Exits explicitly, so no lingering non-daemon thread can keep the JVM
    * alive after the result is written or after a failure. */
  def main(argv: Array[String]): Unit = {
    val code =
      try { run(parse(argv)); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    sys.exit(code)
  }

  def run(args: Args): Unit = {
    HeapWatch.install()
    Files.createDirectories(args.out)
    val calib = calibrationMs()
    val load = loadAvg()
    val (steal0, total0) = cpuTimes()
    val t0 = System.nanoTime()
    val spark = Engine.createSession("perfbench", s"local[${args.cores}]")
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    phase("session")
    val tracer = new Tracer(args.trace)
    val outcome = args.workload match {
      case "ingest" => runIngest(spark, args, tracer)
      case "hunt" => runHunt(spark, args, tracer)
      case "train" => // one short run of each workload and of the corpus: the classes run.py archives
        runIngest(spark, args, tracer); runHunt(spark, args, tracer); runCorpus(spark, args, tracer)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    phase("workload")
    val (steal1, total1) = cpuTimes()
    val common = Map("setup.session_start_s" -> sessionS, "host.loadavg_1m" -> load,
      "host.steal_frac" -> (steal1 - steal0).toDouble / math.max(1L, total1 - total0),
      "host.calibration_ms" -> calib, "trace.spans" -> tracer.all.size.toDouble,
      "heap_peak_mb" -> HeapWatch.peakMb)
    val all = outcome.metrics ++ common
    val conf = spark.conf.getAll.toSeq.sortBy(_._1)
    val tag = s"${args.workload}-seed${args.seed}-trace${if (args.trace) 1 else 0}"
    if (args.trace) tracer.writeJsonl(args.out.resolve(s"$tag-spans.jsonl"))
    spark.stop()
    phase("session stopped")

    // every metric the run computed; run.py prints the ones BENCHMARK.json
    // declares for the run's kind, with their units
    val fields = Seq[(String, Any)](
      "correct" -> (outcome.failed == 0 && outcome.errors.isEmpty),
      "attempted" -> outcome.attempted,
      "failed" -> outcome.failed,
      "metrics" -> Json.obj(all.toSeq.sortBy(_._1).map { case (k, v) => k -> (v: Any) }: _*))
    val result = Json.obj(fields: _*)
    // the tables and answers run.py checks against the DuckDB oracles
    val check = outcome.oracleCheck.map { case (tables, answers) =>
      "check" -> Json.obj("tables" -> tables, "answers" -> answers.toString, "queries" -> CorpusBench.Queries)
    }
    val artifact = Json.obj(
      "workload" -> args.workload, "seed" -> args.seed, "seconds" -> args.seconds, "trace" -> args.trace,
      "cores" -> args.cores, "result" -> result,
      "errors" -> outcome.errors, "notes" -> Json.obj(outcome.notes.toSeq.sortBy(_._1).map { case (k, v) => k -> (v: Any) }: _*),
      "jvm_args" -> scala.jdk.CollectionConverters.ListHasAsScala(
        java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments).asScala.toSeq,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / 1048576.0,
      "spark_conf" -> Json.obj(conf.map { case (k, v) => k -> (v: Any) }: _*))
    Files.write(args.out.resolve(s"$tag.json"), artifact.text.getBytes("UTF-8"))
    Files.write(args.out.resolve("result.json"), Json.obj(fields ++ check: _*).text.getBytes("UTF-8"))
  }

  /** Runs `f` on every item, each in a thread of its own; returns the
    * results in order. */
  def concurrently[A, B](items: Seq[A])(f: A => B): Seq[B] = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(math.max(1, items.size))
    try items.map(a => pool.submit(new java.util.concurrent.Callable[B] { def call(): B = f(a) })).map(_.get())
    finally pool.shutdown()
  }

  /** Runs `setup` `n` times; returns every result and the median time. */
  private def setups[A](n: Int)(setup: Int => A): (Seq[A], Double) = {
    val timed = (0 until n).map { i =>
      val t0 = System.nanoTime(); val a = setup(i); (a, (System.nanoTime() - t0) / 1e9)
    }
    (timed.map(_._1), Stats.median(timed.map(_._2)))
  }

  def runIngest(spark: SparkSession, args: Args, tracer: Tracer): Outcome = {
    // set-up: generate the inputs three times (the median counts), run the
    // burst's files through the pipeline on this thread, then start the
    // stream and drain the warm files through it
    val (ins, genS) = setups(3)(_ => IngestBench.generate(args.seed, args.seconds))
    val in = ins.last
    phase("inputs generated x3")
    val t0 = System.nanoTime()
    IngestBench.warmPipeline(in.burst, args.warm(IngestBench.WarmPasses).toInt)
    phase("pipeline warmed")
    val running = new IngestBench.Running(spark, in, Files.createDirectories(args.work.resolve("pass0")), traced = false)
    phase("stream started, warm files visible")
    val setupS = genS + (System.nanoTime() - t0) / 1e9
    HeapWatch.settle()
    val plain = IngestBench.measure(spark, running, in, args.seconds, new Tracer(false))
    phase("measured pass")
    val plainM = IngestBench.passMetrics(plain, in)
    def check(p: IngestBench.Pass): (Long, Seq[String]) = {
      val sources = p.wantBySource.keySet ++ p.bySource.keySet
      val off = sources.toSeq.map(s => math.abs(p.bySource.getOrElse(s, 0L) - p.wantBySource.getOrElse(s, 0L))).sum
      val errs = p.error.toSeq ++ (if (off == 0) Nil else Seq(s"rows by source: got ${p.bySource}, want ${p.wantBySource}"))
      (if (p.error.isDefined) math.max(off, 1L) else off, errs)
    }
    val attempted = in.all.map(_.records.size.toLong).sum
    val base = Map("setup_s" -> setupS, "setup.generate_s" -> genS)
    val notes = Map(
      "files" -> (s"warm ${in.warm.size}, steady ${in.steady.size} " +
        s"at ${IngestBench.SteadyFilesPerSec}/s, burst ${in.burst.size}"),
      "freshness_tail" -> s"p${plainM("ingest.tail_pct")} of ${in.steady.size} steady files",
      "expected_rows" -> in.expectedBySource(in.all).toSeq.sortBy(_._1).mkString(", "),
      "batches" -> IngestBench.batchSummary(plain),
      "expected_plugin_failures" -> in.all.flatMap(_.records).count(_.poison).toString,
      "expected_replay_drops" -> in.all.filter(_.replayOf >= 0).flatMap(_.records).count(!_.poison).toString)
    if (!args.trace) {
      val (failed, errs) = check(plain)
      Outcome(base ++ plainM, attempted, failed, errs, notes)
    } else {
      val tracedRun = new IngestBench.Running(spark, in, Files.createDirectories(args.work.resolve("pass1")), traced = true)
      val stats = Listeners.sparkStats(spark, tracer)
      val traced = IngestBench.measure(spark, tracedRun, in, args.seconds, tracer)
      Listeners.drain(spark)
      spark.sparkContext.removeSparkListener(stats)
      val tracedM = IngestBench.passMetrics(traced, in)
      val sparkM = stats.metrics(traced.walls, args.cores).toMap
      // a second untraced pass after the traced one: the overhead compares
      // the traced pass with the mean of the passes around it
      val againRun = new IngestBench.Running(spark, in, Files.createDirectories(args.work.resolve("pass2")), traced = false)
      val again = IngestBench.measure(spark, againRun, in, args.seconds, new Tracer(false))
      val batches = math.max(1, traced.progress.size)
      val self = tracer.selfUs()
      val selfM = Map(
        "self.stream_batch_ms" -> "stream.batch", "self.stream_latest_offset_ms" -> "stream.latestOffset",
        "self.stream_wal_commit_ms" -> "stream.walCommit", "self.stream_query_planning_ms" -> "stream.queryPlanning",
        "self.stream_add_batch_ms" -> "stream.addBatch", "self.stream_commit_offsets_ms" -> "stream.commitOffsets",
        "self.spark_job_ms" -> "spark.job").map { case (k, n) => k -> self.getOrElse(n, 0L) / 1e3 / batches }
      val replaySet = IngestBench.replaySet(in, 8000)
      val replayM = IngestBench.replay(replaySet, tracer)
      val wantFailures = replaySet.flatMap(_.records).count(_.poison).toDouble
      val checks = Seq(plain, traced, again).map(check)
      val replayErrs =
        if (replayM("pipeline.failed_records") == wantFailures) Nil
        else Seq(s"replay plugin failures: got ${replayM("pipeline.failed_records")}, want $wantFailures")
      val eff = tracedM("ops_per_s") / (args.cores * replayM("pipeline.single_thread_events_per_s"))
      Outcome(base ++ tracedM ++ sparkM ++ selfM ++ replayM ++
        overhead(plainM, tracedM, IngestBench.passMetrics(again, in)) ++
        Map("pipeline.parallel_efficiency" -> eff),
        3 * attempted, checks.map(_._1).sum + replayErrs.size, checks.flatMap(_._2) ++ replayErrs, notes)
    }
  }

  /** Tracing overhead: the traced pass against the mean of the untraced
    * passes before and after it, so warm-up that continues across the three
    * passes cancels; and the drift between the two untraced passes, which
    * shows whether the set-up warmed the JVM enough. */
  private def overhead(before: Map[String, Double], traced: Map[String, Double],
      after: Map[String, Double]): Map[String, Double] = {
    def vs(k: String) = { val base = (before(k) + after(k)) / 2; (traced(k) - base) / base }
    def drift(k: String) = (after(k) - before(k)) / before(k)
    Map(
      "trace.overhead_ops_per_s_frac" -> vs("ops_per_s"),
      "trace.overhead_latency_p50_frac" -> vs("latency_p50_s"),
      "trace.untraced_drift_ops_per_s_frac" -> drift("ops_per_s"),
      "trace.untraced_drift_latency_p50_frac" -> drift("latency_p50_s"))
  }

  def runHunt(spark: SparkSession, args: Args, tracer: Tracer): Outcome = {
    // set-up: build the lake in three chunks of hours, each a set-up
    // repetition (three times the median chunk counts), register it, then
    // run every template once, the templates shared out among one thread per
    // core (the probe: the first run of each template pays its code
    // generation, and its scans give the mix's bytes per query, which then
    // repeat exactly for a seed), then a closed loop with one client per core
    // on another query sequence: the query code keeps getting faster for about
    // a minute of queries, and more clients run more of them in that time
    val dir = args.work.resolve("lake").toString
    val (chunks, chunkS) = setups(Hunt.Chunks)(i => Hunt.buildChunk(spark, args.seed, i, dir, args.cores))
    phase("lake built")
    val buildS = Hunt.Chunks * chunkS
    val warmT0 = System.nanoTime()
    Engine.registerEvents(spark, dir)
    val lake = new Hunt.Lake(dir, chunks.flatMap(_.truths).toVector)
    val probeRng = new scala.util.Random(args.seed ^ 0x9e3779b9L)
    val probeQueries = (Hunt.Narrow ++ Hunt.Wide).map(t => Hunt.draw(t, probeRng, lake))
    val probe = concurrently(probeQueries.grouped(probeQueries.size / args.cores).toSeq) { qs =>
      qs.map(q => Hunt.runOne(spark, q, s"probe-${q.template}", new Tracer(false), None))
    }.flatten.toVector
    val (warmLoop, _) = Hunt.measure(spark, lake, args.seed ^ 0x5eedL, args.warm(Hunt.WarmSeconds), new Tracer(false), None,
      clients = args.cores)
    phase("probe and warm loop")
    val warm = probe ++ warmLoop
    val bytesPerOp = probe.map(d => Hunt.weight(d.template) * d.scan.bytes).sum
    val setupS = buildS + (System.nanoTime() - warmT0) / 1e9
    HeapWatch.settle()
    def metrics(done: Vector[Hunt.Done], wallS: Double): Map[String, Double] = {
      val ok = done.filter(_.error.isEmpty)
      val lat = ok.map(d => (d.endUs - d.startUs) / 1e6)
      val pct = Stats.tailPct(lat.size)
      def p50(k: String) = Stats.median(ok.flatMap(_.phasesMs.get(k)))
      Map(
        "ops_per_s" -> ok.size / wallS,
        "latency_p50_s" -> Stats.median(lat),
        "latency_tail_s" -> Stats.quantile(lat, pct / 100),
        "hunt.queries" -> done.size.toDouble,
        "hunt.tail_pct" -> pct,
        "hunt.narrow_frac" -> ok.count(!_.wide).toDouble / math.max(1, ok.size),
        "hunt.narrow_p50_s" -> Stats.median(ok.filter(!_.wide).map(d => (d.endUs - d.startUs) / 1e6)),
        "hunt.wide_p50_s" -> Stats.median(ok.filter(_.wide).map(d => (d.endUs - d.startUs) / 1e6)),
        "engine.sql_ms_p50" -> Stats.median(ok.map(_.sqlMs)),
        "catalyst.analysis_ms_p50" -> p50("analysis"),
        "catalyst.optimization_ms_p50" -> p50("optimization"),
        "catalyst.planning_ms_p50" -> p50("planning"),
        "scan.files_read_per_query" -> ok.map(_.scan.files.toDouble).sum / math.max(1, ok.size),
        "scan.partitions_read_per_query" -> ok.map(_.scan.partitions.toDouble).sum / math.max(1, ok.size),
        "scan.rows_read_per_row_returned" -> ok.map(_.scan.rows.toDouble).sum / math.max(1L, ok.map(_.rowsOut).sum),
        "plan.codegen_fallback_exprs" -> ok.map(_.fallbacks.toDouble).sum / math.max(1, ok.size),
        "plan.wscg_subtrees" -> ok.map(_.wscg.toDouble).sum / math.max(1, ok.size))
    }
    var execFailures = 0L
    val off = new Tracer(false)
    val (plain, plainWall) = Hunt.measure(spark, lake, args.seed, args.seconds, off, None)
    phase("measured pass")
    HeapWatch.settle()
    val plainM = metrics(plain, plainWall)
    val (traced, m) =
      if (!args.trace) (Vector.empty, plainM)
      else {
        val stats = Listeners.sparkStats(spark, tracer)
        val execs = new ExecCounts
        spark.listenerManager.register(execs)
        // the traced pass and the second untraced one draw their own query
        // parameters: a repeated query would reuse the generated code cached
        // for it, which new queries do not
        val (traced, wall) = Hunt.measure(spark, lake, args.seed ^ 0x7aceL, args.seconds, tracer, Some(stats))
        HeapWatch.settle()
        Listeners.drain(spark)
        spark.sparkContext.removeSparkListener(stats)
        spark.listenerManager.unregister(execs)
        execFailures = execs.failed.get
        val n = math.max(1, traced.size)
        val self = tracer.selfUs()
        val selfM = Map(
          "self.hunt_query_ms" -> "hunt.query", "self.engine_sql_ms" -> "engine.sql",
          "self.hunt_collect_ms" -> "hunt.collect", "self.catalyst_analysis_ms" -> "catalyst.analysis",
          "self.catalyst_optimization_ms" -> "catalyst.optimization",
          "self.catalyst_planning_ms" -> "catalyst.planning", "self.spark_job_ms" -> "spark.job")
          .map { case (k, s) => k -> self.getOrElse(s, 0L) / 1e3 / n }
        val tm = metrics(traced, wall)
        val (again, againWall) = Hunt.measure(spark, lake, args.seed ^ 0xa6a1L, args.seconds, off, None)
        (traced ++ again, tm ++ stats.metrics(wall, args.cores) ++ selfM ++ overhead(plainM, tm, metrics(again, againWall)))
      }
    val done = warm ++ plain ++ traced
    val errors = done.flatMap(d => d.error.map(e => s"${d.template}: $e")).distinct.take(20) ++
      (if (execFailures == 0) Nil else Seq(s"$execFailures query executions failed (QueryExecutionListener)"))
    val hunt = Outcome(m ++ Map("setup_s" -> setupS, "bytes_per_op" -> bytesPerOp, "setup.generate_s" -> Hunt.Chunks * Stats.median(chunks.map(_.genS)),
      "setup.lake_build_s" -> Hunt.Chunks * Stats.median(chunks.map(_.writeS))),
      done.size.toLong, done.count(_.error.isDefined).toLong + execFailures, errors,
      Map("lake" -> s"${lake.truths.size} events, ${Hunt.Hours} hours x ${Hunt.Flushes} files, in ${Hunt.Chunks} chunks",
        "clients" -> Hunt.Clients.toString,
        "latency_tail" -> s"p${m("hunt.tail_pct")} of ${m("hunt.queries")} queries",
        "template_p50_s" -> (if (traced.isEmpty) plain else traced).groupBy(_.template).toSeq.sortBy(_._1)
          .map { case (t, ds) => f"$t ${Stats.median(ds.map(d => (d.endUs - d.startUs) / 1e6))}%.3f (${ds.size})" }
          .mkString(", ")))
    if (!args.trace) hunt
    else {
      val c = runCorpus(spark, args, tracer)
      Outcome(hunt.metrics ++ c.metrics, hunt.attempted + c.attempted, hunt.failed + c.failed,
        hunt.errors ++ c.errors, hunt.notes ++ c.notes, c.oracleCheck)
    }
  }

  private def watch(spark: SparkSession, tracer: Tracer): CorpusBench.Watch = {
    val w = CorpusBench.Watch(Listeners.sparkStats(spark, tracer), new CorpusBench.ExecWatch)
    spark.listenerManager.register(w.execs)
    w
  }
  private def unwatch(spark: SparkSession, w: CorpusBench.Watch): Unit = {
    Listeners.drain(spark)
    spark.sparkContext.removeSparkListener(w.stats)
    spark.listenerManager.unregister(w.execs)
  }

  /** The declared-query corpus, run after hunt's passes in its traced runs:
    * the per-layer metrics of `graft.queries` and `graft.operators`. The
    * tables are generated from the seed; one pass, the queries side by side,
    * writes the answers run.py checks against the DuckDB oracles; then
    * `CorpusBench.WarmPasses` passes warm the JVM, and one traced pass
    * measures. */
  def runCorpus(spark: SparkSession, args: Args, tracer: Tracer): Outcome = {
    val t0 = System.nanoTime()
    val dir = args.work.resolve("tables").toString
    CorpusGen.write(spark, args.seed, dir)
    val answers = Files.createDirectories(args.work.resolve("corpus-answers"))
    val probe = watch(spark, new Tracer(false))
    val written = CorpusBench.writeAnswers(spark, dir, answers, Some(probe))
    unwatch(spark, probe)
    val off = new Tracer(false)
    val warm = (1 to args.warm(CorpusBench.WarmPasses).toInt).map(i => CorpusBench.pass(spark, dir, s"warm$i", off))
    val setupS = (System.nanoTime() - t0) / 1e9
    phase("corpus answered and warmed")
    val w = watch(spark, tracer)
    val jobs = new CorpusBench.JobWatch
    spark.sparkContext.addSparkListener(jobs)
    val t1 = System.nanoTime()
    val traced = CorpusBench.pass(spark, dir, "traced", tracer, Some(w))
    val wall = (System.nanoTime() - t1) / 1e9
    unwatch(spark, w)
    spark.sparkContext.removeSparkListener(jobs)
    phase("corpus traced pass")
    val ex = w.execs.all
    val actions = ex.filter(_.phase == "execute")
    val planS = actions.map(_.planMs).sum / 1e3
    val self = tracer.selfUs()
    def total(rs: Seq[CorpusBench.Run]) = rs.map(_.totalS).sum
    val m = CorpusBench.metrics(traced) ++ Map(
      "corpus.setup_s" -> setupS,
      "corpus.warm_drift_frac" -> (total(warm.last) - total(warm.head)) / total(warm.head),
      "corpus.construct_s" -> traced.map(_.constructS).sum,
      "corpus.construct_jobs" -> jobs.jobs((_, p) => p == "construct").toDouble,
      "corpus.iterative_jobs" -> jobs.jobs((q, _) => CorpusBench.group(q) == "iterative").toDouble,
      "corpus.plan_s" -> planS,
      "corpus.execute_s" -> (traced.map(_.actionS).sum - planS),
      "corpus.exchanges" -> ex.map(_.exchanges).sum.toDouble,
      "corpus.reused_exchanges" -> ex.map(_.reused).sum.toDouble,
      "corpus.shuffle_write_mb" -> w.stats.metrics(wall, args.cores).toMap.apply("spark.shuffle_write_mb"),
      "corpus.codegen_fallback_exprs" -> ex.map(_.fallbacks.toDouble).sum,
      "corpus.wscg_subtrees" -> ex.map(_.wscg.toDouble).sum,
      "corpus.scan_kb_per_query" -> probe.execs.all.map(_.scanBytes).sum / 1024.0 / CorpusBench.Queries.size) ++
      Map("self.corpus_query_ms" -> "corpus.query", "self.corpus_construct_ms" -> "corpus.construct",
        "self.corpus_execute_ms" -> "corpus.execute")
        .map { case (k, n) => k -> self.getOrElse(n, 0L) / 1e3 / math.max(1, traced.size) }
    val done = written ++ warm.flatten ++ traced
    val errors = done.flatMap(r => r.error.map(e => s"${r.query}: $e")).distinct.take(20)
    Outcome(m, done.size.toLong, done.count(_.error.isDefined).toLong, errors,
      Map("corpus" -> CorpusBench.Groups.map { case (g, qs) => s"$g: ${qs.mkString(" ")}" }.mkString("; "),
        "corpus_query_s" -> traced.map(r => f"${r.query} ${r.totalS}%.3f").mkString(", ")),
      Some((dir, answers)))
  }
}

/** A small JSON writer for the result line and the artifact. */
object Json {
  final case class Raw(text: String)
  def obj(fields: (String, Any)*): Raw =
    Raw(fields.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"; case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  private def value(v: Any): String = v match {
    case Raw(t) => t
    case s: String => str(s)
    case b: Boolean => b.toString
    case l: Long => l.toString
    case i: Int => i.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
