package graft.tools

import org.apache.spark.sql.streaming.Trigger

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** Ingest-path throughput bench (r13 verdict task 2): the ETL half (§2A
  * parse cascade + plugin pipeline) had golden correctness and a streaming
  * e2e latency number, but NO rows/sec measurement anywhere. This probe
  * synthesizes a landing corpus from the five REFERENCE sample event shapes
  * (`PipelineQueries.SamplesDir` — cloudtrail, cloudfront,
  * gsuite, syslog, vpc-flow), each landing file a `Records[]` batch of one
  * shape (the Firehose/S3 shape the reference ingests), and measures:
  *
  *   1. BATCH ingest (`Ingest.ingestBatch`): events/s, landing -> parse
  *      cascade -> 6-plugin pipeline -> partitioned parquet.
  *   2. STREAMING ingest (`StreamingIngest.start`, AvailableNow): the same
  *      path through the checkpointed file-source stream. Replay-dedup OFF:
  *      the synthetic corpus repeats records verbatim, and the dedup
  *      operator (correct behavior) would collapse them — production
  *      records are distinct.
  *   3. Driver-side per-plugin cost share: ns/event for each plugin over
  *      each sample shape it registers for.
  *
  * The reference's envelope for this work: ONE 128 MB Lambda with a 100 s
  * timeout per Firehose batch (`main.tf:467,477,487`) — PERF.md quotes the
  * measured events/s against it.
  *
  * Run: sbt 'runMain graft.tools.IngestProbe [events] [recordsPerFile] [outBase]'
  */
object IngestProbe {

  def main(args: Array[String]): Unit = {
    val total = args.headOption.map(_.toInt).getOrElse(1000000)
    val perFile = args.lift(1).map(_.toInt).getOrElse(2000)
    val base = args.lift(2).getOrElse("/tmp/graft_ingestprobe")
    val spark = graft.Engine.createSession("graft-ingest-probe", graft.Engine.localMaster)
    spark.sparkContext.setLogLevel("ERROR")

    // ---- landing corpus from the reference sample shapes ----------------
    val samples = new java.io.File(graft.queries.PipelineQueries.SamplesDir).listFiles().filter(_.getName.endsWith(".json"))
      .sortBy(_.getName)
      .map(f => f.getName.stripSuffix(".json") ->
        new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8).trim)
    require(samples.nonEmpty, s"no reference samples under ${graft.queries.PipelineQueries.SamplesDir}")
    val landing = Paths.get(base, "landing")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
    Files.createDirectories(landing)
    val nFiles = math.max(1, total / perFile)
    var written = 0L
    for (i <- 0 until nFiles) {
      val (name, content) = samples(i % samples.length)
      // one Records[] batch per file — the Firehose/S3 landing shape the
      // cascade unrolls (A5); cloudtrail-named files exercise the
      // filename source-classifier branch (A7)
      val records = Array.fill(perFile)(content).mkString("""{"Records":[""", ",", "]}")
      Files.write(landing.resolve(f"${name}_$i%05d.json"),
        records.getBytes(StandardCharsets.UTF_8))
      written += perFile
    }
    System.err.println(s"[ingestprobe] wrote $nFiles files, $written records")

    // ---- batch path ------------------------------------------------------
    val batchOut = s"$base/events_batch"
    val t0 = System.nanoTime()
    graft.pipeline.Ingest.ingestBatch(spark, s"$landing/*.json", batchOut)
    val batchSec = (System.nanoTime() - t0) / 1e9
    val batchRows = spark.read.parquet(batchOut).count()

    // ---- streaming path --------------------------------------------------
    val streamOut = s"$base/events_stream"
    val t1 = System.nanoTime()
    val q = graft.streaming.StreamingIngest.start(
      spark, landing.toString, streamOut, s"$base/ckpt",
      trigger = Trigger.AvailableNow(), dedupWatermark = None)
    q.awaitTermination()
    val streamSec = (System.nanoTime() - t1) / 1e9
    val streamRows = spark.read.parquet(streamOut).count()

    // ---- per-plugin driver microbench -------------------------------------
    import graft.json._
    import graft.pipeline._
    val parsed = samples.map { case (name, content) =>
      name -> Ingest.rawRecords(name + ".json", content).head
    }
    val plugins: Seq[(String, Plugin)] = Seq(
      "lowercase_keys" -> LowercaseKeys, "event_shell" -> EventShell,
      "gsuite_login" -> GsuiteLogin, "ip_addresses" -> IpAddresses,
      "timestamps" -> Timestamps, "ensure_eventid" -> EnsureEventId)
    val iters = 2000
    val perPlugin = plugins.map { case (pname, p) =>
      // measure over the shapes this plugin actually registers for; the
      // pipeline runs lowercase_keys + event_shell first so downstream
      // plugins see the field casing they expect in production
      val prepped = parsed.map { case (n, raw) =>
        val (r1, m1) = PluginDispatch.send(raw, Pipeline.defaultMetadata,
          Seq(LowercaseKeys, EventShell))
        (n, r1.getOrElse(raw), m1)
      }
      var n = 0L
      val s0 = System.nanoTime()
      for (_ <- 0 until iters; (_, raw, meta) <- prepped) {
        PluginDispatch.send(raw, meta, Seq(p))
        n += 1
      }
      val nsPer = (System.nanoTime() - s0).toDouble / n
      pname -> nsPer
    }
    val fullPipe = {
      var n = 0L
      val s0 = System.nanoTime()
      for (_ <- 0 until iters; (_, raw) <- parsed) { Pipeline.process(raw); n += 1 }
      (System.nanoTime() - s0).toDouble / n
    }

    val pluginJson = perPlugin.map { case (k, v) => f""""$k":$v%.0f""" }.mkString(",")
    println(
      f"""{"probe":"ingest","events":$written,"files":$nFiles,""" +
        f""""batch_sec":$batchSec%.1f,"batch_rows":$batchRows,"batch_events_per_sec":${batchRows / batchSec}%.0f,""" +
        f""""stream_sec":$streamSec%.1f,"stream_rows":$streamRows,"stream_events_per_sec":${streamRows / streamSec}%.0f,""" +
        f""""pipeline_ns_per_event_driver":$fullPipe%.0f,"per_plugin_ns":{$pluginJson}}""")
    spark.stop()
  }
}
