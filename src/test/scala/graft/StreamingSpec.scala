package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.streaming.Trigger
import java.nio.file.{Files, Paths}
import graft.streaming.StreamingIngest

/** Streaming path: landing dir -> pipeline -> checkpointed partitioned
  * parquet, with replay dedup (SURVEY §7 step 5). Uses AvailableNow triggers
  * to drain deterministically. */
class StreamingSpec extends AnyFunSuite with SparkSuite {

  private var base: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    base = Files.createTempDirectory("graft_stream").toString
  }

  /** The five reference samples, in name order. */
  private def sampleFiles: Seq[java.io.File] =
    new java.io.File(graft.queries.PipelineQueries.SamplesDir).listFiles()
      .filter(_.getName.endsWith(".json")).sortBy(_.getName).toSeq

  private def write(dir: String, name: String, content: String): Unit = {
    Files.createDirectories(Paths.get(dir))
    Files.writeString(Paths.get(dir, name), content)
  }

  test("streaming ingest: samples land as partitioned shell events, replay dedups") {
    val landing = s"$base/landing"
    val out = s"$base/events"
    val ckpt = s"$base/ckpt"

    // two events carrying their own eventid (the replay-dedup key) and one without
    write(landing, "a.json", """{"eventid": "fixed-001", "msg": "first", "eventtime": "2020-01-01T10:00:00Z"}""")
    write(landing, "b.json", """{"eventid": "fixed-002", "msg": "second", "eventtime": "2020-01-01T11:00:00Z"}""")

    val q1 = StreamingIngest.start(spark, landing, out, ckpt, Trigger.AvailableNow())
    q1.awaitTermination(120000)

    val first = spark.read.parquet(out)
    assert(first.count() == 2)
    // shell conformance + partition columns from the directory layout
    val cols = first.columns.toSet
    Seq("eventid", "utctimestamp", "severity", "summary", "category", "source",
      "tags", "plugins", "details", "year", "month", "day", "hour")
      .foreach(c => assert(cols.contains(c), s"missing $c"))
    // timestamps plugin picked up eventtime
    assert(first.filter(org.apache.spark.sql.functions.col("utctimestamp") ===
      "2020-01-01T10:00:00+00:00").count() == 1)
    // producer eventid was moved into details and a uuid assigned (reference
    // event_shell + ensure_eventid behavior)
    assert(first.filter(org.apache.spark.sql.functions
      .get_json_object(org.apache.spark.sql.functions.col("details"), "$.eventid") === "fixed-001")
      .count() == 1)

    // replay: identical raw content re-delivered in a new file within the
    // watermark -> dropped by the content-hash dedup
    write(landing, "a_replay.json", """{"eventid": "fixed-001", "msg": "first", "eventtime": "2020-01-01T10:00:00Z"}""")
    val q2 = StreamingIngest.start(spark, landing, out, ckpt, Trigger.AvailableNow())
    q2.awaitTermination(120000)

    val after = spark.read.parquet(out)
    assert(after.filter(org.apache.spark.sql.functions
      .get_json_object(org.apache.spark.sql.functions.col("details"), "$.eventid") === "fixed-001")
      .count() == 1)
    assert(after.count() == 2)
  }

  test("streaming ingest of the five reference samples matches batch goldens") {
    val landing = s"$base/landing_samples"
    Files.createDirectories(Paths.get(landing))
    sampleFiles.foreach(f => Files.copy(f.toPath, Paths.get(landing, f.getName)))
    val q = StreamingIngest.start(spark, landing, s"$base/events_samples", s"$base/ckpt_samples",
      Trigger.AvailableNow())
    q.awaitTermination(180000)
    val out = spark.read.parquet(s"$base/events_samples")
    assert(out.count() == 5)
    import org.apache.spark.sql.functions._
    val byIp = out.select(
      get_json_object(col("details"), "$.sourceipaddress").as("ip"),
      col("utctimestamp"), col("source")).collect()
      .map(r => Option(r.getString(0)) -> (r.getString(1), r.getString(2))).toMap
    // golden values from the plugin test files (test_plugin_*.py)
    assert(byIp(Some("54.21.12.27"))._1 == "2019-09-04T17:54:59+00:00")
    assert(byIp(Some("139.59.66.23"))._1 == "2020-09-01T17:48:18+00:00")
    assert(byIp(Some("198.51.100.1"))._1 == "2014-12-14T04:06:50+00:00")
    assert(byIp(Some("123.456.253.226"))._2 == "gsuite")
  }

  test("direct-producer records run the identical cascade as the file path") {
    // the reference's second ingest path: producers put_record_batch base64
    // payloads straight into the stream (processor.py:24-28) — same five
    // samples, this time arriving as per-record blobs from a non-file
    // source, must produce field-identical events including the replay key
    val s = spark
    import s.implicits._
    val contents = sampleFiles.map(f => f.getName -> Files.readString(f.toPath))

    val landing = s"$base/landing_producer_twin"
    Files.createDirectories(Paths.get(landing))
    contents.foreach { case (n, c) => Files.writeString(Paths.get(landing, n), c) }
    val fq = StreamingIngest.eventsStream(spark, landing)
      .writeStream.format("memory").queryName("file_cascade_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    fq.awaitTermination(120000)

    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, String)]
    mem.addData(contents.map { case (n, c) =>
      (n, java.util.Base64.getEncoder.encodeToString(c.getBytes("UTF-8")))
    }: _*)
    // one malformed payload mixed in: it must DROP, not kill the stream
    mem.addData(("bad.json", "!!!not-base64!!!"))
    val pq = StreamingIngest.eventsFromProducer(mem.toDF().toDF("origin", "data"))
      .writeStream.format("memory").queryName("producer_cascade_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    pq.awaitTermination(120000)

    // every deterministic field must agree; eventid is a fresh uuid per run,
    // ingest_ts and the injected _utcprocessedtimestamp are wall-clock, so
    // they stay out of the comparison (the replay key hashes the RAW record,
    // before metadata injection, so it must still match exactly)
    def canon(tbl: String): Seq[String] = spark.sql(
      s"""SELECT source, category, severity, utctimestamp, summary,
            to_json(tags) AS tags, to_json(plugins) AS plugins,
            regexp_replace(details,
              '"_utcprocessedtimestamp":"[^"]+"',
              '"_utcprocessedtimestamp":"X"') AS details,
            dedup_key
          FROM $tbl""").collect().map(_.toString).sorted.toSeq
    val fileSide = canon("file_cascade_out")
    val producerSide = canon("producer_cascade_out")
    assert(producerSide.length == 5)
    assert(producerSide == fileSide)
  }

  test("producer path is source-agnostic: a raw TCP socket source runs the identical cascade (no pipeline code forked)") {
    // the §3.2 direct-producer path again, but over a REAL external source:
    // a TCP socket plays the delivery stream, each line one producer record
    // framed "origin,base64(payload)" (base64 of the whole sample is one
    // line, so multi-line JSON payloads survive the line-oriented wire
    // format exactly like Firehose Record.data). The mapping into
    // eventsFromProducer is ONE selectExpr — everything downstream is the
    // same cascade object the file and memory paths run.
    val contents = sampleFiles.map(f => f.getName -> Files.readString(f.toPath))

    // expected side: the file-path cascade over the same five samples
    val landing = s"$base/landing_socket_twin"
    Files.createDirectories(Paths.get(landing))
    contents.foreach { case (n, c) => Files.writeString(Paths.get(landing, n), c) }
    val fq = StreamingIngest.eventsStream(spark, landing)
      .writeStream.format("memory").queryName("socket_twin_file_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    fq.awaitTermination(120000)

    val server = new java.net.ServerSocket(0, 1, java.net.InetAddress.getByName("127.0.0.1"))
    val writer = new Thread(() => {
      try {
        val sock = server.accept()
        val w = new java.io.PrintWriter(sock.getOutputStream, true)
        contents.foreach { case (n, c) =>
          w.println(n + "," + java.util.Base64.getEncoder.encodeToString(c.getBytes("UTF-8")))
        }
        w.flush() // leave the socket open: the source treats EOF as stream end
      } catch { case _: Throwable => () }
    })
    writer.setDaemon(true)
    writer.start()

    val records = spark.readStream.format("socket")
      .option("host", "127.0.0.1").option("port", server.getLocalPort).load()
      .selectExpr(
        "substring(value, 1, instr(value, ',') - 1) AS origin",
        "substring(value, instr(value, ',') + 1) AS data")
    val sq = StreamingIngest.eventsFromProducer(records)
      .writeStream.format("memory").queryName("socket_cascade_out")
      .outputMode("append").start()
    try {
      val deadline = System.nanoTime() + 120L * 1000000000L
      while (spark.table("socket_cascade_out").count() < 5 && System.nanoTime() < deadline)
        Thread.sleep(250)
    } finally {
      sq.stop()
      server.close()
    }

    def canonS(tbl: String): Seq[String] = spark.sql(
      s"""SELECT source, category, severity, utctimestamp, summary,
            to_json(tags) AS tags, to_json(plugins) AS plugins,
            regexp_replace(details,
              '"_utcprocessedtimestamp":"[^"]+"',
              '"_utcprocessedtimestamp":"X"') AS details,
            dedup_key
          FROM $tbl""").collect().map(_.toString).sorted.toSeq
    val socketSide = canonS("socket_cascade_out")
    assert(socketSide.length == 5, s"expected 5 events, got ${socketSide.length}")
    assert(socketSide == canonS("socket_twin_file_out"),
      "socket-source cascade output must be field-identical to the file path")
  }

  test("batch ingest scales across many small files") {
    val landing = s"$base/many"
    Files.createDirectories(Paths.get(landing))
    (0 until 200).foreach { i =>
      Files.writeString(Paths.get(landing, f"ev_$i%03d.json"),
        s"""{"n": $i, "eventtime": "2022-01-01T00:00:00Z"}""")
    }
    graft.pipeline.Ingest.ingestBatch(spark, s"$landing/*.json", s"$base/many_out")
    val out = spark.read.parquet(s"$base/many_out")
    assert(out.count() == 200)
    import org.apache.spark.sql.functions._
    assert(out.select(get_json_object(col("details"), "$.n").cast("long")).distinct().count() == 200)
  }

  test("schema drift never breaks the table (the reference's core thesis)") {
    // two producers with completely different shapes land in the SAME table:
    // the shell is fixed, everything else rides in the details JSON
    val landing = s"$base/drift"
    write(landing, "shape_a.json", """{"eventtime": "2023-01-01T00:00:00Z", "user": "alice", "action": {"type": "login", "mfa": true}}""")
    val q1 = StreamingIngest.start(spark, landing, s"$base/drift_out", s"$base/drift_ckpt", Trigger.AvailableNow())
    q1.awaitTermination(120000)
    write(landing, "shape_b.json", """{"start": 1672531200, "bytes": 99, "nested": {"deep": {"deeper": [1, 2, 3]}}}""")
    val q2 = StreamingIngest.start(spark, landing, s"$base/drift_out", s"$base/drift_ckpt", Trigger.AvailableNow())
    q2.awaitTermination(120000)

    import org.apache.spark.sql.functions._
    val out = spark.read.parquet(s"$base/drift_out")
    assert(out.count() == 2)
    // same fixed shell schema for both; per-shape fields via JSON paths
    assert(out.filter(get_json_object(col("details"), "$.action.mfa") === "true").count() == 1)
    assert(out.filter(get_json_object(col("details"), "$.nested.deep.deeper[2]") === "3").count() == 1)
    // the epoch int in `start` was coerced by the timestamps plugin
    assert(out.filter(col("utctimestamp") === "2023-01-01T00:00:00+00:00").count() == 2)
  }

  test("streaming hourly window counts with watermark") {
    val landing = s"$base/landing2"
    write(landing, "ev.json",
      """[{"eventtime": "2020-01-01T10:05:00Z"}, {"eventtime": "2020-01-01T10:55:00Z"}, {"eventtime": "2020-01-01T11:05:00Z"}]""")

    val counts = StreamingIngest.hourlyCounts(
      StreamingIngest.eventsStream(spark, landing))
    val q = counts.writeStream
      .format("memory")
      .queryName("hourly")
      .outputMode("append")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000)

    // append mode only emits closed windows; re-reading the state via a
    // complete-mode memory sink is simpler for a drain test
    val q2 = StreamingIngest.hourlyCounts(
      StreamingIngest.eventsStream(spark, landing))
      .writeStream.format("memory").queryName("hourly_c")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q2.awaitTermination(120000)
    val rows = spark.sql("SELECT hour_start, n FROM hourly_c ORDER BY hour_start").collect()
    assert(rows.length == 2)
    assert(rows.map(_.getLong(1)).toSeq == Seq(2L, 1L))
  }

  test("streaming errors sink: failures land as NDJSON, good events unaffected") {
    val landing = s"$base/landing_err"
    write(landing, "bad.json", """{"details": "notanobject", "extra": 1}""")
    write(landing, "good.json", """{"msg": "fine", "eventtime": "2020-01-01T00:00:00Z"}""")

    val qe = StreamingIngest.start(spark, landing, s"$base/err_events", s"$base/err_ckpt1",
      Trigger.AvailableNow())
    val qf = StreamingIngest.startErrorsStream(spark, landing, s"$base/err_errors",
      s"$base/err_ckpt2", Trigger.AvailableNow())
    qe.awaitTermination(120000)
    qf.awaitTermination(120000)

    assert(spark.read.parquet(s"$base/err_events").count() == 1)
    val errors = spark.read.json(s"$base/err_errors")
    assert(errors.count() == 1)
    val err = errors.collect().head
    assert(err.getAs[String]("raw").contains("notanobject"))
    assert(err.getAs[String]("file").endsWith("bad.json"))
  }

  test("stream-static threat-intel enrichment joins broadcast, tags matching events") {
    val landing = s"$base/landing_intel"
    write(landing, "a.json", """{"sourceipaddress": "203.0.113.9", "eventtime": "2020-01-01T00:00:00Z"}""")
    write(landing, "b.json", """{"sourceipaddress": "198.51.100.7", "eventtime": "2020-01-01T00:00:00Z"}""")
    val s = spark
    import s.implicits._
    val intel = Seq(("203.0.113.9", "botnet-c2")).toDF("ip", "threat")

    val q = StreamingIngest.withThreatIntel(
      StreamingIngest.eventsStream(spark, landing), intel)
      .writeStream.format("memory").queryName("intel_out")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val rows = spark.sql(
      """SELECT get_json_object(details, '$.sourceipaddress') AS ip, tags
         FROM intel_out""").collect()
    assert(rows.length == 2)
    val byIp = rows.map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(byIp("203.0.113.9").contains("botnet-c2"))
    assert(!byIp("198.51.100.7").contains("botnet-c2"))
  }

  test("compaction: many small files collapse to target count, rows identical") {
    val landing = s"$base/many_compact"
    Files.createDirectories(Paths.get(landing))
    (0 until 120).foreach { i =>
      Files.writeString(Paths.get(landing, f"ev_$i%03d.json"),
        s"""{"n": $i, "eventtime": "2022-01-01T00:00:00Z"}""")
    }
    val out = s"$base/compact_out"
    graft.pipeline.Ingest.ingestBatch(spark, s"$landing/*.json", out)
    val table = spark.read.parquet(out)
    val beforeRows = table.collect().map(_.toString).sorted.toSeq
    // all 120 events land in one ingest-time partition; find its leaf dir
    val results = graft.operators.Compaction.compactSettledPartitions(
      spark, out, targetBytes = 512L * 1024 * 1024, settledMs = -1000)
    assert(results.nonEmpty, "no partition was compacted")
    val (dir, before, after) = results.head
    assert(before > after && after == 1, s"$dir: $before -> $after")
    // partition discovery still works and content is byte-for-byte the same
    val afterRows = spark.read.parquet(out).collect().map(_.toString).sorted.toSeq
    assert(afterRows == beforeRows)
  }

  test("compaction and retention over a not-yet-created events directory do nothing") {
    // a maintenance run can fire before the first micro-batch has written
    // the table; both settled-partition sweeps return empty, not throw
    val missing = s"$base/never_written"
    assert(graft.operators.Compaction.compactSettledPartitions(spark, missing, settledMs = -1000).isEmpty)
    assert(graft.operators.Retention.expireSettledPartitions(spark, missing, maxAgeMs = 0).isEmpty)
    assert(!Files.exists(Paths.get(missing)))
  }

  test("compaction recovers a partition stranded in its crash aside by a mid-swap crash") {
    val landing = s"$base/crash_compact"
    Files.createDirectories(Paths.get(landing))
    (0 until 10).foreach { i =>
      Files.writeString(Paths.get(landing, f"ev_$i%02d.json"),
        s"""{"n": $i, "eventtime": "2022-03-01T00:00:00Z"}""")
    }
    val out = s"$base/crash_compact_out"
    graft.pipeline.Ingest.ingestBatch(spark, s"$landing/*.json", out)
    val beforeRows = spark.read.parquet(out).collect().map(_.toString).sorted.toSeq
    // find the leaf partition and simulate a crash between the two renames:
    // partition moved to its hidden crash aside, nothing put back
    import org.apache.hadoop.fs.Path
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def leaf(p: Path): Path = {
      val dirs = fs.listStatus(p).filter(_.isDirectory).map(_.getPath)
        .filterNot(c => c.getName.startsWith("_") || c.getName.startsWith("."))
      if (dirs.isEmpty) p else leaf(dirs.head)
    }
    val part = leaf(new Path(out))
    val aside = graft.operators.StoreCommit.asideOf(part)
    assert(fs.rename(part, aside), "test setup: move partition aside")
    // pre-fix: listStatus(part) threw FileNotFoundException forever after
    val (before, after) = graft.operators.Compaction.compactPartition(
      spark, part.toString, targetBytes = 512L * 1024 * 1024)
    assert(before >= after, s"$before -> $after")
    assert(!fs.exists(aside), "crash leftover should be consumed by recovery")
    val afterRows = spark.read.parquet(out).collect().map(_.toString).sorted.toSeq
    assert(afterRows == beforeRows)
  }

  test("zorder: morton interleave is exact and clustering makes box queries skip files") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    // exact interleave against a bit-by-bit reference
    def ref(a: Long, b: Long): Long =
      (0 until 32).foldLeft(0L) { (acc, i) =>
        acc | ((a >> i & 1L) << (2 * i)) | ((b >> i & 1L) << (2 * i + 1))
      }
    val rng0 = new scala.util.Random(9)
    val cases = Seq((0L, 0L), (3L, 1L), (1L, 3L), (0xffffffffL, 0L), (12345L, 67890L)) ++
      Seq.fill(200)((rng0.nextInt(Int.MaxValue).toLong, rng0.nextInt(Int.MaxValue).toLong))
    val got = cases.toDF("a", "b")
      .select(graft.operators.Zorder.mortonCode(col("a"), col("b")).as("z"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == cases.map { case (a, b) => ref(a, b) })

    // arrival-order layout: every file spans the full (x, y) range
    val out = s"$base/zorder_out/part=0"
    val rng = new scala.util.Random(5)
    val rows = Seq.fill(40000)((rng.nextInt(1024).toLong, rng.nextInt(1024).toLong, rng.nextLong()))
    rows.toDF("x", "y", "payload").repartition(8).write.parquet(out)
    def filesTouched(): Long = spark.read.parquet(out)
      .filter(col("x") < 64 && col("y") < 64)
      .select(input_file_name()).distinct().count()
    val beforeTouched = filesTouched()
    assert(beforeTouched == 8, s"arrival order should spread the box over all files: $beforeTouched")

    val (before, after) = graft.operators.Zorder.clusterPartition(spark, out, "x", "y", 8)
    assert(before == 8 && after == 8)
    // content is identical, only the layout moved
    val afterRows = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    assert(afterRows == rows.sorted)
    // the 1/256 box now lives in a compact z-range: few files contain it
    val afterTouched = filesTouched()
    assert(afterTouched <= 2, s"z-order should confine the box query: $afterTouched files")
  }

  test("streaming upsert sink: later micro-batches correct earlier rows, effectively once") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val out = s"$base/upsert_stream_out"
    val mem = MemoryStream[(Long, String, String)]
    def drain(): Unit = {
      val q = StreamingIngest.foldEachBatch(
        mem.toDF().toDF("id", "payload", "year"), s"$base/upsert_stream_ckpt",
        Trigger.AvailableNow()) { (b, _) =>
        graft.operators.Merge.upsertPartitioned(b.sparkSession, out, b, "id", Seq("year"))
      }
      q.awaitTermination(120000)
    }
    // batch 1: initial rows across two partitions
    mem.addData((1L, "a", "2026"), (2L, "b", "2026"), (3L, "c", "2025"))
    drain()
    assert(spark.read.parquet(out).count() == 3)
    // batch 2: correct id 2, insert id 4; the 2025 partition is untouched
    mem.addData((2L, "b-fixed", "2026"), (4L, "d", "2026"))
    drain()
    val rows = spark.read.parquet(out).select("id", "payload")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(1L -> "a", 2L -> "b-fixed", 3L -> "c", 4L -> "d"))
  }

  test("streaming index maintenance: ingested vectors become searchable after the batch commits") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = s"$base/idx_stream_corpus"
    // seed the corpus table from the fixture, index it once (build phase)
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .write.parquet(s"$corpus/embeddings.parquet")
    val idx = s"$corpus/index"
    graft.operators.VectorIndex.buildIvfPq(spark, corpus, idx)
    val codebookBefore =
      spark.read.parquet(s"$idx/pq_codebook").collect().map(_.toString).sorted.toSeq
    val nBase = spark.read.parquet(s"$corpus/embeddings.parquet").count()
    // live delta: exact copies of the 5 query vectors under fresh ids — once
    // indexed, each must surface as its query's exact-rerank top-1 neighbor
    val delta = spark.read.parquet(s"$corpus/embeddings.parquet")
      .filter(col("vec_id") < 5).collect()
      .map(r => (r.getLong(0) + 10000L, r.getSeq[Float](1), r.getInt(2))).toSeq
    val mem = MemoryStream[(Long, Seq[Float], Int)]
    def drain(): Unit = {
      val q = StreamingIngest.startIndexMaintenanceStream(
        mem.toDF().toDF("vec_id", "embedding", "label"), corpus, idx,
        s"$base/idx_stream_ckpt", Trigger.AvailableNow())
      q.awaitTermination(180000)
    }
    mem.addData(delta: _*)
    drain()
    // the whole extended corpus is indexed, codebooks untouched (appendIvfPq
    // stale-until-rebuild semantics), publish left no hidden siblings
    assert(spark.read.parquet(s"$idx/cells").count() == nBase + 5)
    assert(spark.read.parquet(s"$idx/codes").count() == (nBase + 5) * 8)
    assert(spark.read.parquet(s"$idx/pq_codebook").collect().map(_.toString).sorted.toSeq
      == codebookBefore)
    import org.apache.hadoop.fs.Path
    val fs = new Path(idx).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(corpus, ".index.building")))
    assert(!fs.exists(new Path(corpus, ".index.previous")))
    // searchable: the streamed duplicate (cosine 1.0 to its query) wins rn=1
    val top1 = graft.operators.VectorIndex.searchIvfPqRerank(spark, corpus, idx)
      .filter(col("rn") === 1).select("query_id", "neighbor_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 5L).foreach(i => assert(top1(i) == 10000L + i, s"query $i top1 ${top1(i)}"))
    // replaying the same delta (at-least-once upstream) changes nothing
    mem.addData(delta: _*)
    drain()
    assert(spark.read.parquet(s"$corpus/embeddings.parquet").count() == nBase + 5)
    assert(spark.read.parquet(s"$idx/codes").count() == (nBase + 5) * 8)
  }

  test("streaming index maintenance dispatches on flavor: binary appends, no drift metering") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = s"$base/idx_binstream_corpus"
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .write.parquet(s"$corpus/embeddings.parquet")
    val idx = s"$corpus/index"
    graft.operators.VectorIndex.buildBinary(spark, corpus, idx)
    val nBase = spark.read.parquet(s"$corpus/embeddings.parquet").count()
    val delta = spark.read.parquet(s"$corpus/embeddings.parquet")
      .filter(col("vec_id") < 5).collect()
      .map(r => (r.getLong(0) + 10000L, r.getSeq[Float](1), r.getInt(2))).toSeq
    val mem = MemoryStream[(Long, Seq[Float], Int)]
    mem.addData(delta: _*)
    // autoRebuildThreshold is set to an always-fires value: the binary
    // branch must SKIP drift metering entirely (an ivfpq driftRatio against
    // a binary index would throw on the missing codes tables and kill the
    // stream) — surviving the batch IS the dispatch pin
    val q = StreamingIngest.startIndexMaintenanceStream(
      mem.toDF().toDF("vec_id", "embedding", "label"), corpus, idx,
      s"$base/idx_binstream_ckpt", Trigger.AvailableNow(),
      autoRebuildThreshold = Some(0.0))
    q.awaitTermination(180000)
    assert(spark.read.parquet(s"$idx/bits").count() == nBase + 5)
    // the streamed exact twin (hamming 0, exact cosine 1.0) wins rn=1
    val top1 = graft.operators.VectorIndex.searchBinary(spark, corpus, idx)
      .filter(col("rn") === 1).select("query_id", "neighbor_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 5L).foreach(i => assert(top1(i) == 10000L + i, s"query $i top1 ${top1(i)}"))
  }

  test("streaming index maintenance: an out-of-order batch falls back to the corpus re-encode (no eviction)") {
    // r16 ADVICE (medium): the O(delta) appendRows fast path keeps old codes
    // BELOW the batch min — a late row arriving after higher ids were
    // indexed would silently evict every indexed row above it. The guard
    // must detect rawMin at-or-below the ReplayGuard frontier and re-encode
    // from the corpus at that boundary instead.
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = s"$base/idx_ooo_corpus"
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .write.parquet(s"$corpus/embeddings.parquet")
    val idx = s"$corpus/index"
    graft.operators.VectorIndex.buildIvfPq(spark, corpus, idx)
    val nBase = spark.read.parquet(s"$corpus/embeddings.parquet").count()
    def twin(src: Long, id: Long) = spark.read.parquet(s"$corpus/embeddings.parquet")
      .filter(col("vec_id") === src).collect()
      .map(r => (id, r.getSeq[Float](1), r.getInt(2))).head
    val mem = MemoryStream[(Long, Seq[Float], Int)]
    def drain(): Unit = {
      val q = StreamingIngest.startIndexMaintenanceStream(
        mem.toDF().toDF("vec_id", "embedding", "label"), corpus, idx,
        s"$base/idx_ooo_ckpt", Trigger.AvailableNow())
      q.awaitTermination(180000)
    }
    // batch 1 (monotonic): ids 10000..10004 ride the O(delta) fast path
    mem.addData((0L until 5L).map(i => twin(i, 10000L + i)): _*)
    drain()
    assert(spark.read.parquet(s"$idx/cells").count() == nBase + 5)
    // batch 2 (OUT OF ORDER): vec_id 9000 is below the 10004 frontier.
    // Without the guard, appendRows(rawMin=9000) keeps only codes < 9000 —
    // evicting all five rows indexed above. The fallback re-encodes the
    // corpus tail >= 9000, so everything stays indexed.
    mem.addData(twin(5L, 9000L), twin(6L, 10010L))
    drain()
    assert(spark.read.parquet(s"$corpus/embeddings.parquet").count() == nBase + 7)
    assert(spark.read.parquet(s"$idx/cells").count() == nBase + 7,
      "out-of-order batch must not evict previously indexed rows")
    assert(spark.read.parquet(s"$idx/codes").count() == (nBase + 7) * 8)
    val indexed = spark.read.parquet(s"$idx/cells")
      .filter(col("vec_id") >= 9000L).select("vec_id")
      .collect().map(_.getLong(0)).sorted.toSeq
    assert(indexed == Seq(9000L, 10000L, 10001L, 10002L, 10003L, 10004L, 10010L))
  }

  test("streaming index maintenance: drift past the threshold triggers an in-loop rebuild") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = s"$base/idx_rebuild_corpus"
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .write.parquet(s"$corpus/embeddings.parquet")
    val idx = s"$corpus/index"
    graft.operators.VectorIndex.buildIvfPq(spark, corpus, idx)
    val nBase = spark.read.parquet(s"$corpus/embeddings.parquet").count()
    assert(graft.operators.VectorIndex.trainBoundOf(spark, idx) == nBase)
    val codebookBefore =
      spark.read.parquet(s"$idx/pq_codebook").collect().map(_.toString).sorted.toSeq
    val delta = spark.read.parquet(s"$corpus/embeddings.parquet")
      .filter(col("vec_id") < 5).collect()
      .map(r => (r.getLong(0) + 10000L, r.getSeq[Float](1), r.getInt(2))).toSeq
    val mem = MemoryStream[(Long, Seq[Float], Int)]
    // data BEFORE start: AvailableNow snapshots the available offsets when
    // the query starts, so a later addData may be silently skipped
    mem.addData(delta: _*)
    // threshold 0 => any measured drift exceeds it: the batch must append,
    // detect, RETRAIN on the extended corpus, and advance the recorded
    // training boundary — the full closed loop in one micro-batch
    val q = StreamingIngest.startIndexMaintenanceStream(
      mem.toDF().toDF("vec_id", "embedding", "label"), corpus, idx,
      s"$base/idx_rebuild_ckpt", Trigger.AvailableNow(), autoRebuildThreshold = Some(0.0))
    q.awaitTermination(180000)
    assert(graft.operators.VectorIndex.trainBoundOf(spark, idx) == 10005L,
      "rebuild must advance the training boundary past the streamed ids")
    val codebookAfter =
      spark.read.parquet(s"$idx/pq_codebook").collect().map(_.toString).sorted.toSeq
    assert(codebookAfter != codebookBefore, "rebuild must retrain the codebooks")
    assert(spark.read.parquet(s"$idx/cells").count() == nBase + 5)
    // the rebuilt index still serves, atomically published
    assert(graft.operators.VectorIndex.searchIvfPq(spark, corpus, idx).count() > 0)
    import org.apache.hadoop.fs.Path
    val fs = new Path(idx).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(corpus, ".index.building")))
    assert(!fs.exists(new Path(corpus, ".index.previous")))
  }

  test("streaming index maintenance: replay heals a crash between corpus write and index publish") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val corpus = s"$base/idx_crash_corpus"
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .write.parquet(s"$corpus/embeddings.parquet")
    val idx = s"$corpus/index"
    graft.operators.VectorIndex.buildIvfPq(spark, corpus, idx)
    val nBase = spark.read.parquet(s"$corpus/embeddings.parquet").count()
    val delta = spark.read.parquet(s"$corpus/embeddings.parquet")
      .filter(col("vec_id") < 5).collect()
      .map(r => (r.getLong(0) + 10000L, r.getSeq[Float](1), r.getInt(2))).toSeq
    // simulate the crash window: the batch's corpus write LANDED but the
    // index publish did not (job died between the two) — the replayed batch
    // anti-joins to empty against the corpus, so a boundary derived from the
    // post-anti-join remainder would skip the index append forever and
    // leave these vectors stored but unsearchable
    delta.toDF("vec_id", "embedding", "label")
      .write.mode("append").parquet(s"$corpus/embeddings.parquet")
    assert(spark.read.parquet(s"$corpus/embeddings.parquet").count() == nBase + 5)
    assert(spark.read.parquet(s"$idx/cells").count() == nBase) // NOT indexed yet
    val mem = MemoryStream[(Long, Seq[Float], Int)]
    mem.addData(delta: _*) // the at-least-once replay of the same batch
    val q = StreamingIngest.startIndexMaintenanceStream(
      mem.toDF().toDF("vec_id", "embedding", "label"), corpus, idx,
      s"$base/idx_crash_ckpt", Trigger.AvailableNow())
    q.awaitTermination(180000)
    // healed: no duplicate corpus rows, and the stranded vectors are indexed
    assert(spark.read.parquet(s"$corpus/embeddings.parquet").count() == nBase + 5)
    assert(spark.read.parquet(s"$idx/cells").count() == nBase + 5)
    assert(spark.read.parquet(s"$idx/codes").count() == (nBase + 5) * 8)
    val top1 = graft.operators.VectorIndex.searchIvfPqRerank(spark, corpus, idx)
      .filter(col("rn") === 1).select("query_id", "neighbor_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (0L until 5L).foreach(i => assert(top1(i) == 10000L + i, s"query $i top1 ${top1(i)}"))
  }

  test("lake lifecycle: ingest -> compact -> zorder -> merge -> retention compose on one table") {
    // the maintenance operators share one swap discipline; this drives a
    // table through the whole lifecycle and checks every stage leaves a
    // consistent, fully-readable table with exactly the expected rows
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val out = s"$base/lifecycle"
    // "ingested": two date partitions, many small files each (streaming shape)
    val rows = (0L until 2000L).map(i => (i, i % 1000, (i * 7) % 1000, if (i % 2 == 0) "2026" else "2021"))
    rows.toDF("id", "x", "y", "year").repartition(20)
      .write.partitionBy("year").parquet(out)

    // 1. compact the settled partitions down to one file each
    val compacted = graft.operators.Compaction.compactSettledPartitions(
      spark, out, targetBytes = 512L * 1024 * 1024, settledMs = -1000)
    assert(compacted.size == 2 && compacted.forall(_._3 == 1))

    // 2. re-cluster the hot partition for (x, y) box scans
    val (_, zFiles) = graft.operators.Zorder.clusterPartition(spark, s"$out/year=2026", "x", "y", 4)
    assert(zFiles == 4)
    assert(spark.read.parquet(out).count() == 2000)

    // 3. correct one row and append one, copy-on-write
    val updates = Seq((0L, 999L, 999L, "2026"), (99999L, 1L, 1L, "2026"))
      .toDF("id", "x", "y", "year")
    val merged = graft.operators.Merge.upsertPartitioned(spark, out, updates, "id", Seq("year"))
    assert(merged.map(r => (r._2, r._3)) == Seq((1L, 1L)))

    // 4. expire the aged partition
    import org.apache.hadoop.fs.Path
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val now = System.currentTimeMillis()
    val day = 24L * 3600 * 1000
    fs.listStatus(new Path(s"$out/year=2021")).filter(_.isFile)
      .foreach(f => fs.setTimes(f.getPath, now - 400 * day, -1))
    val expired = graft.operators.Retention.expireSettledPartitions(
      spark, out, maxAgeMs = 360 * day, nowMs = now)
    assert(expired.size == 1)

    // final state: the 1000 even-id 2026 rows, id 0 corrected, one insert
    val fin = spark.read.parquet(out)
    assert(fin.count() == 1001)
    assert(fin.filter(col("id") === 0L).select("x").head().getLong(0) == 999L)
    assert(fin.filter(col("id") === 99999L).count() == 1)
    assert(fin.filter(col("year") === "2021").count() == 0)
  }

  test("retention: expired partitions gone, live ones intact, ancestors pruned") {
    val out = s"$base/retention_out"
    val s = spark
    import s.implicits._
    Seq((1L, "2021", "01"), (2L, "2021", "01"), (3L, "2026", "08"))
      .toDF("n", "year", "month")
      .write.partitionBy("year", "month").parquet(out)
    import org.apache.hadoop.fs.Path
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val now = System.currentTimeMillis()
    val day = 24L * 3600 * 1000
    // age the 2021 partition's files past the 90-day window (mtime is the
    // same signal S3 lifecycle keys on); the 2026 partition stays fresh
    val oldLeaf = new Path(s"$out/year=2021/month=01")
    fs.listStatus(oldLeaf).filter(_.isFile)
      .foreach(f => fs.setTimes(f.getPath, now - 100 * day, -1))

    val expired = graft.operators.Retention.expireSettledPartitions(
      spark, out, maxAgeMs = 90 * day, nowMs = now)
    assert(expired.map(new Path(_).getName) == Seq("month=01"))
    assert(!fs.exists(oldLeaf))
    // the emptied year=2021 ancestor is pruned so discovery never lists it
    assert(!fs.exists(new Path(s"$out/year=2021")))
    // live data readable and complete; expired rows gone
    val rows = spark.read.parquet(out).select("n").collect().map(_.getLong(0)).sorted
    assert(rows.toSeq == Seq(3L))
    // idempotent: a second run expires nothing
    assert(graft.operators.Retention.expireSettledPartitions(
      spark, out, maxAgeMs = 90 * day, nowMs = now).isEmpty)
  }

  test("merge: copy-on-write upsert rewrites only touched partitions") {
    val out = s"$base/merge_out"
    val s = spark
    import s.implicits._
    Seq(
      (1L, "one", "2026", "01"), (2L, "two", "2026", "01"),
      (3L, "three", "2026", "02"))
      .toDF("id", "payload", "year", "month")
      .write.partitionBy("year", "month").parquet(out)
    import org.apache.hadoop.fs.Path
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val untouchedMtimes = fs.listStatus(new Path(s"$out/year=2026/month=02"))
      .filter(_.isFile).map(f => f.getPath.getName -> f.getModificationTime).toMap

    // one correction for an existing id, one insert into the same partition,
    // one insert opening a brand-new partition
    val updates = Seq(
      (2L, "two-fixed", "2026", "01"),
      (4L, "four", "2026", "01"),
      (5L, "five", "2026", "03"))
      .toDF("id", "payload", "year", "month")
    val results = graft.operators.Merge.upsertPartitioned(
      spark, out, updates, "id", Seq("year", "month")).sortBy(_._1)
    assert(results.map { case (p, r, i) => (new Path(p).toUri.getPath.split("/").takeRight(2).mkString("/"), r, i) } ==
      Seq(("year=2026/month=01", 1L, 1L), ("year=2026/month=03", 0L, 1L)))

    val rows = spark.read.parquet(out).select("id", "payload")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(1L -> "one", 2L -> "two-fixed", 3L -> "three", 4L -> "four", 5L -> "five"))
    // the untouched partition's files were never rewritten
    val after = fs.listStatus(new Path(s"$out/year=2026/month=02"))
      .filter(_.isFile).map(f => f.getPath.getName -> f.getModificationTime).toMap
    assert(after == untouchedMtimes)

    // idempotent: replaying the same batch replaces (not duplicates) its rows
    val again = graft.operators.Merge.upsertPartitioned(
      spark, out, updates, "id", Seq("year", "month")).sortBy(_._1)
    assert(again.map(r => (r._2, r._3)) == Seq((2L, 0L), (1L, 0L)))
    assert(spark.read.parquet(out).count() == 5)
  }

  test("delete: targeted erasure rewrites touched partitions, drops emptied ones, replays idempotently") {
    val out = s"$base/delete_out"
    val s = spark
    import s.implicits._
    Seq(
      (1L, "a", "2026", "01"), (2L, "b", "2026", "01"),
      (3L, "c", "2026", "02"), (4L, "d", "2026", "03"))
      .toDF("id", "payload", "year", "month")
      .write.partitionBy("year", "month").parquet(out)
    // erase id 1 (partition survives), id 4 (its partition empties out),
    // and id 99 (absent — deletes nothing)
    val tomb = Seq((1L, "2026", "01"), (4L, "2026", "03"), (99L, "2026", "02"))
      .toDF("id", "year", "month")
    val results = graft.operators.Merge.deletePartitioned(
      spark, out, tomb, "id", Seq("year", "month")).sortBy(_._1)
    import org.apache.hadoop.fs.Path
    assert(results.map { case (p, n) =>
      (new Path(p).toUri.getPath.split("/").takeRight(2).mkString("/"), n) } ==
      Seq(("year=2026/month=01", 1L), ("year=2026/month=03", 1L)))
    val rows = spark.read.parquet(out).select("id").collect().map(_.getLong(0)).sorted.toSeq
    assert(rows == Seq(2L, 3L))
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(s"$out/year=2026/month=03")), "emptied partition removed")
    // replay: nothing left to delete
    assert(graft.operators.Merge.deletePartitioned(
      spark, out, tomb, "id", Seq("year", "month")).isEmpty)
    assert(spark.read.parquet(out).count() == 2)
  }

  test("merge: null and hive-special partition values round-trip the writer's escaping") {
    val out = s"$base/merge_null"
    val s = spark
    import s.implicits._
    Seq((1L, "a", null: String), (2L, "b", "a:b"))
      .toDF("id", "payload", "k")
      .write.partitionBy("k").parquet(out)
    // a null partition value must merge into the writer's
    // __HIVE_DEFAULT_PARTITION__ directory (not a literal 'k=null' that
    // matches nothing), and 'a:b' must hit the writer's escaped 'k=a%3Ab'
    val updates = Seq((1L, "a2", null: String), (2L, "b2", "a:b"), (3L, "c", null: String))
      .toDF("id", "payload", "k")
    val results = graft.operators.Merge.upsertPartitioned(spark, out, updates, "id", Seq("k"))
      .sortBy(_._1)
    assert(results.map(r => (r._2, r._3)).sorted == Seq((1L, 1L), (1L, 0L)).sorted)
    val rows = spark.read.parquet(out).select("id", "payload", "k")
      .collect().map(r => r.getLong(0) -> ((r.getString(1), r.getString(2)))).toMap
    assert(rows == Map(1L -> (("a2", null)), 2L -> (("b2", "a:b")), 3L -> (("c", null))))
    // no stray unescaped/literal-null directories beside the writer's layout
    import org.apache.hadoop.fs.Path
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(s"$out/k=null")))
    assert(!fs.exists(new Path(s"$out/k=a:b")))
  }

  test("merge: duplicate ids within one update batch are rejected up front") {
    val out = s"$base/merge_dup"
    val s = spark
    import s.implicits._
    Seq((1L, "a", "2026")).toDF("id", "payload", "year")
      .write.partitionBy("year").parquet(out)
    // two updates for one id in a single batch have no defined winner —
    // reject BEFORE any partition is rewritten
    val dup = Seq((2L, "x", "2026"), (2L, "y", "2026")).toDF("id", "payload", "year")
    intercept[IllegalArgumentException] {
      graft.operators.Merge.upsertPartitioned(spark, out, dup, "id", Seq("year"))
    }
    assert(spark.read.parquet(out).count() == 1, "table untouched after the reject")
  }

  test("merge recovers a partition stranded in its crash aside by a mid-swap crash") {
    val out = s"$base/merge_crash"
    val s = spark
    import s.implicits._
    Seq((1L, "a", "2026", "01"), (2L, "b", "2026", "01"))
      .toDF("id", "payload", "year", "month")
      .write.partitionBy("year", "month").parquet(out)
    import org.apache.hadoop.fs.Path
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val part = new Path(s"$out/year=2026/month=01")
    val aside = graft.operators.StoreCommit.asideOf(part)
    assert(fs.rename(part, aside), "test setup: strand the partition")
    val results = graft.operators.Merge.upsertPartitioned(
      spark, out, Seq((2L, "b2", "2026", "01")).toDF("id", "payload", "year", "month"),
      "id", Seq("year", "month"))
    assert(results.map(r => (r._2, r._3)) == Seq((1L, 0L)))
    assert(!fs.exists(aside))
    val rows = spark.read.parquet(out).select("id", "payload")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows == Map(1L -> "a", 2L -> "b2"))
  }

  test("retention sweeps a crash leftover stranded between rename and delete") {
    val out = s"$base/retention_crash"
    val s = spark
    import s.implicits._
    Seq((1L, "2020", "05"), (2L, "2026", "08")).toDF("n", "year", "month")
      .write.partitionBy("year", "month").parquet(out)
    import org.apache.hadoop.fs.Path
    val fs = new Path(out).getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate a crash mid-expiry: partition renamed to the hidden
    // .expiring sibling, delete never ran
    val part = new Path(s"$out/year=2020/month=05")
    val tomb = new Path(part.getParent, s".${part.getName}.expiring")
    assert(fs.rename(part, tomb), "test setup: strand the partition")
    // the hidden leftover is invisible to readers (full-or-gone invariant)
    val visible = spark.read.parquet(out).select("n").collect().map(_.getLong(0))
    assert(visible.toSeq == Seq(2L))
    // next retention run sweeps the leftover and prunes the empty ancestor
    val now = System.currentTimeMillis()
    graft.operators.Retention.expireSettledPartitions(
      spark, out, maxAgeMs = 365L * 24 * 3600 * 1000, nowMs = now)
    assert(!fs.exists(tomb))
    assert(!fs.exists(new Path(s"$out/year=2020")))
    assert(spark.read.parquet(out).count() == 1)
  }

  test("streaming sliding windows (1 hour window, 5 minute slide)") {
    val landing = s"$base/landing_slide"
    write(landing, "ev.json",
      """[{"eventtime": "2020-01-01T10:05:00Z"}, {"eventtime": "2020-01-01T10:55:00Z"}, {"eventtime": "2020-01-01T11:05:00Z"}]""")

    val q = StreamingIngest.slidingCounts(
      StreamingIngest.eventsStream(spark, landing))
      .writeStream.format("memory").queryName("sliding_c")
      .outputMode("complete").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val rows = spark.sql("SELECT window_start, n FROM sliding_c").collect()
    // each event lands in 12 overlapping windows (60 min / 5 min slide):
    // starts span 09:10..11:05 -> 24 distinct windows, total weight 3*12
    assert(rows.length == 24)
    assert(rows.map(_.getLong(1)).sum == 36L)
    // windows holding two events exist (e.g. [10:05,11:05) has 10:05+10:55),
    // none holds all three (10:05 and 11:05 are exactly 60 min apart)
    assert(rows.map(_.getLong(1)).max == 2L)
  }

  test("stream-stream interval join: two live streams correlate within the gap, keys isolate") {
    import org.apache.spark.sql.functions.{col, get_json_object, to_timestamp}
    val loginsDir = s"$base/landing_ss_logins"
    val alertsDir = s"$base/landing_ss_alerts"
    // alice: alert 5 min after login (match); bob: alert 30 min after login
    // (outside the 10 min gap); carol: alert with no login at all
    write(loginsDir, "logins.json",
      """[{"eventtime": "2020-01-01T10:00:00Z", "user": "alice"},
          {"eventtime": "2020-01-01T10:00:00Z", "user": "bob"}]""")
    write(alertsDir, "alerts.json",
      """[{"eventtime": "2020-01-01T10:05:00Z", "user": "alice"},
          {"eventtime": "2020-01-01T10:30:00Z", "user": "bob"},
          {"eventtime": "2020-01-01T10:05:00Z", "user": "carol"}]""")

    def keyed(dir: String) =
      StreamingIngest.eventsStream(spark, dir)
        .select(
          get_json_object(col("details"), "$.user").as("key"),
          to_timestamp(col("utctimestamp")).as("ts"))

    val q = StreamingIngest.correlateStreams(keyed(loginsDir), keyed(alertsDir))
      .writeStream.format("memory").queryName("ss_join")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val rows = spark.sql("SELECT key, gap_s FROM ss_join ORDER BY key").collect()
    assert(rows.length == 1, rows.mkString(";"))
    assert(rows.head.getString(0) == "alice")
    assert(rows.head.getLong(1) == 300L)
  }

  test("streaming incremental near-dedup: live delta joins the stored band table, matches batch") {
    import org.apache.spark.sql.functions.{array_distinct, col, split}
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

    // stored corpus signature table (computed once, batch)
    val corpusWs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("ws"))
    val corpusBands = graft.queries.DedupQueries.minhashBandTable(corpusWs).cache()

    // delta: one word-shuffle of corpus doc 0 (a near-dup: identical word
    // set) and one disjoint-vocabulary doc (no match)
    val doc0Words = corpusWs.filter(col("doc_id") === 0)
      .head().getSeq[String](1)
    val deltaDir = s"$base/dedup_delta"
    write(deltaDir, "delta.jsonl",
      s"""{"doc_id": 9001, "text": "${doc0Words.reverse.mkString(" ")}"}
         |{"doc_id": 9002, "text": "zzq wwx yyk vvj uup"}""".stripMargin)

    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val deltaWs = spark.readStream.schema(schema).json(deltaDir)
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("ws"))

    val q = graft.queries.DedupQueries.incrementalDupsStream(deltaWs, corpusBands)
      .writeStream.format("memory").queryName("stream_dedup")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val streamed = spark.sql("SELECT DISTINCT delta_id, corpus_id FROM stream_dedup")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // ground truth: the batch incremental path over the same delta
    val batchDelta = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        org.apache.spark.sql.Row(9001L, doc0Words.reverse.mkString(" ")),
        org.apache.spark.sql.Row(9002L, "zzq wwx yyk vvj uup"))), schema)
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("ws"))
    val batch = graft.queries.DedupQueries.incrementalDups(batchDelta, corpusBands)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    assert(streamed == batch, s"stream=$streamed batch=$batch")
    assert(streamed.nonEmpty && streamed.forall(_._1 == 9001L))
    assert(streamed.exists(_._2 == 0L)) // the shuffled twin of doc 0 matches it
  }

  test("streaming substring scrub: live delta positions match batch; spans merge at the sink") {
    import org.apache.spark.sql.functions.{col, split}
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

    // stored corpus window-hash table (computed once, batch)
    val corpusDocs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    val corpusGh = graft.queries.DedupQueries.substringWindowTable(corpusDocs).cache()

    // delta doc 9001 embeds a 7-word corpus phrase (positions 3..9) inside
    // novel words; 9002 is entirely novel — no positions
    val doc0Words = corpusDocs.filter(col("doc_id") === 0).head().getSeq[String](1)
    val phrase = doc0Words.take(7).mkString(" ")
    val deltaDir = s"$base/substr_delta"
    write(deltaDir, "delta.jsonl",
      s"""{"doc_id": 9001, "text": "zq1 zq2 $phrase zq3 zq4"}
         |{"doc_id": 9002, "text": "zzq wwx yyk vvj uup ttn rrm qql"}""".stripMargin)

    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val deltaWs = spark.readStream.schema(schema).json(deltaDir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))

    val q = graft.queries.DedupQueries.substringScrubStream(deltaWs, corpusGh)
      .writeStream.format("memory").queryName("substr_scrub")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)

    val streamed = spark.sql("SELECT doc_id, i FROM substr_scrub")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // a 7-word phrase at token offset 3 marks 5-word windows at i = 3, 4, 5
    assert(streamed == Set((9001L, 3L), (9001L, 4L), (9001L, 5L)), streamed.toString)

    // the sink-side island merge reconstructs the maximal span
    val spans = graft.queries.DedupQueries.mergeSpans(
        spark.sql("SELECT doc_id, i FROM substr_scrub"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(spans == Seq((9001L, 3L, 7L)), spans.toString)
  }

  test("streaming embedding scrub: live twins match the batch incremental keep-list") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val sf = "/root/testdata/sf0.001"
    // stored corpus band table (computed once, batch; persists at scale)
    val corpusBands = graft.queries.SimilarityQueries.embedBandTable(
      spark.read.parquet(s"$sf/embeddings.parquet").select("vec_id", "embedding")).cache()
    // the live delta is the SAME twin set q_dedup_embed_incremental scrubs:
    // perturb dim 0 of the normalized original by +0.2 (the stream
    // re-normalizes, reproducing the batch twin exactly — same IEEE ops)
    val twins = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("de"))
      .filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + 1000000L).as("vec_id"),
        transform(
          graft.functions.VectorFunctions.l2Normalize(col("de")),
          (x, i) => when(i === 0, x + lit(0.2)).otherwise(x)).as("embedding"))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1))).toSeq
    val mem = MemoryStream[(Long, Seq[Double])]
    mem.addData(twins: _*)
    val q = graft.queries.SimilarityQueries.embedScrubStream(
        mem.toDF().toDF("vec_id", "embedding"), corpusBands)
      .writeStream.format("memory").queryName("embed_scrub")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(120000)
    // sink-side canonicalization (distinct + keep-first min + match count)
    // must equal the batch incremental query on the same sf dir
    val streamed = spark.sql("SELECT DISTINCT vec_id, match_id FROM embed_scrub")
      .groupBy("vec_id")
      .agg(min("match_id").as("canonical_id"), count(lit(1)).as("n_matches"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batch = SparkEntry.queries("q_dedup_embed_incremental")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed.nonEmpty && streamed == batch,
      s"stream ${streamed.size} vs batch ${batch.size}")
  }

  test("replay guard: normal path reads zero sink files; crash replay reads only the overlap window") {
    import org.apache.spark.sql.functions.col
    import graft.operators.ReplayGuard
    val s = spark
    import s.implicits._
    spark.catalog.clearCache() // scan-level pins below must see real scans
    val sink = s"$base/guard_sink"
    def batch(lo: Long, hi: Long) =
      (lo to hi).map(i => (i, s"v$i")).toDF("vec_id", "v")

    // first write: sink absent -> pass-through, mark advanced past the batch
    val f1 = ReplayGuard.freshThenAdvance(batch(1, 100), "vec_id", sink)
    f1.write.mode("append").parquet(sink)
    assert(ReplayGuard.highWaterMark(spark, sink).contains(100L))

    // NORMAL path: strictly-new ids — the returned plan must contain NO file
    // scan at all (the batch is a local relation); this is the O(delta) pin:
    // per-batch read set is the batch + the one-line mark, not the sink
    val f2 = ReplayGuard.freshThenAdvance(batch(101, 200), "vec_id", sink)
    val fastPlan = f2.queryExecution.executedPlan.toString
    assert(!fastPlan.contains("FileScan"), fastPlan)
    f2.write.mode("append").parquet(sink)
    assert(ReplayGuard.highWaterMark(spark, sink).contains(200L))

    // CRASH REPLAY (write landed, batch redelivered): windowed anti-join —
    // both id bounds push to the sink scan, so parquet min/max stats skip
    // every file outside the replayed window — and nothing is re-appended
    val f2r = ReplayGuard.freshThenAdvance(batch(101, 200), "vec_id", sink)
    val replayPlan = f2r.queryExecution.executedPlan.toString
    assert(replayPlan.contains("PushedFilters") &&
      replayPlan.contains("GreaterThanOrEqual(vec_id,101)") &&
      replayPlan.contains("LessThanOrEqual(vec_id,200)"), replayPlan)
    assert(f2r.count() == 0L)

    // CRASH between advance and write (the ordering the guard mandates):
    // mark is ahead of the data, the replayed batch overlaps it, and the
    // windowed anti-join finds nothing — every row still lands exactly once
    ReplayGuard.advance(spark, sink, 300L)
    assert(ReplayGuard.freshThenAdvance(batch(201, 300), "vec_id", sink).count() == 100L)

    // mark LOST (file deleted out from under us): degrades to the full
    // anti-join — unbounded once, but never a duplicate
    val fs = new org.apache.hadoop.fs.Path(sink)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(sink, ".hwm"), false)
    val lost = ReplayGuard.freshThenAdvance(batch(101, 200), "vec_id", sink)
    assert(lost.count() == 0L)
    assert(ReplayGuard.highWaterMark(spark, sink).contains(200L), "mark not rebuilt")

    // the hidden mark never leaks into readers of the sink table
    assert(spark.read.parquet(sink).count() == 200L)
    assert(spark.read.parquet(sink).filter(col("vec_id") <= 100).count() == 100L)
  }

  test("streaming dataset card: micro-batched snapshots converge to the from-scratch card") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val s = spark
    import s.implicits._
    val sf = "/root/testdata/sf0.001"
    val cardDir = s"$base/card_stream/card"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "source", "lang", "text", "n_chars").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getString(3), r.getLong(4)))
    val mem = MemoryStream[(Long, String, String, String, Long)]
    // two snapshots, the second delivered with an overlap (replay territory)
    mem.addData(docs.filter(_._1 < 200).toSeq: _*)
    mem.addData(docs.filter(_._1 >= 150).toSeq: _*)
    val q = StreamingIngest.foldEachBatch(
      mem.toDF().toDF("doc_id", "source", "lang", "text", "n_chars"),
      s"$base/card_stream/ckpt", Trigger.AvailableNow()) { (b, _) =>
      graft.operators.DatasetCard.update(b.sparkSession, b, cardDir)
    }
    q.awaitTermination(120000)
    val streamed = graft.operators.DatasetCard.card(spark, cardDir)
      .collect().map(_.toString).toSeq
    val scratch = SparkEntry.queries("q_train_dataset_card")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(streamed.nonEmpty && streamed == scratch,
      s"streamed=${streamed.take(3)} scratch=${scratch.take(3)}")
  }

  test("streaming decontamination scrub: stored-filter verdicts match batch, replay effectively-once") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}
    import graft.operators.Decontamination
    val sf = "/root/testdata/sf0.001"
    val filterDir = s"$base/decon_filter"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    Decontamination.buildFilter(spark, docs.filter(col("doc_id") % 10 >= 9), filterDir)

    // delta: 9001 embeds a benchmark 4-gram (doc 9's first four words)
    // inside novel tokens; 9002 is entirely novel
    val benchWords = docs.filter(col("doc_id") === 9)
      .selectExpr("split(text, ' ') AS ws").head().getSeq[String](0)
    val phrase = benchWords.take(4).mkString(" ")
    val deltaDir = s"$base/decon_delta"
    write(deltaDir, "delta.jsonl",
      s"""{"doc_id": 9001, "text": "zq1 zq2 $phrase zq3 zq4"}
         |{"doc_id": 9002, "text": "zzq wwx yyk vvj uup ttn rrm qql"}""".stripMargin)

    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    val outDir = s"$base/decon_out"
    def runStream(ckpt: String): Unit = {
      val q = Decontamination.startScrubStream(
        spark, spark.readStream.schema(schema).json(deltaDir),
        filterDir, outDir, ckpt, Trigger.AvailableNow())
      q.awaitTermination(120000)
    }
    runStream(s"$base/decon_ckpt1")
    val streamed = spark.read.parquet(outDir)
      .selectExpr("doc_id", "n_ngrams", "bloom_hits", "exact_hits", "is_contaminated")
      .collect().map(_.toString).sorted.toSeq
    val batch = Decontamination.scrub(
        spark, spark.read.schema(schema).json(deltaDir), filterDir)
      .selectExpr("doc_id", "n_ngrams", "bloom_hits", "exact_hits", "is_contaminated")
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == batch, s"stream=$streamed batch=$batch")
    // the planted contamination is caught, the novel doc is clean
    val byId = spark.read.parquet(outDir).collect()
      .map(r => r.getLong(0) -> r.getAs[Boolean]("is_contaminated")).toMap
    assert(byId(9001L) && !byId(9002L), byId.toString)
    // replay with a fresh checkpoint: the left-anti guard keeps verdicts single
    runStream(s"$base/decon_ckpt2")
    assert(spark.read.parquet(outDir).count() == 2L, "replay duplicated verdicts")
  }

  test("streaming anomaly monitor: micro-batched store converges to the batch gate; replay folds nothing") {
    import org.apache.spark.sql.functions._
    import graft.operators.Monitoring

    val batchEvents = graft.queries.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_type"), col("ts"))

    // land the same events as 3 micro-batch files (micros-exact round trip)
    val landing = s"$base/anomaly_landing"
    Files.createDirectories(Paths.get(landing))
    (0 until 3).foreach { i =>
      batchEvents.filter(abs(hash(col("ts"))) % 3 === i)
        .select(col("event_type"), unix_micros(col("ts")).as("us"))
        .coalesce(1).write.json(s"$landing/chunk$i")
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("us",
        org.apache.spark.sql.types.LongType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .json(s"$landing/chunk*")
      .select(col("event_type"), timestamp_micros(col("us")).as("ts"))

    val storeDir = s"$base/anomaly_store"
    val q = StreamingIngest.foldEachBatch(stream, s"$base/anomaly_ckpt", Trigger.AvailableNow()) {
      (b, id) => Monitoring.updateHourly(b.sparkSession, b, storeDir, id)
    }
    q.awaitTermination(120000)

    def canon(df: org.apache.spark.sql.DataFrame): Set[String] = df
      .select(col("event_type"),
        date_format(col("hr"), "yyyy-MM-dd HH:00").as("h"), col("n"), col("expected"))
      .collect().map(_.toString).toSet

    // the store-derived alerts equal the one-shot batch gate over all events
    val streamed = canon(Monitoring.readAlerts(spark, storeDir))
    val batch = canon(Monitoring.anomalies(Monitoring.hourlyCounts(batchEvents)))
    assert(streamed == batch,
      s"stream-only=${streamed -- batch} batch-only=${batch -- streamed}")
    assert(batch.nonEmpty, "gate must flag something on this corpus")

    // replaying an already-committed batch id folds nothing (crash replay)
    val before = Monitoring.readHourly(spark, storeDir)
      .agg(sum("n")).head().getLong(0)
    Monitoring.updateHourly(spark, batchEvents, storeDir, batchId = 0L)
    val after = Monitoring.readHourly(spark, storeDir)
      .agg(sum("n")).head().getLong(0)
    assert(before == after, s"replay double-counted: $before -> $after")
    assert(before == batchEvents.count(), "store total must equal event count")
  }

  test("streaming regularity monitor: boundary-gap fold makes the drained store equal the batch top-20 bit-for-bit") {
    import org.apache.spark.sql.functions._
    import graft.operators.Monitoring

    val sf = "/root/testdata/sf0.001"
    val batchEvents = graft.queries.Tables.events(spark, sf)
      .select(col("user_id"), col("event_id"), col("ts"))

    // three CHRONOLOGICAL slices (per-user in-order arrival across batches
    // — the monotone-source property the monitor documents); a hash split
    // would scramble gap adjacency and the fold could not equal the batch
    val Seq(lo, hi) = batchEvents
      .agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .head().toSeq.map(_.asInstanceOf[Long]).toSeq
    val cut1 = lo + (hi - lo) / 3
    val cut2 = lo + 2 * (hi - lo) / 3
    val landing = s"$base/regularity_landing"
    Files.createDirectories(Paths.get(landing))
    Seq(
      col("us") < cut1,
      col("us") >= cut1 && col("us") < cut2,
      col("us") >= cut2).zipWithIndex.foreach { case (pred, i) =>
      batchEvents.select(col("user_id"), col("event_id"),
          unix_micros(col("ts")).as("us"))
        .filter(pred)
        .coalesce(1).write.json(s"$landing/chunk$i")
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("us",
        org.apache.spark.sql.types.LongType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1")
      .json(s"$landing/chunk*")
      .select(col("user_id"), col("event_id"), timestamp_micros(col("us")).as("ts"))

    val storeDir = s"$base/regularity_store"
    val q = StreamingIngest.foldEachBatch(stream, s"$base/regularity_ckpt", Trigger.AvailableNow()) {
      (b, id) => Monitoring.updateRegularity(b.sparkSession, b, storeDir, id)
    }
    q.awaitTermination(120000)

    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq
    val live = rows(Monitoring.regularityStatus(spark, storeDir))
    val batch = rows(SparkEntry.queries("q_events_regularity")(spark, sf))
    assert(live.nonEmpty, "monitor surfaced nothing")
    assert(live == batch,
      s"live-only=${live.toSet -- batch.toSet} batch-only=${batch.toSet -- live.toSet}")

    // crash replay: re-folding an already-committed batch id changes nothing
    Monitoring.updateRegularity(spark, batchEvents, storeDir, batchId = 0L)
    assert(rows(Monitoring.regularityStatus(spark, storeDir)) == live,
      "replay mutated the per-user gap state")
  }

  test("bucketed regularity store: a fold reads and rewrites ONLY touched buckets — untouched bucket files stay byte-identical") {
    import org.apache.spark.sql.functions._
    import graft.operators.Monitoring

    val events = graft.queries.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), col("event_id"), col("ts"))
    val store = s"$base/regularity_bucketed"

    // batch 0: the full corpus populates (at 15 distinct users) several of
    // the 8 bucket dirs
    Monitoring.updateRegularity(spark, events, store, 0L)
    val bucketDirs = (0 until Monitoring.RegularityBuckets)
      .map(k => k -> Paths.get(s"$store/regularity/bucket=$k"))
      .filter { case (_, p) => Files.isDirectory(p) }.toMap
    assert(bucketDirs.size >= 2, s"need multiple populated buckets, got ${bucketDirs.keys}")

    def snapshot(k: Int): Map[String, Seq[Byte]] = {
      val d = bucketDirs(k)
      Files.list(d).toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(Files.isRegularFile(_))
        .map(f => f.getFileName.toString -> Files.readAllBytes(f).toSeq)
        .toMap
    }
    val before = bucketDirs.keys.map(k => k -> snapshot(k)).toMap

    // batch 1: events of users in exactly ONE bucket, shifted 30 days later
    // — past the whole corpus range, so per-user arrival stays monotone
    // ACROSS the batches (the property the monitor documents) — the fold
    // must open and swap that bucket alone
    val k0 = events.select(Monitoring.regularityBucket(col("user_id")).as("b"))
      .head().getInt(0)
    val batch1 = events.filter(Monitoring.regularityBucket(col("user_id")) === k0)
      .withColumn("ts", col("ts") + expr("interval 30 days"))
    assert(batch1.count() > 0)
    Monitoring.updateRegularity(spark, batch1, store, 1L)

    bucketDirs.keys.foreach { k =>
      val after = snapshot(k)
      if (k == k0) {
        assert(after != before(k), s"touched bucket $k0 must change")
        assert(after(graft.operators.StoreCommit.MetaFile).map(_.toChar).mkString.trim == "1",
          "touched bucket's replay cursor must advance")
      } else {
        assert(after == before(k),
          s"untouched bucket $k was rewritten: ${after.keySet} vs ${before(k).keySet}")
      }
    }

    // and the folded state equals the one-shot partials over the full
    // chronological concatenation — the split-invariance contract re-proven
    // across a single-bucket fold on the bucketed layout
    val folded = Monitoring.readRegularity(spark, store)
      .select("user_id", "n_gaps", "sum_gap", "sum_gap2", "last_t")
      .collect().map(_.toString).toSet
    val oneShot = Monitoring.gapPartials(events.unionByName(batch1))
      .select("user_id", "n_gaps", "sum_gap", "sum_gap2", "last_t")
      .collect().map(_.toString).toSet
    assert(folded == oneShot,
      s"folded-only=${folded -- oneShot} oneshot-only=${oneShot -- folded}")
  }

  test("bucketed regularity store refuses a pre-bucketed flat layout instead of silently reading it as empty") {
    import org.apache.spark.sql.functions._
    import graft.operators.Monitoring
    val events = graft.queries.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), col("event_id"), col("ts")).limit(50)
    val store = s"$base/regularity_flat"
    // simulate the old layout: parquet files directly under regularity/
    Monitoring.gapPartials(events).coalesce(1)
      .write.parquet(s"$store/regularity")
    val e = intercept[IllegalStateException](
      Monitoring.updateRegularity(spark, events, store, 0L))
    assert(e.getMessage.contains("pre-bucketed"), e.getMessage)
  }

  test("regularity fold is split-invariant: any chronological cut sequence equals the one-shot partials") {
    import org.apache.spark.sql.functions._
    import graft.operators.Monitoring

    val events = graft.queries.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("user_id"), col("event_id"), col("ts"))
    // one-shot ground truth: gapPartials over the whole table, state cols only
    def canonState(df: org.apache.spark.sql.DataFrame): Set[String] = df
      .select("user_id", "n_gaps", "sum_gap", "sum_gap2", "last_t")
      .collect().map(_.toString).toSet
    val oneShot = canonState(Monitoring.gapPartials(events))
    val Seq(lo, hi) = events.agg(min(unix_micros(col("ts"))), max(unix_micros(col("ts"))))
      .head().toSeq.map(_.asInstanceOf[Long]).toSeq

    val rng = new scala.util.Random(7L)
    (1 to 3).foreach { trial =>
      // 2-4 random chronological cuts -> 3-5 chunks
      val cuts = Seq.fill(2 + rng.nextInt(3))(lo + 1 + math.abs(rng.nextLong()) % (hi - lo))
        .distinct.sorted
      val bounds = (Seq(lo) ++ cuts ++ Seq(hi + 1)).sliding(2).toSeq
      val store = s"$base/regularity_prop_$trial"
      bounds.zipWithIndex.foreach { case (Seq(a, b), i) =>
        val chunk = events.filter(
          unix_micros(col("ts")) >= a && unix_micros(col("ts")) < b)
        Monitoring.updateRegularity(spark, chunk, store, batchId = i.toLong)
      }
      val folded = canonState(Monitoring.readRegularity(spark, store))
      assert(folded == oneShot,
        s"trial $trial cuts=$cuts: folded-only=${folded -- oneShot} oneshot-only=${oneShot -- folded}")
    }
  }

  test("streaming top-talkers: stored MG sketch keeps the merged-summary bounds across micro-batches") {
    import org.apache.spark.sql.functions._
    import graft.operators.Sketches

    val ids = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("user_id"))
    val landing = s"$base/hh_landing"
    Files.createDirectories(Paths.get(landing))
    (0 until 3).foreach { i =>
      ids.filter(abs(hash(col("user_id"))) % 3 === i)
        .coalesce(1).write.json(s"$landing/chunk$i")
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").json(s"$landing/chunk*")

    val storeDir = s"$base/hh_store"
    val k = 8 // below the 15 distinct users: evictions must actually happen
    val q = StreamingIngest.foldEachBatch(stream, s"$base/hh_ckpt", Trigger.AvailableNow()) {
      (b, id) => Sketches.updateStoredSketch(b.sparkSession, b, storeDir, k, id)
    }
    q.awaitTermination(120000)

    val sketch = Sketches.readSketch(spark, storeDir)
    assert(sketch.nonEmpty && sketch.size <= k, s"sketch size ${sketch.size}")
    val exact = ids.groupBy("user_id").count()
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sketch.size < exact.size, "eviction must have pruned some keys")
    val n = exact.values.sum
    // merged-summary guarantees: frequent keys retained, bounded undercount
    val mustKeep = exact.filter { case (_, c) => c * (k + 1) > n }.keySet
    assert(mustKeep.subsetOf(sketch.keySet),
      s"lost frequent keys: ${mustKeep -- sketch.keySet}")
    sketch.foreach { case (key, c) =>
      assert(c <= exact(key), s"overcount for $key")
      assert(exact(key) - c <= n / (k + 1), s"undercount past bound for $key")
    }
    // crash replay of an already-committed batch folds nothing
    val before = sketch
    Sketches.updateStoredSketch(spark, ids, storeDir, k, batchId = 1L)
    assert(Sketches.readSketch(spark, storeDir) == before, "replay mutated the sketch")
  }

  test("streaming KMV: stored bottom-k equals the one-shot sketch bit-for-bit (lattice merge)") {
    import org.apache.spark.sql.functions._
    import graft.operators.Sketches

    val ids = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("user_id"))
    val landing = s"$base/kmv_landing"
    Files.createDirectories(Paths.get(landing))
    (0 until 3).foreach { i =>
      ids.filter(abs(hash(col("user_id"))) % 3 === i)
        .coalesce(1).write.json(s"$landing/chunk$i")
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").json(s"$landing/chunk*")

    val storeDir = s"$base/kmv_store"
    val k = 8 // below the 15 distinct users, so the bottom-k actually prunes
    val q = StreamingIngest.foldEachBatch(stream, s"$base/kmv_ckpt", Trigger.AvailableNow()) {
      (b, id) => Sketches.updateStoredKmv(b.sparkSession, b, storeDir, k, id)
    }
    q.awaitTermination(120000)

    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.orderBy("h").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val stored = rows(Sketches.readKmv(spark, storeDir))
    val oneShot = rows(Sketches.kmvSketch(ids, k))
    assert(stored.size == k && stored == oneShot,
      s"stored=$stored oneShot=$oneShot")
    // the sample is a pure function of the key SET: re-sharding the feed
    // (different chunking above) cannot change it — stored == one-shot IS
    // that invariance, since the chunks hash-scramble arrival order

    // crash replay of an already-committed batch folds nothing
    Sketches.updateStoredKmv(spark, ids, storeDir, k, batchId = 1L)
    assert(rows(Sketches.readKmv(spark, storeDir)) == stored,
      "replay mutated the sketch")
  }

  test("streaming packing: micro-batched appends equal the one-shot pack of everything seen (doc-monotonic feed)") {
    import org.apache.spark.sql.functions._
    import graft.operators.PackingStore

    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "lang", "text")
    val landing = s"$base/pack_landing"
    Files.createDirectories(Paths.get(landing))
    // doc_id-RANGE chunks, written in id order — the append-only log
    // order the packer's one-shot-equality contract requires (the file
    // source processes oldest-first, and each sequential write lands a
    // later mod time)
    val maxId = docs.agg(max("doc_id")).head.getLong(0)
    val cut1 = maxId / 3
    val cut2 = 2 * maxId / 3
    Seq(
      docs.filter(col("doc_id") <= cut1),
      docs.filter(col("doc_id") > cut1 && col("doc_id") <= cut2),
      docs.filter(col("doc_id") > cut2)
    ).zipWithIndex.foreach { case (chunk, i) =>
      chunk.coalesce(1).write.json(s"$landing/chunk$i")
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("lang",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").json(s"$landing/chunk*")

    val storeDir = s"$base/pack_store"
    val q = StreamingIngest.foldEachBatch(stream, s"$base/pack_ckpt", Trigger.AvailableNow()) {
      (b, id) => PackingStore.append(b.sparkSession, b, storeDir, id)
    }
    q.awaitTermination(120000)

    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.orderBy("lang", "doc_id").collect().map(_.toString).toSeq
    PackingStore.build(spark, docs, s"$base/pack_ref")
    val stored = rows(PackingStore.read(spark, storeDir))
    val oneShot = rows(PackingStore.read(spark, s"$base/pack_ref"))
    assert(stored.nonEmpty && stored == oneShot,
      s"streamed pack diverged from one-shot (first diff: ${
        stored.zip(oneShot).find { case (a, b) => a != b }})")

    // crash replay of an already-committed batch folds nothing
    PackingStore.append(spark, docs, storeDir, batchId = 0L)
    assert(rows(PackingStore.read(spark, storeDir)) == stored,
      "replay mutated the pack layout")
  }

  test("streaming CDC apply: micro-batched changelog folds to the one-shot merge (split-invariant, tombstones fence)") {
    import org.apache.spark.sql.functions._
    import graft.operators.SnapshotStore
    import graft.queries.ChangeDataQueries

    val sf = "/root/testdata/sf0.001"
    val cdcBase = ChangeDataQueries.cdcBase(spark, sf)
    val chg = ChangeDataQueries.cdcChangelog(spark, sf)
    val landing = s"$base/cdc_landing"
    Files.createDirectories(Paths.get(landing))
    // seq-DESCENDING chunks — the adversarial order (stale rows arrive
    // last); the fold is split-invariant so the result must not care
    Seq(chg.filter(col("seq") > 2), chg.filter(col("seq") <= 2))
      .zipWithIndex.foreach { case (chunk, i) =>
        chunk.coalesce(1).write.json(s"$landing/chunk$i")
      }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("o_orderkey",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("op",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("price",
        org.apache.spark.sql.types.DecimalType(18, 2)),
      org.apache.spark.sql.types.StructField("seq",
        org.apache.spark.sql.types.LongType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").json(s"$landing/chunk*")

    val storeDir = s"$base/cdc_store"
    SnapshotStore.build(spark, cdcBase, storeDir) // the bulk load
    val q = StreamingIngest.foldEachBatch(stream, s"$base/cdc_ckpt", Trigger.AvailableNow()) {
      (b, id) => SnapshotStore.apply(b.sparkSession, b, storeDir, id, keyCol = "o_orderkey")
    }
    q.awaitTermination(120000)

    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("o_orderkey"), col("price").cast("double"))
        .orderBy("o_orderkey").collect().map(_.toString).toSeq
    SnapshotStore.build(spark, cdcBase, s"$base/cdc_ref")
    SnapshotStore.apply(spark, chg, s"$base/cdc_ref", batchId = 1L,
      keyCol = "o_orderkey")
    val stored = rows(SnapshotStore.read(spark, storeDir))
    assert(stored.nonEmpty && stored == rows(SnapshotStore.read(spark, s"$base/cdc_ref")),
      "streamed CDC snapshot diverged from the one-shot merge")
    // deleted keys stay dead through the live view
    assert(SnapshotStore.read(spark, storeDir)
      .filter(col("o_orderkey") % 13 === 0).count() == 0L)
  }

  test("streaming SCD2: micro-batched events equal the one-shot islands rebuild (ts-monotonic feed)") {
    import org.apache.spark.sql.functions._
    import graft.operators.HistoryStore

    val sf = "/root/testdata/sf0.001"
    val ev = graft.queries.Tables.events(spark, sf)
      .select("user_id", "ts", "event_id", "event_type")
    val cuts = ev.select(
      percentile_approx(col("ts").cast("long"), lit(0.5), lit(100000)).as("c1"))
      .head()
    val c1 = cuts.getLong(0)
    val landing = s"$base/scd2_landing"
    Files.createDirectories(Paths.get(landing))
    // ts ships as epoch MICROS (a long): the JSON writer's default
    // timestamp format is millisecond-precision and a silent micro
    // truncation would reorder ties vs the parquet-built reference
    Seq(ev.filter(col("ts").cast("long") <= c1), ev.filter(col("ts").cast("long") > c1))
      .zipWithIndex.foreach { case (chunk, i) =>
        chunk.withColumn("ts_us", unix_micros(col("ts"))).drop("ts")
          .coalesce(1).write.json(s"$landing/chunk$i")
      }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("user_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts_us",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type",
        org.apache.spark.sql.types.StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").json(s"$landing/chunk*")
      .withColumn("ts", timestamp_micros(col("ts_us"))).drop("ts_us")

    val storeDir = s"$base/scd2_store"
    val q = StreamingIngest.foldEachBatch(stream, s"$base/scd2_ckpt", Trigger.AvailableNow()) {
      (b, id) => HistoryStore.append(b.sparkSession, b, storeDir, id)
    }
    q.awaitTermination(120000)

    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.orderBy("user_id", "version").collect().map(_.toString).toSeq
    HistoryStore.append(spark, ev, s"$base/scd2_ref", 0L) // one-shot build
    val stored = rows(HistoryStore.read(spark, storeDir))
    assert(stored.nonEmpty && stored == rows(HistoryStore.read(spark, s"$base/scd2_ref")),
      "streamed history diverged from the one-shot rebuild")
  }

  test("KMV fold is split-invariant: any partition sequence of the key stream equals the one-shot bottom-k") {
    import org.apache.spark.sql.functions._
    import graft.operators.Sketches

    val ids = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
      .select(col("user_id"))
    val k = 8
    def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long)] =
      df.orderBy("h").collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val oneShot = rows(Sketches.kmvSketch(ids, k))
    val rng = new scala.util.Random(11L)
    (1 to 3).foreach { trial =>
      val parts = 2 + rng.nextInt(3) // 2-4 arbitrary (non-chronological) splits
      val salt = rng.nextInt(1000)
      val store = s"$base/kmv_prop_$trial"
      (0 until parts).foreach { i =>
        val chunk = ids.filter(abs(hash(col("user_id") + salt)) % parts === i)
        Sketches.updateStoredKmv(spark, chunk, store, k, batchId = i.toLong)
      }
      assert(rows(Sketches.readKmv(spark, store)) == oneShot,
        s"trial $trial parts=$parts salt=$salt diverged from one-shot")
    }
  }

  test("streaming count-min: stored cells equal the one-shot build bit-for-bit (linearity)") {
    import org.apache.spark.sql.functions._
    import graft.operators.Sketches

    def toBigrams(df: org.apache.spark.sql.DataFrame) = df
      .select(split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= 2)
      .select(explode(expr(
        "transform(sequence(0, size(toks) - 2), i -> concat(toks[i], ' ', toks[i + 1]))"))
        .as("bg"))

    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .select("doc_id", "text")
    val landing = s"$base/cm_landing"
    Files.createDirectories(Paths.get(landing))
    (0 until 3).foreach { i =>
      docs.filter(col("doc_id") % 3 === i).coalesce(1).write.json(s"$landing/chunk$i")
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("doc_id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("text",
        org.apache.spark.sql.types.StringType)))
    val stream = toBigrams(spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").json(s"$landing/chunk*"))

    val storeDir = s"$base/cm_store"
    val q = StreamingIngest.foldEachBatch(stream, s"$base/cm_ckpt", Trigger.AvailableNow()) {
      (b, id) => Sketches.updateStoredCountMin(b.sparkSession, b, storeDir, id)
    }
    q.awaitTermination(120000)

    def cells(df: org.apache.spark.sql.DataFrame): Set[(Int, Long, Long)] = df
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSet
    val stored = cells(Sketches.readCountMin(spark, storeDir))
    val oneShot = cells(Sketches.countMinCells(toBigrams(docs)))
    assert(stored == oneShot,
      s"linearity broken: stored-only=${stored -- oneShot} oneshot-only=${oneShot -- stored}")
    assert(stored.nonEmpty)
    // crash replay folds nothing
    Sketches.updateStoredCountMin(spark, toBigrams(docs), storeDir, batchId = 0L)
    assert(cells(Sketches.readCountMin(spark, storeDir)) == stored, "replay mutated the cells")
  }

  test("streaming constraint ledger: cumulative counts equal the one-shot audit (additivity)") {
    import org.apache.spark.sql.functions._
    import graft.operators.DataQuality

    val events = graft.queries.Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "user_id", "event_type", "value", "props")
    val landing = s"$base/dq_landing"
    Files.createDirectories(Paths.get(landing))
    (0 until 3).foreach { i =>
      events.filter(col("event_id") % 3 === i).coalesce(1).write.json(s"$landing/chunk$i")
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("props", StringType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").json(s"$landing/chunk*")

    val storeDir = s"$base/dq_store"
    val q = StreamingIngest.foldEachBatch(stream, s"$base/dq_ckpt", Trigger.AvailableNow()) {
      (b, id) => DataQuality.updateStoredLedger(b.sparkSession, b, storeDir, id)
    }
    q.awaitTermination(120000)

    def rows(df: org.apache.spark.sql.DataFrame): Set[(String, Long, Long)] = df
      .select("constraint", "violations", "n_rows")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val stored = rows(DataQuality.readLedger(spark, storeDir))
    val oneShot = rows(DataQuality.violationCounts(events))
    assert(stored == oneShot,
      s"additivity broken: stored-only=${stored -- oneShot} oneshot-only=${oneShot -- stored}")
    assert(stored.map(_._1) == DataQuality.eventRules.map(_._1).toSet)
    // the scheduler view derives pass flags from the same ledger
    val status = DataQuality.ledgerStatus(spark, storeDir)
      .collect().map(r => r.getString(0) -> r.getBoolean(3)).toMap
    val violated = oneShot.filter(_._2 > 0).map(_._1)
    assert(violated.forall(c => !status(c)), s"violated rules must not pass: $violated")
    assert((status.keySet -- violated).forall(status), "clean rules must pass")
    // crash replay folds nothing
    DataQuality.updateStoredLedger(spark, events, storeDir, batchId = 0L)
    assert(rows(DataQuality.readLedger(spark, storeDir)) == stored, "replay mutated the ledger")

    // crash INSIDE the swap window: the store dir moved aside but the new
    // version never renamed in (process died between the two renames).
    // Every reader/guard must restore the last committed version instead
    // of seeing an empty store — before StoreCommit.recover, this state
    // silently reset the ledger and the next fold re-counted from zero.
    import org.apache.hadoop.fs.Path
    val dir = new Path(s"$storeDir/ledger")
    val fs = graft.operators.StoreCommit.fsOf(spark, dir)
    assert(fs.rename(dir, new Path(dir.getParent, s".${dir.getName}.previous")),
      "test setup: simulate the crash window")
    // READERS serve the aside WITHOUT renaming (a mid-swap writer must not
    // find the main dir resurrected under it — the r8 review's race)...
    assert(rows(DataQuality.readLedger(spark, storeDir)) == stored,
      "reader did not serve the crash-windowed aside")
    assert(!fs.exists(dir), "a reader must never mutate the store")
    // ...the WRITER restores the main dir on its next cycle, and the replay
    // cursor survives with the content: the already-folded batch folds nothing
    DataQuality.updateStoredLedger(spark, events, storeDir, batchId = 1L)
    assert(fs.exists(dir), "writer did not restore the crash-windowed store")
    assert(rows(DataQuality.readLedger(spark, storeDir)) == stored,
      "post-recovery replay mutated the ledger")
  }

  test("streaming drift monitor: stored-histogram PSI equals the batch q_profile_drift row-for-row") {
    import org.apache.spark.sql.functions._
    import graft.operators.DataQuality

    // replicate the batch query's reference/current split exactly: first
    // half of the time range is the frozen reference, second half streams
    val sf = "/root/testdata/sf0.001"
    val events = graft.queries.Tables.events(spark, sf)
    val mid = events
      .agg(min(unix_micros(col("ts"))).as("lo"), max(unix_micros(col("ts"))).as("hi"))
      .select(expr("lo + (hi - lo) div 2").as("mid")).head().getLong(0)
    val ref = events.filter(unix_micros(col("ts")) <= mid)
    val cur = events.filter(unix_micros(col("ts")) > mid)
      .select("event_id", "user_id", "event_type", "value")

    val storeDir = s"$base/drift_store"
    DataQuality.buildDriftReference(spark, ref, storeDir)

    val landing = s"$base/drift_landing"
    Files.createDirectories(Paths.get(landing))
    (0 until 3).foreach { i =>
      cur.filter(col("event_id") % 3 === i).coalesce(1).write.json(s"$landing/chunk$i")
    }
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType)))
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").json(s"$landing/chunk*")
    // NOT "$base/drift_ckpt": the ingest-dedup test at the top of this
    // suite already owns that checkpoint, and reusing it trips Spark's
    // stateful-operator metadata check (dedupeWithinWatermark vs none)
    val q = StreamingIngest.foldEachBatch(stream, s"$base/psi_ckpt", Trigger.AvailableNow()) {
      (b, id) => DataQuality.updateDriftCurrent(b.sparkSession, b, storeDir, id)
    }
    q.awaitTermination(120000)

    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
    val live = rows(DataQuality.driftStatus(spark, storeDir))
    val batch = rows(SparkEntry.queries("q_profile_drift")(spark, sf))
    assert(live == batch, s"stream != batch:\nlive=$live\nbatch=$batch")
    assert(live.nonEmpty)
    // replay folds nothing
    DataQuality.updateDriftCurrent(spark, cur, storeDir, batchId = 0L)
    assert(rows(DataQuality.driftStatus(spark, storeDir)) == live, "replay mutated the bins")
  }

  // A stateful operator's partition count is recorded in the checkpoint when
  // the query first starts; deployments with 32-partition checkpoints rely on
  // a restart keeping it. Both tests run last: the first re-sizes the suite's
  // session through the factory.
  private def statePartitions(ckpt: String): Seq[java.io.File] =
    Option(new java.io.File(s"$ckpt/state/0").listFiles).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.forall(_.isDigit))

  // state-store versions each partition committed, one per micro-batch
  private def committedVersions(ckpt: String): Seq[Int] =
    statePartitions(ckpt).map(_.list.count(_.endsWith(".delta")))

  private def eventIds(out: String): Seq[String] = {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    spark.read.parquet(out).select(get_json_object(col("details"), "$.eventid")).as[String]
      .collect().toSeq.sorted
  }

  test("replay-dedup state: a fresh checkpoint gets one partition per core of the factory session") {
    val landing = s"$base/cores_landing"
    val ckpt = s"$base/cores_ckpt"
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    // the suite's session, which the factory re-sizes to its cores
    val s = Engine.createSession("streaming-spec", "local[4]")
    write(landing, "a.json", """{"eventid": "cores-001", "msg": "one"}""")
    StreamingIngest.start(s, landing, s"$base/cores_events", ckpt, Trigger.AvailableNow())
      .awaitTermination(120000)
    assert(statePartitions(ckpt).size == s.sparkContext.defaultParallelism)
  }

  test("replay-dedup state: a checkpoint made under 8 partitions keeps 8 on a 4-partition restart, and still dedups") {
    val landing = s"$base/p8_landing"
    val out = s"$base/p8_events"
    val ckpt = s"$base/p8_ckpt"
    val eight = spark.newSession()
    eight.conf.set("spark.sql.shuffle.partitions", "8")
    write(landing, "a.json", """{"eventid": "p8-001", "msg": "first"}""")
    StreamingIngest.start(eight, landing, out, ckpt, Trigger.AvailableNow()).awaitTermination(120000)
    val before = committedVersions(ckpt)
    assert(before.size == 8)

    spark.conf.set("spark.sql.shuffle.partitions", "4")
    write(landing, "a_replay.json", """{"eventid": "p8-001", "msg": "first"}""")
    write(landing, "b.json", """{"eventid": "p8-002", "msg": "second"}""")
    val q = StreamingIngest.start(spark, landing, out, ckpt, Trigger.AvailableNow())
    q.awaitTermination(120000)
    assert(q.exception.isEmpty, q.exception)
    val after = committedVersions(ckpt)
    assert(after.size == 8 && after.forall(_ > before.max), s"the restart did not commit all 8 partitions: $after")
    assert(eventIds(out) == Seq("p8-001", "p8-002"), "the replayed file was not dropped")
  }
}
