package graft

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.operators._

/** Direct pins for the shared persisted-store commit discipline — the
  * swap/recover/readableRoot/cursor contract every store builds on — plus
  * a crash-injection test per store family and a source guard that keeps
  * every publish going through [[StoreCommit]]. */
class StoreCommitSpec extends AnyFunSuite with SparkSuite {

  private var base: String = _

  override def beforeAll(): Unit = {
    super.beforeAll()
    base = java.nio.file.Files.createTempDirectory("graft_storecommit").toString
  }

  private def writeDir(p: Path, marker: String): Unit = {
    val fs = StoreCommit.fsOf(spark, p)
    fs.mkdirs(p)
    val out = fs.create(new Path(p, marker), true)
    try out.write("x".getBytes) finally out.close()
  }

  private def has(p: Path, marker: String): Boolean = {
    val fs = StoreCommit.fsOf(spark, p)
    fs.exists(new Path(p, marker))
  }

  test("swap publishes the staged dir and leaves no aside behind") {
    val dir = new Path(s"$base/s1/store")
    val tmp = new Path(s"$base/s1/.store.building")
    val fs = StoreCommit.fsOf(spark, dir)
    writeDir(dir, "v1")
    writeDir(tmp, "v2")
    StoreCommit.swap(fs, dir, tmp)
    assert(has(dir, "v2") && !has(dir, "v1"), "new version must be live")
    assert(!fs.exists(new Path(s"$base/s1/.store.previous")), "aside must be cleaned")
    assert(!fs.exists(tmp), "staging dir must be consumed")
  }

  test("readableRoot serves the crash aside WITHOUT mutating; recover restores; committedBatch survives") {
    val dir = new Path(s"$base/s2/store")
    val tmp = new Path(s"$base/s2/.store.building")
    val fs = StoreCommit.fsOf(spark, dir)
    writeDir(tmp, "v1")
    StoreCommit.writeMeta(fs, tmp, 7L)
    StoreCommit.swap(fs, dir, tmp)
    assert(StoreCommit.committedBatch(fs, dir) == 7L)
    // simulate the crash window: dir moved aside, new version never arrived
    val aside = new Path(s"$base/s2/.store.previous")
    assert(fs.rename(dir, aside))
    // reader: sees the committed content in place, renames NOTHING
    val root = StoreCommit.readableRoot(fs, dir)
    assert(root == aside && has(root, "v1"))
    assert(!fs.exists(dir), "readableRoot must not mutate the store")
    // writer: restores the main dir, cursor intact
    assert(StoreCommit.committedBatch(fs, dir) == 7L) // committedBatch recovers
    assert(fs.exists(dir) && has(dir, "v1"))
    // recover tolerates racing itself / the dir reappearing
    StoreCommit.recover(fs, dir)
    assert(fs.exists(dir))
  }

  test("cursor: -1 before any commit; readableRoot falls back to the (absent) dir") {
    val dir = new Path(s"$base/s3/store")
    val fs = StoreCommit.fsOf(spark, dir)
    assert(StoreCommit.committedBatch(fs, dir) == -1L)
    assert(StoreCommit.readableRoot(fs, dir) == dir)
  }

  test("committedBatchReadable serves the cursor from a crash aside WITHOUT mutating (r15 review)") {
    val dir = new Path(s"$base/s4/store")
    val fs = StoreCommit.fsOf(spark, dir)
    writeDir(dir, "v1")
    StoreCommit.writeMeta(fs, dir, 11L)
    // simulate the writer's swap window: main dir moved aside
    val aside = new Path(dir.getParent, s".${dir.getName}.previous")
    assert(fs.rename(dir, aside))
    // the read-side cursor resolves through the aside AND renames nothing —
    // a reader-side recover here could corrupt a live writer's swap
    assert(StoreCommit.committedBatchReadable(fs, dir) == 11L)
    assert(!fs.exists(dir) && fs.exists(aside),
      "read-side cursor lookup mutated the store (renamed the aside back)")
    // absent store: -1, still no mutation
    assert(StoreCommit.committedBatchReadable(fs, new Path(s"$base/s4/nope")) == -1L)
    // a swap that lands between the resolution and the read: the cursor's
    // dir moves aside just before its open, and the read re-resolves
    spark.sparkContext.hadoopConfiguration.set("fs.crashfs.impl", classOf[CrashFs].getName)
    val racing = new Path(s"crashfs://$base/s4/racing")
    val cfs = StoreCommit.fsOf(spark, racing)
    writeDir(racing, "v1")
    StoreCommit.writeMeta(cfs, racing, 12L)
    CrashFs.beforeOpen = () => assert(cfs.rename(racing, StoreCommit.asideOf(racing)))
    assert(StoreCommit.committedBatchReadable(cfs, racing) == 12L)
  }

  test("reader WHILE writer: every successful concurrent read equals a committed prefix (r15 verdict task 6)") {
    // the probe's own kernel at a spec-sized horizon: 14 batches of 800
    // rows drives the signature store through multiple delta publishes AND
    // (CompactAt=16 per bucket is not reached at this size — publish
    // windows are the target here; the 60-batch probe covers compaction
    // windows) with a reader thread racing committedBatch/read the whole
    // way. Violations = a read that matched NO committed prefix — the
    // torn-read and uncommitted-leak bug classes; transient vanished-file
    // retries are the documented compaction-window contract, tolerated.
    val dir = s"$base/rw/signature"
    val (reads, retries, cursorFailures, violations) =
      graft.tools.StoreProbe.readerWriterRun(spark, dir, batches = 14, delta = 800)
    assert(violations.isEmpty,
      s"non-committed-prefix reads: ${violations.take(3).mkString("; ")}")
    // the read-side cursor serves a committed id through every swap window
    assert(cursorFailures == 0, s"$cursorFailures cursor reads failed")
    assert(reads >= 2, s"reader landed only $reads reads — the race never ran")
    // after the dust settles, the final prefix is all 14 batches
    assert(graft.operators.SignatureStore.read(spark, dir).count() == 14L * 800)
    assert(retries < reads + 10, "reader mostly failed - not a transient-window pattern")
  }
  // ---- crash injection per store family ------------------------------

  private def images(ids: Seq[Long]): DataFrame = {
    val s = spark
    import s.implicits._
    ids.map { id =>
      val px = Array.tabulate(64)(i =>
        (((id * 2654435761L + i * (2 * id + 7) + i.toLong * i * (id % 13 + 1)) % 250 + 3)
          & 0xff).toByte)
      (id, Multimodal.encodeGrayPng(px, 8, 8))
    }.toDF("doc_id", "media")
  }

  private def docs(text: String*): DataFrame = {
    val s = spark
    import s.implicits._
    text.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
  }

  private def longs(df: DataFrame, c: String): Set[Long] =
    df.select(c).collect().map(_.getLong(0)).toSet

  private def idPayload(dir: String): Map[Long, String] =
    spark.read.parquet(dir).select("id", "payload").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap

  private def writeTable(dir: String, rows: Seq[(Long, String)], files: Int = 1): Unit = {
    val s = spark
    import s.implicits._
    rows.map { case (id, p) => (id, p, "2026", "01") }
      .toDF("id", "payload", "year", "month").repartition(files)
      .write.partitionBy("year", "month").parquet(dir)
  }

  /** One store family: `build` commits a first version at `dir`; after the
    * test strands it (moved to its crash aside, as a death between the two
    * renames of a publish leaves it), `read` must serve the committed
    * version without renaming anything, then `write` (the family's next
    * writer) must restore it and publish, and `check` sees the committed
    * content plus the new delta.
    *
    * A `replays` family folds micro-batches behind a batch-id cursor:
    * `build` delivers batch 0 and `write` batch 1, so running either again
    * is foreachBatch's at-least-once redelivery and must leave the store's
    * files untouched. `lose` takes away what a crash right after the
    * cursor's publish leaves unwritten of the rest of that batch's work,
    * before batch 1 is redelivered. */
  private case class Family(
      name: String, dir: Path, build: () => Unit, write: () => Unit,
      check: () => Unit, read: () => Unit = () => (),
      replays: Boolean = false, lose: () => Unit = () => ())

  /** Every file under `dir`, relative to it. Spark names each part file
    * after its write job, so a republish changes this set. */
  private def files(dir: Path): Set[String] = {
    val fs = StoreCommit.fsOf(spark, dir)
    val root = fs.makeQualified(dir).toString
    val it = fs.listFiles(dir, true)
    val names = Set.newBuilder[String]
    while (it.hasNext) names += it.next().getPath.toString.stripPrefix(root)
    names.result()
  }

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  /** A store folded through [[StoreCommit.publishBatch]]: `fold(batch,
    * storeDir, batchId)` keeps its cursor in `storeDir + sub`, and `read`
    * is the store's reader. After batches 0 and 1 the store must equal
    * one fold of their union into a fresh store, at cursor 1. */
  private def batchFamily(
      name: String, storeDir: String, sub: String, b0: DataFrame, b1: DataFrame,
      fold: (DataFrame, String, Long) => Unit, read: String => DataFrame,
      lose: String => Unit = _ => ()): Family = {
    val dir = new Path(storeDir + sub)
    var committed = Seq.empty[String]
    Family(name, dir,
      build = () => { fold(b0, storeDir, 0L); committed = rows(read(storeDir)) },
      write = () => fold(b1, storeDir, 1L),
      check = () => {
        fold(b0.unionByName(b1), s"${storeDir}_oneshot", 0L)
        assert(rows(read(storeDir)) == rows(read(s"${storeDir}_oneshot")),
          s"$name: the folded store differs from the one-shot fold")
        assert(StoreCommit.committedBatch(StoreCommit.fsOf(spark, dir), dir) == 1L)
      },
      read = () => assert(rows(read(storeDir)) == committed,
        s"$name: a reader of the stranded store missed the committed version"),
      replays = true, lose = () => lose(storeDir))
  }

  /** The eight publishBatch stores, each fed two small micro-batches. */
  private def batchFamilies(root: String): Seq[Family] = {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.{struct, timestamp_seconds, to_json}
    def ts(h: Int) = 1767225600L + 3600L * h // 2026-01-01T00:00Z plus h hours
    val longKeys0 = Seq(1L, 2L, 2L, 3L, 5L, 8L, 13L).toDF("k")
    val longKeys1 = Seq(2L, 3L, 21L, 34L, 55L, 8L).toDF("k")
    val events0 = Seq((Some(1L), "click", """{"k":1}""", 5.0), (None, "view", "{}", 45.0),
      (Some(3L), "bogus", """{"k":2}""", -1.0)).toDF("event_id", "event_type", "props", "value")
    val events1 = Seq((Some(4L), "login", """{"k":3}""", 130.0),
      (Some(5L), "view", """{"k":4}""", 65.0)).toDF("event_id", "event_type", "props", "value")
    // 30 quiet hours, then a spike the 24-hour z-score gate flags
    val hourly0 = (0 until 30).map(h => ("api", ts(h))).toDF("event_type", "t")
      .select($"event_type", timestamp_seconds($"t").as("ts"))
    val hourly1 = (Seq.fill(50)(30) :+ 31).map(h => ("api", ts(h))).toDF("event_type", "t")
      .select($"event_type", timestamp_seconds($"t").as("ts"))
    val changes0 = Seq((1L, 1L, "I", "a"), (2L, 2L, "I", "b"), (3L, 3L, "I", "c"))
      .toDF("key", "seq", "op", "payload")
    val changes1 = Seq((2L, 4L, "U", "b2"), (3L, 5L, "D", "c"), (4L, 6L, "I", "d"), (1L, 0L, "U", "stale"))
      .toDF("key", "seq", "op", "payload")
    def history(rs: (Long, Int, Long, String)*) = rs.map { case (u, h, id, t) => (u, ts(h), id, t) }
      .toDF("user_id", "t", "event_id", "event_type")
      .select($"user_id", timestamp_seconds($"t").as("ts"), $"event_id", $"event_type")
    val history0 = history((1L, 0, 1L, "view"), (1L, 1, 2L, "view"), (2L, 0, 3L, "click"))
    val history1 = history((1L, 2, 4L, "view"), (1L, 3, 5L, "buy"), (2L, 4, 6L, "view"), (3L, 5, 7L, "view"))
    def json(df: DataFrame) = df.select(to_json(struct(df.columns.map(col): _*)).as("row"))
    Seq(
      batchFamily("count-min", s"$root/cm", "/cm",
        Seq("a", "b", "a", "c").toDF("k"), Seq("b", "d", "a").toDF("k"),
        Sketches.updateStoredCountMin(spark, _, _, _), Sketches.readCountMin(spark, _)),
      batchFamily("KMV", s"$root/kmv", "/kmv", longKeys0, longKeys1,
        Sketches.updateStoredKmv(spark, _, _, 4, _), Sketches.readKmv(spark, _)),
      batchFamily("Misra-Gries", s"$root/mg", "/sketch", longKeys0, longKeys1,
        Sketches.updateStoredSketch(spark, _, _, 64, _),
        sd => Sketches.readSketch(spark, sd).toSeq.toDF("key", "cnt")),
      batchFamily("DQ ledger", s"$root/ledger", "/ledger", events0, events1,
        DataQuality.updateStoredLedger(spark, _, _, _), DataQuality.readLedger(spark, _)),
      batchFamily("drift current", s"$root/drift", "/drift_cur", events0, events1,
        DataQuality.updateDriftCurrent(spark, _, _, _),
        sd => spark.read.parquet(StoreCommit.readableRoot(
          StoreCommit.fsOf(spark, new Path(sd)), new Path(s"$sd/drift_cur")).toString)),
      batchFamily("hourly + alerts", s"$root/hourly", "/hourly", hourly0, hourly1,
        Monitoring.updateHourly(spark, _, _, _),
        sd => json(Monitoring.readHourly(spark, sd))
          .unionByName(json(Monitoring.readAlerts(spark, sd))),
        lose = sd => StoreCommit.fsOf(spark, new Path(sd)).delete(new Path(s"$sd/alerts"), true)),
      batchFamily("CDC snapshot", s"$root/cdc", "", changes0, changes1,
        SnapshotStore.apply(spark, _, _, _, keyCol = "key"), SnapshotStore.readAll(spark, _)),
      batchFamily("SCD2 history", s"$root/scd2", "", history0, history1,
        HistoryStore.append(spark, _, _, _), HistoryStore.read(spark, _)))
  }

  private def families(root: String): Seq[Family] = {
    val s = spark
    import s.implicits._
    def table(name: String) = s"$root/$name"
    def part(name: String) = new Path(s"${table(name)}/year=2026/month=01")
    Seq(
      Family("pHash append", new Path(s"$root/phash_a"),
        () => Multimodal.buildPhashIndex(spark, images(0L until 8L), s"$root/phash_a"),
        () => Multimodal.appendPhashIndex(spark, images(8L until 12L), s"$root/phash_a"),
        () => assert(longs(spark.read.parquet(s"$root/phash_a/hashes"), "doc_id") ==
          (0L until 12L).toSet),
        () => assert(Multimodal.scrubImagesAgainstIndex(
          spark, images(Seq(3L)), s"$root/phash_a").head().getLong(3) >= 1L)),
      Family("pHash delete", new Path(s"$root/phash_d"),
        () => Multimodal.buildPhashIndex(spark, images(0L until 8L), s"$root/phash_d"),
        () => assert(Multimodal.deleteFromPhashIndex(spark, s"$root/phash_d", Seq(3L)) == 1L),
        () => {
          assert(longs(spark.read.parquet(s"$root/phash_d/hashes"), "doc_id") ==
            (0L until 8L).toSet - 3L)
          assert(longs(spark.read.parquet(s"$root/phash_d/tombstones"), "doc_id") == Set(3L))
        }),
      Family("LM", new Path(s"$root/lm"),
        () => LanguageModel.buildLm(spark, docs("a b c d e f g"), s"$root/lm"),
        () => LanguageModel.buildLm(spark, docs("p q r s t u v"), s"$root/lm"),
        () => assert(LanguageModel.lmTables(spark, s"$root/lm").uni
          .select("w").as[String].collect().toSet == "pqrstuv".map(_.toString).toSet),
        () => assert(LanguageModel.scoreAgainstLm(spark, docs("a b c d e"), s"$root/lm")
          .count() == 1L)),
      Family("tokenizer", new Path(s"$root/tok"),
        () => Tokenizer.buildTokenizer(spark, docs("banana band"), s"$root/tok", nMerges = 4),
        () => Tokenizer.buildTokenizer(spark, docs("cocoa cola"), s"$root/tok", nMerges = 4),
        () => assert(spark.read.parquet(s"$root/tok/vocab").select("w").as[String]
          .collect().toSet == Set("cocoa", "cola")),
        () => assert(Tokenizer.encodeAgainst(spark, docs("banana"), s"$root/tok")
          .count() == 1L)),
      Family("merge upsert", part("upsert"),
        () => writeTable(table("upsert"), Seq(1L -> "a", 2L -> "b")),
        () => Merge.upsertPartitioned(spark, table("upsert"),
          Seq((2L, "b2", "2026", "01"), (3L, "c", "2026", "01"))
            .toDF("id", "payload", "year", "month"), "id", Seq("year", "month")),
        () => assert(idPayload(table("upsert")) == Map(1L -> "a", 2L -> "b2", 3L -> "c"))),
      Family("merge delete", part("delete"),
        () => writeTable(table("delete"), Seq(1L -> "a", 2L -> "b", 3L -> "c")),
        () => assert(Merge.deletePartitioned(spark, table("delete"),
          Seq((2L, "2026", "01")).toDF("id", "year", "month"), "id", Seq("year", "month"))
          .map(_._2) == Seq(1L)),
        () => assert(idPayload(table("delete")) == Map(1L -> "a", 3L -> "c"))),
      Family("compaction", part("compact"),
        () => writeTable(table("compact"), (1L to 6L).map(i => i -> s"p$i"), files = 3),
        () => assert(Compaction.compactPartition(spark, part("compact").toString) == ((3, 1))),
        () => assert(idPayload(table("compact")) == (1L to 6L).map(i => i -> s"p$i").toMap)),
      Family("z-order", part("zorder"),
        () => writeTable(table("zorder"), (1L to 6L).map(i => i -> s"p$i"), files = 3),
        () => assert(Zorder.clusterPartition(
          spark, part("zorder").toString, "id", "id", 1) == ((3, 1))),
        () => assert(idPayload(table("zorder")) == (1L to 6L).map(i => i -> s"p$i").toMap)))
  }

  test("crash injection: every store family's next writer restores a stranded store and publishes") {
    val root = s"$base/families"
    (families(root) ++ batchFamilies(root)).foreach { f =>
      val fs = StoreCommit.fsOf(spark, f.dir)
      val aside = StoreCommit.asideOf(f.dir)
      f.build()
      // the crash: the live dir moved to its aside, the new version never arrived
      assert(fs.rename(f.dir, aside), s"${f.name}: test setup")
      f.read()
      assert(!fs.exists(f.dir) && fs.exists(aside), s"${f.name}: a reader renamed the store")
      if (f.replays) {
        // redelivering the committed batch restores the store and folds nothing
        val committed = files(aside)
        f.build()
        assert(files(f.dir) == committed, s"${f.name}: the replayed batch folded again")
      }
      f.write()
      assert(fs.exists(f.dir), s"${f.name}: store absent after the writer")
      assert(!fs.exists(aside), s"${f.name}: crash aside left behind")
      if (f.replays) {
        // the next batch folded exactly once: redelivering it changes nothing
        val once = files(f.dir)
        f.lose()
        f.write()
        assert(files(f.dir) == once, s"${f.name}: the next batch folded twice")
      }
      f.check()
    }
  }

  test("merge delete: a crash between hiding a dying partition and deleting it resurrects nothing") {
    val s = spark
    import s.implicits._
    spark.sparkContext.hadoopConfiguration.set("fs.crashfs.impl", classOf[CrashFs].getName)
    val table = s"crashfs://$base/erase"
    writeTable(s"$base/erase", Seq(1L -> "a", 2L -> "b"))
    CrashFs.armed = true
    try intercept[java.io.IOException](Merge.deletePartitioned(spark, table,
      Seq((1L, "2026", "01"), (2L, "2026", "01")).toDF("id", "year", "month"),
      "id", Seq("year", "month")))
    finally CrashFs.armed = false
    // the next write to the partition must not bring the erased rows back,
    // and sweeps the tomb that still holds them
    val tomb = new java.io.File(s"$base/erase/year=2026/.month=01.expiring")
    assert(tomb.exists(), "test setup: the crash left no tomb")
    Merge.upsertPartitioned(spark, table,
      Seq((3L, "c", "2026", "01")).toDF("id", "payload", "year", "month"),
      "id", Seq("year", "month"))
    assert(idPayload(s"$base/erase") == Map(3L -> "c"))
    assert(!tomb.exists(), "the erased rows outlived the next write in their tomb")
  }

  // ---- source guard --------------------------------------------------

  /** Files allowed to rename outside [[StoreCommit]], with how many
    * `.rename(` calls each may hold and why none of them republishes a
    * store. */
  private val RenameAllowList = Map(
    "Retention.scala" -> (1, "expirePartition: hide-then-delete under a swept, never-restored tomb"),
    "BucketedRuns.scala" -> (2, "per-file delta publish under deterministic names; base-file naming"),
    "ReplayGuard.scala" -> (1, "advance: a mark whose loss only costs the fast path"))

  private def sources(d: java.io.File): Seq[java.io.File] =
    Option(d.listFiles()).toSeq.flatten.flatMap(f =>
      if (f.isDirectory) sources(f) else if (f.getName.endsWith(".scala")) Seq(f) else Nil)

  /** Lines of `f` that contain `needle`. */
  private def count(f: java.io.File, needle: String): Int = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().count(_.contains(needle)) finally src.close()
  }

  /** (file name, innermost enclosing declaration that `decl` names) of
    * every line of `files` holding one of `needles`. */
  private def enclosing(
      files: Seq[java.io.File], needles: Seq[String],
      decl: scala.util.matching.UnanchoredRegex): Seq[(String, String)] =
    files.flatMap { f =>
      val src = scala.io.Source.fromFile(f, "UTF-8")
      try {
        var name = "<top level>"
        src.getLines().flatMap { line =>
          line match { case decl(n) => name = n; case _ => }
          if (needles.exists(line.contains)) Some(f.getName -> name) else None
        }.toList
      } finally src.close()
    }

  /** Files allowed to stamp a replay cursor outside
    * [[StoreCommit.publishBatch]], and why. */
  private val WriteMetaAllowList = Map(
    "SignatureStore.scala" -> "an optional batch id, and the build carries the cursor over",
    "Monitoring.scala" -> "updateRegularity keeps one cursor per bucket under publishEach",
    "PackingStore.scala" -> "append must guard before its BucketedRuns delta write")

  test("guard: every store publish goes through StoreCommit (no stray renames or stage names)") {
    val files = sources(new java.io.File("src/main/scala"))
      .filterNot(_.getName == "StoreCommit.scala")
    assert(files.size > 20, "source tree not found - is the working dir the repo root?")
    val renames = files.map(f => f.getName -> count(f, ".rename(")).filter(_._2 > 0).toMap
    val stray = renames.filter { case (n, c) => RenameAllowList.get(n).forall(_._1 < c) }
    assert(stray.isEmpty, s"renames outside StoreCommit: $stray - publish through " +
      "StoreCommit.publish, or add an allow-list entry with its reason")
    val stages = files.filter(count(_, ".building\"") > 0).map(_.getName)
    assert(stages.isEmpty, s"hand-computed stage dirs in $stages - use StoreCommit.publish")
    val stamps = files.filter(count(_, "writeMeta(") > 0).map(_.getName).toSet
    assert(stamps.subsetOf(WriteMetaAllowList.keySet),
      s"replay cursors stamped in ${stamps -- WriteMetaAllowList.keySet} - fold through " +
        "StoreCommit.publishBatch, or add an allow-list entry with its reason")
    val folds = enclosing(files, Seq(".foreachBatch"),
      """^\s*(?:private\S*\s+)?def\s+(\w+)""".r.unanchored)
    assert(folds == Seq("StreamingIngest.scala" -> "foldEachBatch"),
      s"foreachBatch sites $folds - start micro-batch folds through StreamingIngest.foldEachBatch")
  }

  /** Files allowed to name a session setting that the factory owns, with
    * how many lines each may hold and why. */
  private val SessionAllowList = Map(
    ("SparkSession" + ".builder") -> Map(
      "Engine.scala" -> (1, "createSession: the one session of every entry point and spec")),
    ("\"SPARK_GRAFT_" + "CPUS\"") -> Map(
      "Engine.scala" -> (1, "Engine.cores: the one reader, defaulting to the machine's cores"),
      "SpillProbe.scala" -> (1, "the cluster-sane preset runs 8 threads when the variable is unset")),
    ("fs.file" + ".impl") -> Map(
      "Engine.scala" -> (1, "createSession: the spawn-free file: FileSystem")),
    ("fs.AbstractFileSystem.file" + ".impl") -> Map(
      "Engine.scala" -> (1, "createSession: the spawn-free file: FileContext filesystem")))

  test("guard: every session comes from Engine.createSession, on Engine.cores") {
    val files = sources(new java.io.File("src/main/scala")) ++ sources(new java.io.File("src/test/scala"))
    assert(files.size > 40, "source tree not found - is the working dir the repo root?")
    SessionAllowList.foreach { case (needle, allowed) =>
      val hits = files.map(f => f.getName -> count(f, needle)).filter(_._2 > 0).toMap
      val stray = hits.filter { case (n, c) => allowed.get(n).forall(_._1 < c) }
      assert(stray.isEmpty, s"$needle outside its allow-list: $stray - build the session " +
        "through Engine.createSession and take its cores from Engine.cores")
    }
  }

  test("guard: every SQL function registers through the GraftExtensions.all table") {
    val files = sources(new java.io.File("src/main/scala"))
    assert(files.size > 20, "source tree not found - is the working dir the repo root?")
    Seq("injectFunction(", "FunctionIdentifier(").foreach { needle =>
      val hits = files.map(f => f.getName -> count(f, needle)).filter(_._2 > 0).toMap
      assert(hits == Map("GraftExtensions.scala" -> 1), s"$needle in $hits - register a " +
        "spelling as one GraftExtensions.all entry, so the one arity check covers it")
    }
  }

  test("guard: the IVF probe and the residual encode each have one body, in QuantQueries") {
    val files = sources(new java.io.File("src/main/scala"))
    assert(files.size > 20, "source tree not found - is the working dir the repo root?")
    Seq("orderBy(desc(\"csim\"), asc(\"cent_id\"))" -> "probeCells",
        "zip_with(col(\"xm\"), col(\"cmm\")" -> "residuals").foreach { case (needle, stage) =>
      val hits = files.map(f => f.getName -> count(f, needle)).filter(_._2 > 0).toMap
      assert(hits == Map("QuantQueries.scala" -> 1), s"$needle in $hits - call the shared " +
        s"QuantQueries.$stage, so the declared queries and VectorIndex run one stage")
    }
  }

  /** Expression classes allowed to hand-write generated code, and why a
    * `Kernels` binding (StaticInvoke) cannot express each. */
  private val CodegenAllowList = Map(
    "MapCosineSim" -> "own type check; the map key type rides as a reference object",
    "Hmac" -> "own type check and prettyName",
    "JsonArrayContains" -> "a boxed-null static call feeds a primitive result",
    "JsonSizeAtPath" -> "a boxed-null static call feeds a primitive result",
    "TryCastIntegral" -> "a mutable parse wrapper and per-width range checks")

  test("guard: generated code is hand-written only in the kept expression classes") {
    val files = sources(new java.io.File("src/main/scala"))
    assert(files.size > 20, "source tree not found - is the working dir the repo root?")
    val decl = """^\s*(?:final\s+|private\S*\s+)*(?:case\s+)?(?:class|object|trait)\s+(\w+)""".r.unanchored
    // (file, enclosing class or object) of every line that hand-writes
    // generated code
    val hits = enclosing(files, Seq("defineCodeGen(", "nullSafeCodeGen("), decl)
    assert(hits.map(_._2).toSet == CodegenAllowList.keySet,
      s"hand-written codegen in ${hits.filterNot(h => CodegenAllowList.contains(h._2))}, " +
        s"kept classes without any: ${CodegenAllowList.keySet -- hits.map(_._2)} - bind a " +
        "static kernel through graft.functions.Kernels instead")
  }
}

/** Local filesystem under the `crashfs` scheme that, while armed, dies
  * (throws) on deleting an existing dot-prefixed path — the hidden sibling
  * a hide-then-delete has just renamed a partition to — as a process death
  * between that rename and its delete would. `beforeOpen` runs once, just
  * before the next open, as a concurrent writer's step would. */
class CrashFs extends SpawnFreeRawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("crashfs:///")
  override def getScheme: String = "crashfs"
  override def delete(p: Path, recursive: Boolean): Boolean = {
    if (CrashFs.armed && p.getName.startsWith(".") && exists(p))
      throw new java.io.IOException(s"injected crash before deleting $p")
    super.delete(p, recursive)
  }
  override def open(p: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    val hook = CrashFs.beforeOpen
    CrashFs.beforeOpen = () => ()
    hook()
    super.open(p, bufferSize)
  }
}

object CrashFs {
  @volatile var armed = false
  @volatile var beforeOpen: () => Unit = () => ()
}
