package graft.tools

import org.apache.hadoop.fs.{FileSystem, FileUtil, Path}
import org.apache.spark.sql.SparkSession

/** Partition-COUNT scale probe (r17 verdict task 4) — the one 100 TB
  * dimension no prior round measured: the reference's hour-partitioned
  * layout is 8,760 partitions at one year (`/root/reference`'s
  * generate_partitions.py registers them hourly), and driver-side
  * file/partition listing is the classic data-lake bottleneck that row
  * counts never exercise. Every prior gate ran against single-digit
  * partition counts.
  *
  * The probe builds a synthetic hourly tree (year=/month=/day=/hour=, ONE
  * tiny parquet file per partition — partition-metadata cost isolated from
  * data cost), registers it exactly like
  * [[graft.Engine.registerReferenceCatalog]] (CREATE TABLE + MSCK REPAIR),
  * and measures at each requested partition count:
  *
  *   - `msck_sec` — partition discovery (the reference's registration cron
  *     collapsed into one call; its cost is the listing);
  *   - `cold_plan_sec` — first plan of a point query (catalog partition
  *     pruning happens here);
  *   - `point_*` — a single-hour query: wall plus the EXECUTED scan's
  *     "number of files read" / partition count, ASSERTED == 1 (the prune
  *     must hold at 10^4 exactly as q_scan_partition_prune pins at 10^0);
  *   - `day_*` — a one-day range (24 partitions) through a month+day
  *     predicate, asserted == 24;
  *   - `full_*` — unpruned count(*) over every partition (the worst-case
  *     planning + listing path).
  *
  * Run: `sbt 'runMain graft.tools.PartitionProbe [base] [counts]'`
  * (defaults /tmp/graft_partprobe and 1000,8760). One JSON line per count.
  */
object PartitionProbe {

  private val Db = "graft_pprobe"

  /** Build `nHours` hourly partitions under `base`: one seed parquet file
    * (reference events schema) fs-copied into every partition directory —
    * a 10^4-partition tree in seconds, no 10^4 Spark jobs. Hours advance
    * from 2024-01-01T00 so a year lands on real month/day boundaries. */
  def buildTree(spark: SparkSession, base: String, nHours: Int): Unit = {
    import spark.implicits._
    val conf = spark.sparkContext.hadoopConfiguration
    val basePath = new Path(base)
    val fs = FileSystem.get(basePath.toUri, conf)
    fs.delete(basePath, true)
    val seedDir = new Path(base + ".seed")
    fs.delete(seedDir, true)
    Seq(("probe-0", "2024-01-01 00:00:00+00:00", "INFO", "partition probe seed",
      "probe", "partprobe", Seq("probe"), Seq.empty[String], """{"k": 1}"""))
      .toDF("eventid", "utctimestamp", "severity", "summary",
        "category", "source", "tags", "plugins", "details")
      .coalesce(1).write.parquet(seedDir.toString)
    val seedFile = fs.listStatus(seedDir)
      .map(_.getPath).find(_.getName.endsWith(".parquet"))
      .getOrElse(throw new IllegalStateException("no seed parquet written"))
    // parallel copy fan-out: the serial loop was ~10 ms/partition (89 s at
    // 8,760) which blocks the 10-year 87,600-partition point; local-fs
    // FileSystem handles are thread-safe for independent target paths
    val start = java.time.LocalDateTime.of(2024, 1, 1, 0, 0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
    try {
      val futures = (0 until nHours).map { i =>
        pool.submit(new Runnable {
          override def run(): Unit = {
            val t = start.plusHours(i.toLong)
            val dir = new Path(base,
              f"year=${t.getYear}%04d/month=${t.getMonthValue}%02d/" +
                f"day=${t.getDayOfMonth}%02d/hour=${t.getHour}%02d")
            fs.mkdirs(dir)
            FileUtil.copy(fs, seedFile, fs, new Path(dir, "part-0.parquet"), false, conf)
          }
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    fs.delete(seedDir, true)
  }

  /** The executed scan's (files read, partitions read) — the prune's ground
    * truth, from the same metrics the UI shows. */
  private def scanMetrics(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
    import org.apache.spark.sql.execution.SparkPlan
    def unwrap(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        unwrap(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => unwrap(q.plan)
      case other => other +: other.children.flatMap(unwrap)
    }
    val scans = unwrap(df.queryExecution.executedPlan)
      .collect { case f: org.apache.spark.sql.execution.FileSourceScanExec => f }
    val files = scans.map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
    val parts = scans.map(_.metrics.get("numPartitions").map(_.value).getOrElse(0L)).sum
    (files, parts)
  }

  private def timed[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Register + measure one tree. Returns the probe's JSON line. */
  def probe(spark: SparkSession, base: String, nHours: Int): String = {
    spark.sql(s"CREATE DATABASE IF NOT EXISTS $Db")
    spark.sql(s"DROP TABLE IF EXISTS $Db.events")
    spark.sql(s"""CREATE TABLE $Db.events (
        eventid STRING, utctimestamp STRING, severity STRING, summary STRING,
        category STRING, source STRING, tags ARRAY<STRING>,
        plugins ARRAY<STRING>, details STRING)
      USING parquet
      PARTITIONED BY (year STRING, month STRING, day STRING, hour STRING)
      LOCATION '$base'""")
    val (_, msckSec) = timed(spark.sql(s"MSCK REPAIR TABLE $Db.events"))

    // targets from the tree's own midpoint: the mid-tree COMPLETE day (24
    // hours present) and an hour inside it — valid at any nHours >= 24
    require(nHours >= 24, s"probe needs at least one full day, got $nHours hours")
    val dayStartIdx = math.min((nHours / 2 / 24) * 24, nHours - 24)
    val mid = java.time.LocalDateTime.of(2024, 1, 1, 0, 0).plusHours(dayStartIdx + 7L)
    val (py, pm, pd, ph) = (f"${mid.getYear}%04d", f"${mid.getMonthValue}%02d",
      f"${mid.getDayOfMonth}%02d", f"${mid.getHour}%02d")

    // cold plan: catalog partition pruning happens while building the
    // physical plan for the FIRST query against the registered table
    val point = spark.sql(s"""SELECT count(*) AS n FROM $Db.events
      WHERE year = '$py' AND month = '$pm' AND day = '$pd' AND hour = '$ph'""")
    val (_, coldPlanSec) = timed(point.queryExecution.executedPlan)
    val (pointRows, pointSec) = timed(point.collect())
    val (pointFiles, pointParts) = scanMetrics(point)
    assert(pointRows.head.getLong(0) == 1L, s"point query rows: ${pointRows.head}")
    assert(pointFiles == 1L && pointParts <= 1L,
      s"PRUNING BROKEN at $nHours partitions: point query read $pointFiles files / " +
        s"$pointParts partitions (expected 1/1)")

    val day = spark.sql(s"""SELECT count(*) AS n FROM $Db.events
      WHERE year = '$py' AND month = '$pm' AND day = '$pd'""")
    val (dayRows, daySec) = timed(day.collect())
    val (dayFiles, _) = scanMetrics(day)
    assert(dayRows.head.getLong(0) == 24L && dayFiles == 24L,
      s"day-range prune at $nHours partitions: ${dayRows.head.getLong(0)} rows / " +
        s"$dayFiles files (expected 24/24)")

    val full = spark.sql(s"SELECT count(*) AS n FROM $Db.events")
    val (fullRows, fullSec) = timed(full.collect())
    assert(fullRows.head.getLong(0) == nHours.toLong)

    f"""{"partitions":$nHours,"msck_sec":$msckSec%.2f,"cold_plan_sec":$coldPlanSec%.2f,""" +
      f""""point_exec_sec":$pointSec%.2f,"point_files_read":$pointFiles,""" +
      f""""day_exec_sec":$daySec%.2f,"day_files_read":$dayFiles,""" +
      f""""full_exec_sec":$fullSec%.2f,"full_rows":${fullRows.head.getLong(0)}}"""
  }

  def main(args: Array[String]): Unit = {
    val base = if (args.length > 0) args(0) else "/tmp/graft_partprobe"
    val counts = (if (args.length > 1) args(1) else "1000,8760")
      .split(",").map(_.trim.toInt).toSeq
    val spark = graft.Engine.createSession("graft-partition-probe", graft.Engine.localMaster,
      "spark.sql.warehouse.dir" -> s"$base-warehouse")
    spark.sparkContext.setLogLevel("WARN")
    counts.foreach { n =>
      val dir = s"$base/h$n"
      val (_, buildSec) = timed(buildTree(spark, dir, n))
      System.err.println(f"[partprobe] built $n partitions in $buildSec%.1f s")
      println(probe(spark, dir, n))
    }
    spark.stop()
  }
}
