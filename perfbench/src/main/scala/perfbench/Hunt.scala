package perfbench

import java.time.{LocalDateTime, ZoneOffset}
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}

import graft.Engine
import graft.json.{JObject, JString}
import graft.pipeline.{Dates, Event, Ingest, Pipeline}

/** The `hunt` workload: analysts' Presto-dialect SQL through `Engine.sql`
  * against an `events` view over a 7-day x 24-hour partitioned lake that the
  * program's own cascade and plugin pipeline built. Closed loop, two clients. */
object Hunt {
  val BaseSec: Long = LocalDateTime.of(2026, 10, 1, 0, 0).toEpochSecond(ZoneOffset.UTC)
  val Hours = 168
  val Flushes = 2
  /** The lake is built in this many runs of hours, one set-up repetition each. */
  val Chunks = 3
  val PerHour = 60
  val Clients = 2
  val WarmSeconds = 10.0

  def partition(hour: Int): (String, String, String, String) = {
    val t = LocalDateTime.ofEpochSecond(BaseSec + hour * 3600L, 0, ZoneOffset.UTC)
    (t.getYear.toString, f"${t.getMonthValue}%02d", f"${t.getDayOfMonth}%02d", f"${t.getHour}%02d")
  }
  private def where(hour: Int): String = {
    val (y, m, d, h) = partition(hour)
    s"year='$y' AND month='$m' AND day='$d' AND hour='$h'"
  }

  /** One lake object through the program's ingest path, as Firehose would
    * have delivered it in arrival hour `hour`: `Ingest.rawRecords` ->
    * `Pipeline.process` -> `Pipeline.toEvent(now = arrival)`. The processing
    * stamp is the arrival time too, so the lake is a function of the seed. */
  def ingestObject(name: String, content: String, hour: Int): Seq[Event] = {
    val now = LocalDateTime.ofEpochSecond(BaseSec + hour * 3600L, 0, ZoneOffset.UTC)
    val stamp = JString(Dates.isoformat(now.atOffset(ZoneOffset.UTC)))
    Ingest.rawRecords(name, content).flatMap { raw =>
      Pipeline.process(raw).map { shell =>
        val stamped = shell.get("details") match {
          case Some(d: JObject) => shell.updated("details", d.updated("_utcprocessedtimestamp", stamp))
          case _ => shell
        }
        Pipeline.toEvent(stamped, now)
      }
    }
  }

  final class Lake(val dir: String, val truths: Vector[(Int, Truth)]) {
    val byHour: Map[Int, Vector[Truth]] = truths.groupMap(_._1)(_._2)
    def hour(h: Int): Vector[Truth] = byHour.getOrElse(h, Vector.empty)
  }

  /** What building one chunk of the lake produced and cost. */
  final case class Chunk(truths: Vector[(Int, Truth)], genS: Double, writeS: Double)

  /** Generates chunk `chunk` of the lake's landing objects (a third of the
    * hours, from its own stream of `seed`) and appends it to the lake at
    * `dir`: each Spark task takes one Firehose flush of a run of hours, so
    * every hour holds `Flushes` files. */
  def buildChunk(spark: SparkSession, seed: Long, chunk: Int, dir: String, tasks: Int): Chunk = {
    import spark.implicits._
    val hours = (chunk * Hours / Chunks) until ((chunk + 1) * Hours / Chunks)
    val runs = math.max(1, tasks / Flushes)
    val t0 = System.nanoTime()
    val objs = new Gen(seed * 31 + chunk).lakeObjects(BaseSec, hours, PerHour, Flushes)
      .sortBy(o => (o.flush, (o.hour - hours.start) * runs / hours.size, o.hour))
    val t1 = System.nanoTime()
    spark.sparkContext
      .parallelize(objs.map(o => (o.name, o.content, o.hour)), Flushes * runs)
      .flatMap { case (name, content, hour) => ingestObject(name, content, hour) }
      .toDS()
      .write.mode("append").partitionBy("year", "month", "day", "hour").parquet(dir)
    Chunk(objs.flatMap(o => o.truths.map(t => (o.hour, t))), (t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
  }

  /** One query: its template, SQL text, scope and the check of its answer. */
  final case class Query(template: String, wide: Boolean, sql: String, check: Array[Row] => Option[String])

  private def expectEq[A](what: String, got: A, want: A): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")

  /** Each client cycles through this order; client c starts at slot 30c, so
    * the two reach their wide queries at different times. Every run has the
    * same mix: one wide (whole-week) query in 20, the rest narrow
    * (one-partition). A wide query takes every core for about a second and
    * Spark's FIFO scheduler queues the other client's narrow jobs behind it;
    * with wide queries this rare, about a quarter of narrow queries wait, so
    * the median sits inside the unqueued mode and the p90 inside the queued
    * one, instead of on the edge between them. The seed draws only the
    * parameters. */
  val Narrow: Vector[String] = Vector("readme1", "volume", "provenance", "eventtime")
  val Wide: Vector[String] = Vector("readme2", "failed_logins", "distinct_ips", "needle")
  val Cycle: Vector[String] = Vector.tabulate(20 * Wide.size) { j =>
    if (j % 20 == 19) Wide(j / 20) else Narrow(j % Narrow.size)
  }
  def weight(template: String): Double = Cycle.count(_ == template).toDouble / Cycle.size

  /** Draws the parameters of one `template` query and its expected answer. */
  def draw(template: String, rng: Random, lake: Lake): Query = {
    val hour = rng.nextInt(Hours)
    val pick = lake.hour(hour)
    template match {
      case "readme1" => // README query 1: one hour, eventname equality
        val name = pick.filter(_.family == "cloudtrail").map(_.eventName).lift(rng.nextInt(8)).getOrElse("ConsoleLogin")
        val want = math.min(100, pick.count(r => r.family == "cloudtrail" && r.eventName == name))
        Query("readme1", wide = false,
          s"""SELECT utctimestamp, summary, source, details FROM events
             |WHERE source='cloudtrail' AND json_extract_scalar(details,'$$.eventname') = '$name'
             |  AND ${where(hour)} LIMIT 100""".stripMargin,
          rows => expectEq("rows", rows.length, want))
      case "volume" => // hourly volume by source and category
        val want = pick.groupMapReduce(r => (r.source, Hunt.category(r)))(_ => 1L)(_ + _)
        Query("volume", wide = false,
          s"SELECT source, category, count(*) AS n FROM events WHERE ${where(hour)} GROUP BY source, category",
          rows => expectEq("volume", rows.map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap, want))
      case "provenance" => // plugin provenance through CROSS JOIN UNNEST
        val n = pick.size.toLong
        val want = Map(
          "normalization_lowercase_keys" -> n, "normalization_event_shell" -> n,
          "normalization_ip_addresses" -> n, "normalization_timestamps" -> n,
          "enrichment_ensure_eventid" -> n,
          "normalization_gsuite_login" -> pick.count(_.hasKind).toLong).filter(_._2 > 0)
        Query("provenance", wide = false,
          s"SELECT p, count(*) AS n FROM events CROSS JOIN UNNEST(plugins) AS t(p) WHERE ${where(hour)} GROUP BY p",
          rows => expectEq("provenance", rows.map(r => r.getString(0) -> r.getLong(1)).toMap, want))
      case "eventtime" => // event-time range inside one arrival partition
        val a = BaseSec + hour * 3600L + rng.nextInt(1800) - 300
        val b = a + 300 + rng.nextInt(1800)
        val want = pick.count(r => r.eventSec >= a && r.eventSec <= b).toLong
        Query("eventtime", wide = false,
          s"""SELECT count(*) AS n FROM events WHERE ${where(hour)}
             |  AND from_iso8601_timestamp(utctimestamp) BETWEEN from_iso8601_timestamp('${isoZ(a)}')
             |  AND from_iso8601_timestamp('${isoZ(b)}')""".stripMargin,
          rows => expectEq("count", rows.head.getLong(0), want))
      case "readme2" => // README query 2: an IP anywhere in the week
        val withIp = pick.filter(_.ips.nonEmpty)
        val ip = withIp(rng.nextInt(withIp.size)).ips.head
        val want = lake.truths.filter(_._2.ips.contains(ip)).groupMapReduce(_._2.source)(_ => 1L)(_ + _)
        Query("readme2", wide = true,
          s"""SELECT source, json_extract_scalar(details,'$$.eventname') AS eventname FROM events
             |WHERE json_array_contains(json_extract(details,'$$._ipaddresses'), '$ip')""".stripMargin,
          rows => expectEq("by source", rows.groupMapReduce(_.getString(0))(_ => 1L)(_ + _), want))
      case "failed_logins" => // top GSuite failed-login actors
        val want = lake.truths.collect { case (_, r) if r.loginFailed => r.actor }
          .groupMapReduce(identity)(_ => 1L)(_ + _).toSeq
          .sortBy { case (a, n) => (-n, a) }.take(5)
        Query("failed_logins", wide = true,
          """SELECT json_extract_scalar(details,'$.user') AS actor, count(*) AS n FROM events
            |WHERE source = 'gsuite' AND json_extract_scalar(details,'$.success') = 'false'
            |GROUP BY json_extract_scalar(details,'$.user') ORDER BY n DESC, actor LIMIT 5""".stripMargin,
          rows => expectEq("top actors", rows.map(r => (r.getString(0), r.getLong(1))).toSeq, want))
      case "distinct_ips" => // approx_distinct source IPs per hour over the week
        val want = lake.byHour.map { case (h, rs) =>
          partition(h) -> rs.flatMap(r => Hunt.sourceIp(r)).distinct.size.toLong
        }
        Query("distinct_ips", wide = true,
          """SELECT year, month, day, hour,
            |       approx_distinct(json_extract_scalar(details,'$.sourceipaddress')) AS ips
            |FROM events GROUP BY year, month, day, hour""".stripMargin,
          rows => {
            val got = rows.map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3)) -> r.getLong(4)).toMap
            if (got.keySet != want.keySet) Some(s"hours: got ${got.size}, want ${want.size}")
            else want.collectFirst {
              // approx_distinct's relative standard error is 5%: allow 4 of them
              case (k, w) if math.abs(got(k) - w) > math.max(3.0, 0.2 * w) => s"distinct ips at $k: got ${got(k)}, want ~$w"
            }
          })
      case "needle" => // one request id over the week
        val cts = lake.truths.filter(_._2.family == "cloudtrail")
        val r = cts(rng.nextInt(cts.size))._2
        Query("needle", wide = true,
          s"""SELECT source, json_extract_scalar(details,'$$.eventname') AS eventname FROM events
             |WHERE json_extract_scalar(details,'$$.requestid') = '${r.requestId}'""".stripMargin,
          rows => expectEq("needle", rows.map(x => (x.getString(0), x.getString(1))).toSeq, Seq(("cloudtrail", r.eventName))))
    }
  }

  def category(r: Truth): String = r.family match {
    case "gsuite" => "authentication"
    case "syslog" => "syslog"
    case _ => "UNKNOWN"
  }
  def sourceIp(r: Truth): Option[String] = r.family match {
    case "syslog" => None
    case _ => r.ips.headOption
  }
  private def isoZ(sec: Long): String = Gen.isoZ.format(java.time.Instant.ofEpochSecond(sec))

  /** What one executed query cost and answered. */
  final case class Done(template: String, wide: Boolean, startUs: Long, endUs: Long, error: Option[String],
      scan: Plans.Scan, rowsOut: Long, sqlMs: Double, phasesMs: Map[String, Double],
      fallbacks: Int, wscg: Int)

  /** Runs one query as client `client`, timing `Engine.sql` and the action. */
  def runOne(spark: SparkSession, q: Query, key: String, tracer: Tracer, stats: Option[SparkStats]): Done =
    tracer.span(0L, "hunt.query", key) { qid =>
      val t0 = Clock.nowUs()
      try {
        var sqlSpan = 0L
        val df = tracer.span(qid, "engine.sql", key) { id => sqlSpan = id; Engine.sql(spark, q.sql) }
        val t1 = Clock.nowUs()
        var collectSpan = 0L
        val rows = tracer.span(qid, "hunt.collect", key) { id =>
          collectSpan = id
          stats.foreach(_.parents.put(key, id))
          df.collect()
        }
        val t2 = Clock.nowUs()
        val qe = df.queryExecution
        val phases = qe.tracker.phases.map { case (k, v) => k -> (v.endTimeMs - v.startTimeMs).toDouble }
        if (tracer.enabled) qe.tracker.phases.foreach { case (k, v) =>
          tracer.add(if (k == "analysis") sqlSpan else collectSpan, s"catalyst.$k", key,
            Clock.msToUs(v.startTimeMs), Clock.msToUs(v.endTimeMs))
        }
        stats.foreach(_.parents.remove(key))
        val plan = qe.executedPlan
        Done(q.template, q.wide, t0, t2, q.check(rows), Plans.scan(plan), rows.length,
          (t1 - t0) / 1e3, phases,
          if (tracer.enabled) Plans.codegenFallbacks(plan) else 0,
          if (tracer.enabled) Plans.wscgSubtrees(plan) else 0)
      } catch {
        case e: Exception =>
          Done(q.template, q.wide, t0, Clock.nowUs(), Some(s"${e.getClass.getSimpleName}: ${e.getMessage}"),
            Plans.Scan(0, 0, 0, 0), 0, 0, Map.empty, 0, 0)
      }
    }

  /** Closed loop: `clients` threads, each issuing its seeded sequence back to
    * back until `seconds` have passed since the common start. */
  def measure(spark: SparkSession, lake: Lake, seed: Long, seconds: Double, tracer: Tracer,
      stats: Option[SparkStats], clients: Int = Clients): (Vector[Done], Double) = {
    val results = new java.util.concurrent.ConcurrentLinkedQueue[Done]()
    val start = Clock.nowUs()
    val deadline = start + (seconds * 1e6).toLong
    val threads = (0 until clients).map { c =>
      new Thread(() => {
        val rng = new Random(seed * 1000003L + c)
        spark.sparkContext.setLocalProperty("perfbench.client", c.toString)
        var i = 0
        while (Clock.nowUs() < deadline) {
          val key = s"c$c-q$i"
          spark.sparkContext.setLocalProperty("perfbench.span", key)
          results.add(runOne(spark, draw(Cycle((i + 30 * c) % Cycle.size), rng, lake), key, tracer, stats))
          i += 1
        }
      }, s"hunt-client-$c")
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val done = scala.jdk.CollectionConverters.IterableHasAsScala(results).asScala.toVector
    val end = done.map(_.endUs).max
    (done, (end - start) / 1e6)
  }
}
