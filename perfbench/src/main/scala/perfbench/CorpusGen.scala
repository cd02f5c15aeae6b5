package perfbench

import java.sql.Timestamp
import java.time.{LocalDate, LocalDateTime, ZoneOffset}
import scala.util.Random

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded tables for the `corpus` workload: the three test tables its queries
  * read (`orders`, `events`, `documents`), with their schemas and value
  * shapes, at a fiftieth of their sf0.1 size. The chosen queries' time is
  * mostly per-job and per-stage cost, which a larger table barely changes.
  * The same seed gives the same rows. Each table is written as one parquet
  * file under `<dir>/<name>.parquet/`, where `Tables.t` reads it. */
object CorpusGen {
  val Customers = 300
  val Orders = 3000
  val Events = 2000
  val Users = 150
  val Documents = 300

  private val Statuses = Vector("F", "O", "P")
  private val Priorities = Vector("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Vector("click", "view", "purchase", "signup", "error")
  private val Langs = Vector("en", "en", "en", "fr", "de", "es", "zh")
  private val Vocab = Vector("a", "agg", "batch", "big", "column", "customer", "data", "fast", "filter",
    "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row", "scan", "slow",
    "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  private def money(r: Random, lo: Double, hi: Double): Double = math.round((lo + r.nextDouble() * (hi - lo)) * 100) / 100.0

  /** Every table's schema and rows, each from its own stream of `seed`. */
  def tables(seed: Long): Seq[(String, StructType, Seq[Row])] = {
    def rng(t: String) = new Random(seed * 1000003L + t.hashCode)
    def schema(fields: (String, DataType)*) = StructType(fields.map { case (n, t) => StructField(n, t) })
    val orders = { val r = rng("orders"); (0 until Orders).map { i =>
      val day = Timestamp.valueOf(LocalDate.of(1995, 1, 1).plusDays(r.nextInt(2405).toLong).atStartOfDay())
      Row(i.toLong, r.nextInt(Customers).toLong, Statuses(r.nextInt(3)), money(r, 1000, 500000), day,
        Priorities(r.nextInt(5)))
    } }
    val events = { val r = rng("events"); val t0 = LocalDateTime.of(2024, 1, 1, 0, 0).toEpochSecond(ZoneOffset.UTC)
      (0 until Events).map { i =>
        val us = (t0 + i * 1295L + r.nextInt(1000)) * 1000000L + r.nextInt(1000000)
        val ts = new Timestamp(us / 1000); ts.setNanos((us % 1000000).toInt * 1000)
        Row(i.toLong, ts, r.nextInt(Users).toLong, EventTypes(r.nextInt(5)), money(r, 0.01, 490),
          s"""{"k": ${r.nextInt(100)}}""")
      } }
    val documents = { val r = rng("documents"); (0 until Documents).map { i =>
      val words = Vector.fill(25 + r.nextInt(66))(Vocab(r.nextInt(Vocab.size)))
      val text = (if (r.nextInt(20) == 0) words :+ "dup" else words).mkString(" ")
      Row(i.toLong, text, Langs(r.nextInt(Langs.size)), s"src${r.nextInt(20)}", text.length.toLong)
    } }
    Seq(
      ("orders", schema("o_orderkey" -> LongType, "o_custkey" -> LongType, "o_orderstatus" -> StringType,
        "o_totalprice" -> DoubleType, "o_orderdate" -> TimestampType, "o_orderpriority" -> StringType), orders),
      ("events", schema("event_id" -> LongType, "ts" -> TimestampType, "user_id" -> LongType,
        "event_type" -> StringType, "value" -> DoubleType, "props" -> StringType), events),
      ("documents", schema("doc_id" -> LongType, "text" -> StringType, "lang" -> StringType,
        "source" -> StringType, "n_chars" -> LongType), documents))
  }

  /** Generates and writes every table under `dir`, the tables' write jobs
    * side by side; returns the seconds spent generating rows and writing them. */
  def write(spark: SparkSession, seed: Long, dir: String): (Double, Double) = {
    val t0 = System.nanoTime()
    val ts = tables(seed)
    val t1 = System.nanoTime()
    Main.concurrently(ts) { case (name, schema, rows) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema).coalesce(1).write.parquet(s"$dir/$name.parquet")
    }
    ((t1 - t0) / 1e9, (System.nanoTime() - t1) / 1e9)
  }
}
