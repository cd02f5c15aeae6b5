package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.pipeline.{Dates, Ingest, Net}
import graft.json.{JLong, JString}

/** End-to-end pipeline slice (SURVEY §7 step 4) + the reference's two
  * published README queries + the UDF surface.
  *
  * The five reference sample fixtures are ingested through the full parse
  * cascade -> plugin pipeline -> partitioned parquet path, then queried with
  * the Spark translations of the Athena/Presto originals
  * (`/root/reference/README.md:89-136`). The DuckDB oracle reads the SAME
  * written parquet, so the check covers the whole pipeline, not just the
  * query. Non-deterministic fields (uuid eventid, processing timestamps,
  * arrival-time partitions) are simply never selected.
  */
object PipelineQueries {

  /** The five reference sample events (reconstructions, see the README
    * there), relative to the repository root that sbt runs from. Every
    * reader of the samples goes through this path. */
  val SamplesDir = "src/test/resources/samples"
  private val SamplesGlob = s"$SamplesDir/*.json"
  private val EventsDir = "/tmp/graft_events"

  // once per JVM: Verify/Bench run many queries over the same ingest output.
  // Synchronized, and marked done only AFTER a successful write — a CAS
  // flipped before the write would let a concurrent reader see a missing or
  // partial table, and a failed ingest would poison every later query.
  private var ingested = false
  private def ensureIngested(s: SparkSession): Unit = synchronized {
    if (!ingested) {
      Ingest.ingestBatch(s, SamplesGlob, EventsDir)
      ingested = true
    }
  }

  /** The ingested events table (runs the sample ingest on first use). */
  private[queries] def eventsFrame(s: SparkSession): DataFrame = {
    ensureIngested(s)
    Ingest.eventsTable(s, EventsDir)
  }
  private def events(s: SparkSession): DataFrame = eventsFrame(s)

  /** Whole-pipeline smoke over all 5 samples: shell fields + JSON-extracted
    * details, deterministic output only. */
  private val pipelineEvents = Q(
    "q_pipeline_events",
    (s, d) =>
      events(s)
        .select(
          col("source"), col("category"), col("severity"), col("summary"),
          get_json_object(col("details"), "$.eventname").as("eventname"),
          get_json_object(col("details"), "$.sourceipaddress").as("sourceip"),
          array_join(col("tags"), ",").as("tags_csv"),
          array_join(col("plugins"), ",").as("plugins_csv"))
        // coalesce the nullable sort keys: Spark ASC is NULLS FIRST, DuckDB
        // defaults NULLS LAST — empty-string coalescing makes them agree
        .orderBy(col("source"), coalesce(col("sourceip"), lit("")), coalesce(col("eventname"), lit(""))),
    Some(s"""SELECT source, category, severity, summary,
        json_extract_string(details, '$$.eventname') AS eventname,
        json_extract_string(details, '$$.sourceipaddress') AS sourceip,
        coalesce(array_to_string(tags, ','), '') AS tags_csv,
        coalesce(array_to_string(plugins, ','), '') AS plugins_csv
      FROM read_parquet('$EventsDir/*/*/*/*/*.parquet')
      ORDER BY source, coalesce(sourceip, ''), coalesce(eventname, '')"""))

  /** README query 1 (`README.md:89-109`): equality predicates over
    * json_extract_scalar'd details. `get_json_object` is the Spark twin. */
  private val readme1 = Q(
    "q_pipeline_readme1",
    (s, d) =>
      events(s)
        .filter(get_json_object(col("details"), "$.eventname") === "CreateLogStream")
        .select(
          col("source"), col("severity"),
          get_json_object(col("details"), "$.eventsource").as("eventsource"),
          get_json_object(col("details"), "$.eventname").as("eventname"),
          get_json_object(col("details"), "$.sourceipaddress").as("sourceip"))
        .orderBy("sourceip")
        .limit(100),
    Some(s"""SELECT source, severity,
        json_extract_string(details, '$$.eventsource') AS eventsource,
        json_extract_string(details, '$$.eventname') AS eventname,
        json_extract_string(details, '$$.sourceipaddress') AS sourceip
      FROM read_parquet('$EventsDir/*/*/*/*/*.parquet')
      WHERE json_extract_string(details, '$$.eventname') = 'CreateLogStream'
      ORDER BY sourceip LIMIT 100"""))

  /** README query 2 (`README.md:121-136`): json_array_contains over the
    * pipeline-built `_ipaddresses` list. Spark: from_json to array + contains. */
  private val readme2 = Q(
    "q_pipeline_readme2",
    (s, d) =>
      events(s)
        .filter(array_contains(
          from_json(get_json_object(col("details"), "$._ipaddresses"),
            org.apache.spark.sql.types.ArrayType(org.apache.spark.sql.types.StringType)),
          "54.21.12.27"))
        .select(
          col("source"),
          get_json_object(col("details"), "$.eventname").as("eventname"),
          get_json_object(col("details"), "$._ipaddresses").as("ipaddresses"))
        .orderBy("eventname"),
    Some(s"""SELECT source,
        json_extract_string(details, '$$.eventname') AS eventname,
        CAST(json_extract(details, '$$._ipaddresses') AS VARCHAR) AS ipaddresses
      FROM read_parquet('$EventsDir/*/*/*/*/*.parquet')
      WHERE json_contains(json_extract(details, '$$._ipaddresses'), '"54.21.12.27"')
      ORDER BY eventname"""))

  /** `is_ip` as a registered SQL UDF (SURVEY §2B UDF surface), checked
    * against ground truth the oracle can compute arithmetically: synthetic
    * dotted quads are valid iff both variable octets are < 256. */
  private val udfIsIp = Q(
    "q_udf_is_ip",
    (s, d) => {
      s.udf.register("is_ip", (ip: String) => Net.isIp(ip))
      Tables.views(s, d, "lineitem")
      s.sql("""SELECT is_ip(concat(l_orderkey % 300, '.', l_partkey % 300, '.0.1')) AS valid,
                      count(*) AS n
               FROM lineitem GROUP BY 1 ORDER BY valid""")
    },
    Some("""SELECT (l_orderkey % 300 < 256 AND l_partkey % 300 < 256) AS valid, count(*) AS n
      FROM lineitem GROUP BY 1 ORDER BY valid"""))

  /** `to_utc_any` as a registered SQL UDF: the reference's fuzzy epoch
    * coercion (dates.py magnitude rules) applied to 10-digit epoch seconds,
    * checked against DuckDB's native epoch conversion. */
  private val udfToUtc = Q(
    "q_udf_to_utc",
    (s, d) => {
      s.udf.register("to_utc_any", (v: Long) => Dates.isoformat(Dates.toUTC(JLong(v))))
      Tables.views(s, d, "orders")
      s.sql("""SELECT o_orderkey,
                      to_utc_any(CAST(unix_timestamp(CAST(o_orderdate AS TIMESTAMP)) AS BIGINT)
                                 + 1000000000) AS utc_iso
               FROM orders ORDER BY o_orderkey""")
    },
    Some("""SELECT o_orderkey,
        strftime(to_timestamp(CAST(epoch(o_orderdate) AS BIGINT) + 1000000000),
                 '%Y-%m-%dT%H:%M:%S+00:00') AS utc_iso
      FROM orders ORDER BY o_orderkey"""))

  /** `to_utc_any` over strings too (the dateutil-fuzzy path): format a date
    * string and run it through the fuzzy parser. */
  private val udfToUtcFuzzy = Q(
    "q_udf_to_utc_fuzzy",
    (s, d) => {
      s.udf.register("to_utc_str", (v: String) => Dates.isoformat(Dates.toUTC(JString(v))))
      Tables.views(s, d, "orders")
      s.sql("""SELECT o_orderkey,
                      to_utc_str(date_format(o_orderdate, 'yyyy-MM-dd HH:mm:ss')) AS utc_iso
               FROM orders ORDER BY o_orderkey""")
    },
    Some("""SELECT o_orderkey,
        strftime(o_orderdate, '%Y-%m-%dT%H:%M:%S+00:00') AS utc_iso
      FROM orders ORDER BY o_orderkey"""))

  /** IPv4/CIDR arithmetic over synthetic dotted quads built from lineitem
    * keys (same ground-truth trick as `q_udf_is_ip`): the Spark side
    * PARSES the string back (split → cast → shift-pack, the `aton` a
    * security analyst actually runs), classifies each address against the
    * RFC1918 blocks with the real CIDR shift-compare
    * (addr >> (32-prefix) == net >> (32-prefix); 2753 = 172.16.0.0 >> 20,
    * 49320 = 192*256+168), and aggregates per class. The DuckDB oracle
    * never parses — it replays the classification from the generating
    * octet arithmetic first-principles, so a parse bug cannot cancel out.
    * Sum-shaped: map-side combine reduces each partition to ≤8 class rows
    * before the shuffle. */
  private val netCidr = Q(
    "q_net_cidr",
    (s, d) => {
      Tables.views(s, d, "lineitem")
      s.sql("""
        WITH ips AS (
          SELECT concat_ws('.', l_orderkey % 223 + 1, l_partkey % 256,
                           l_suppkey % 256, (l_linenumber * 37) % 256) AS ip
          FROM lineitem),
        parsed AS (
          SELECT CAST(split(ip, '\\.')[0] AS BIGINT) * 16777216
               + CAST(split(ip, '\\.')[1] AS BIGINT) * 65536
               + CAST(split(ip, '\\.')[2] AS BIGINT) * 256
               + CAST(split(ip, '\\.')[3] AS BIGINT) AS aton
          FROM ips),
        classed AS (
          SELECT shiftright(aton, 24) = 10 AS in_10_8,
                 shiftright(aton, 20) = 2753 AS in_172_12,
                 shiftright(aton, 16) = 49320 AS in_192168_16,
                 count(*) AS n,
                 min(aton) AS min_aton,
                 max(aton) AS max_aton
          FROM parsed GROUP BY 1, 2, 3)
        SELECT in_10_8, in_172_12, in_192168_16,
               in_10_8 OR in_172_12 OR in_192168_16 AS is_private,
               n, min_aton, max_aton
        FROM classed ORDER BY 1, 2, 3""")
    },
    Some("""WITH o AS (
        SELECT CAST(l_orderkey % 223 + 1 AS BIGINT) AS o1,
               CAST(l_partkey % 256 AS BIGINT) AS o2,
               CAST(l_suppkey % 256 AS BIGINT) AS o3,
               CAST((l_linenumber * 37) % 256 AS BIGINT) AS o4
        FROM lineitem),
      classed AS (
        SELECT o1 = 10 AS in_10_8,
               (o1 = 172 AND o2 BETWEEN 16 AND 31) AS in_172_12,
               (o1 = 192 AND o2 = 168) AS in_192168_16,
               count(*) AS n,
               min(o1*16777216 + o2*65536 + o3*256 + o4) AS min_aton,
               max(o1*16777216 + o2*65536 + o3*256 + o4) AS max_aton
        FROM o GROUP BY 1, 2, 3)
      SELECT in_10_8, in_172_12, in_192168_16,
             in_10_8 OR in_172_12 OR in_192168_16 AS is_private,
             n, min_aton, max_aton
      FROM classed ORDER BY 1, 2, 3"""))

  val all: Seq[Q] = Seq(pipelineEvents, readme1, readme2, udfIsIp, udfToUtc, udfToUtcFuzzy,
    netCidr)
}
