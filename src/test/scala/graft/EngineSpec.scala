package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.json._
import graft.pipeline.{GsuiteLogin, Ingest}

/** The client surface end-to-end (A23): ingest -> register `events` ->
  * spark.sql of the reference's two published README queries — exactly what
  * a pyathena user of the reference would run, minus the S3/Athena plumbing.
  * Plus gsuite edge coverage the golden fixtures don't reach. */
class EngineSpec extends AnyFunSuite with SparkSuite {

  private val base = java.nio.file.Files.createTempDirectory("graft_engine").toString
  private val eventsDir = base + "/events"

  // registerReferenceCatalog creates a database, whose directory goes under
  // the warehouse: keep it in this suite's temp dir, out of the working tree
  override protected def builderConf = Seq("spark.sql.warehouse.dir" -> s"$base/warehouse")

  override def beforeAll(): Unit = {
    super.beforeAll()
    Ingest.ingestBatch(spark, s"${graft.queries.PipelineQueries.SamplesDir}/*.json", eventsDir)
    Ingest.eventsTable(spark, eventsDir).createOrReplaceTempView("events")
  }

  test("driver smoke: SparkEntry.entry returns rows on a vanilla session") {
    // the driver calls entry with its own session and only checks rows > 0
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every declared query has a DuckDB oracle (no silent rows-only entries)") {
    // the driver records a weaker rows-only check for queries missing an
    // oracleSql entry; this guard makes any such gap an explicit test
    // failure instead of a quietly degraded correctness row
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without an oracle: ${missing.toSeq.sorted.mkString(", ")}")
    val orphaned = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(orphaned.isEmpty, s"oracles without a query: ${orphaned.toSeq.sorted.mkString(", ")}")
  }

  test("declared query names are unique (a duplicate silently shadows its twin in the queries Map)") {
    // queries.toMap keeps the last entry per name: a name collision makes a
    // query VANISH from the gate with every remaining row still green —
    // the same silent-shrink failure mode as the round-7 analysis bug
    val dups = SparkEntry.corpus.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    assert(dups.isEmpty, s"duplicate query names: ${dups.toSeq.sorted.mkString(", ")}")
  }

  test("analysis smoke: every declared query resolves and outputs only atomic columns") {
    // Round-7 postmortem: 11 queries failed ANALYSIS (events ts dtype drift)
    // yet the gate showed 136/136 green, because a query that throws before
    // producing output simply vanished from the denominator. This guard
    // resolves EVERY SparkEntry.queries plan against the smallest testdata so
    // an analysis break is a named red test, never a silent shrink. Plans
    // are analyzed, not executed — eager construction work (BPE merge loops,
    // index trains) still runs, which is why this uses sf0.001.
    //
    // Round-10 postmortem, folded into the SAME loop so each query is
    // constructed once (r11 ADVICE — the separate guard re-paid every
    // eager-construction cost): q_agg_collect / q_agg_histogram shipped
    // array-typed result columns; the driver sort_values's by every column
    // before hashing and pandas crashes on unhashable cells (numpy arrays;
    // a StructType column materializes as dict cells and dies the same
    // way), so both rows recorded `err` — merged with NO cross-engine
    // verification. The repo convention is to serialize collections with
    // array_join (q_array_fns). Any NON-ATOMIC top-level output type
    // (array, map, struct — anything pandas can't sort) is a named red
    // test here.
    import org.apache.spark.sql.types.{ArrayType, MapType, StructType}
    val sfDir = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sfDir/events.parquet").exists())
    val broken = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, fn) =>
      try {
        val df = fn(spark, sfDir)
        val analyzed = df.queryExecution.analyzed
        // Round-13 postmortem, folded into the SAME loop: aliasing a
        // COMPUTED projection output to an input column's name while a
        // LATER sibling expression references that input trips Spark
        // 4.1's lateral-column-alias resolution — the sibling's outer
        // refs bind to the input but its HOF-lambda innards re-bind to
        // the new sibling output (q_sim_adaptive returned wrong
        // neighbors; only the 10x-scale gate caught it). The repo rule
        // "never self-shadow a referenced input name" is enforced here
        // as a named red test over every declared plan.
        import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, HigherOrderFunction}
        import org.apache.spark.sql.catalyst.plans.logical.Project
        val shadowHazards = analyzed.collect {
          case p: Project =>
            val childAttrs = p.child.output.groupBy(_.name)
            p.projectList.zipWithIndex.flatMap {
              case (a: Alias, i)
                  if childAttrs.contains(a.name) &&
                    !a.child.isInstanceOf[AttributeReference] =>
                val ids = childAttrs(a.name).map(_.exprId).toSet
                // Narrowed to the ACTUAL hazard shape (r13 ADVICE): the
                // Spark 4.1 mis-binding only corrupts lambda-bound (HOF)
                // references — a later sibling whose plain outer reference
                // reads the shadowed input resolves correctly. Flag only
                // later siblings that BOTH reference the shadowed input's
                // exprId AND contain a higher-order function, so legitimate
                // plans stop paying the extra de-shadowing projections.
                val laterRef = p.projectList.drop(i + 1).exists { sib =>
                  sib.exists {
                    case ar: AttributeReference => ids(ar.exprId)
                    case _ => false
                  } && sib.exists {
                    case _: HigherOrderFunction => true
                    case _ => false
                  }
                }
                if (laterRef)
                  Seq(s"$name: projection aliases a computed expression to input " +
                    s"name '${a.name}' while a later sibling references that input " +
                    "— the Spark 4.1 lateral-alias lambda-binding hazard " +
                    "(rename the alias; see OperatorsSpec lateral-alias pin)")
                else Nil
              case _ => Nil
            }
        }.flatten.distinct
        shadowHazards ++ df.schema.fields.collect {
          case f if f.dataType.isInstanceOf[ArrayType] ||
              f.dataType.isInstanceOf[MapType] ||
              f.dataType.isInstanceOf[StructType] =>
            s"$name.${f.name}: non-atomic output ${f.dataType.simpleString} " +
              "(driver gate cannot sort+hash it; serialize with array_join/to_json)"
        }
      } catch { case e: Throwable =>
        Seq(s"$name: ${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(2).mkString(" | ").take(300)}")
      }
    }
    assert(broken.isEmpty, s"\n${broken.size} declared-query failures:\n${broken.mkString("\n")}")
  }

  test("README query 1: json_extract_scalar equality predicates + LIMIT") {
    // /root/reference/README.md:89-109, Presto -> Spark SQL translation
    val rows = Engine.sql(spark,
      """SELECT utctimestamp, summary, severity, eventid,
                get_json_object(details, '$.eventname') AS eventname
         FROM events
         WHERE get_json_object(details, '$.eventsource') = 'logs.amazonaws.com'
           AND get_json_object(details, '$.eventname') = 'CreateLogStream'
         LIMIT 100""").collect()
    assert(rows.length == 1)
    assert(rows.head.getAs[String]("eventname") == "CreateLogStream")
    assert(rows.head.getAs[String]("utctimestamp") == "2019-09-04T17:54:59+00:00")
  }

  test("README query 2: json_array_contains over _ipaddresses") {
    // /root/reference/README.md:121-136
    val rows = Engine.sql(spark,
      """SELECT get_json_object(details, '$.eventname') AS eventname
         FROM events
         WHERE array_contains(
           from_json(get_json_object(details, '$._ipaddresses'), 'array<string>'),
           '54.21.12.27')
         LIMIT 100""").collect()
    assert(rows.length == 1)
    assert(rows.head.getString(0) == "CreateLogStream")
  }

  test("reference Presto queries run VERBATIM (catalog name, quoted idents, json fns)") {
    Engine.registerReferenceCatalog(spark, eventsDir)
    spark.conf.set("spark.sql.ansi.doubleQuotedIdentifiers", "true")
    try {
      // README.md:89-109 character-for-character: parses, resolves
      // json_extract_scalar + "defenda_data_lake"."events", and executes
      // (its hard-coded 2020-06-19 partition holds no sample data -> 0 rows)
      val verbatim = Engine.sql(spark,
        """SELECT utctimestamp,
         summary,
         source,
         details

FROM "defenda_data_lake"."events"
    where
    source='cloudtrail' AND json_extract_scalar(details,'$.eventname') = 'ConsoleLogin'
    AND (
            (year='2020'
            AND month='06'
            AND day='19'
            AND hour='01')
            OR
            (year='2020'
            AND month='06'
            AND day='19'
            AND hour='00')
    )
    limit 100""").collect()
      assert(verbatim.isEmpty)

      // same query shape against live data: partitions are PROCESSING time
      // (Firehose delivery prefix semantics — main.tf:612-618), and batch
      // s3 ingest overwrites source to the filename classification exactly
      // like s3_to_firehose.py:106-124 (the preset "cloudtrail" only
      // survives the direct-Firehose path), so fetch the real values first
      val p = spark.table("defenda_data_lake.events")
        .select("year", "month", "day", "hour").head
      val part = s"year='${p.getString(0)}' AND month='${p.getString(1)}'" +
        s" AND day='${p.getString(2)}' AND hour='${p.getString(3)}'"
      val hit = Engine.sql(spark,
        s"""SELECT utctimestamp, summary, source, details
           FROM "defenda_data_lake"."events"
           WHERE source='s3json'
             AND json_extract_scalar(details,'$$.eventname') = 'CreateLogStream'
             AND ($part)
           limit 100""").collect()
      assert(hit.length == 1)
      assert(hit.head.getAs[String]("utctimestamp") == "2019-09-04T17:54:59+00:00")

      // README.md:121-136 shape: json_array_contains(json_extract(...), ip)
      val byIp = Engine.sql(spark,
        s"""SELECT utctimestamp, summary, source, details, tags
           FROM defenda_data_lake.events
           WHERE source ='s3json'
             AND json_array_contains(json_extract(details,'$$._ipaddresses'),'54.21.12.27')
             AND $part
           LIMIT 100""").collect()
      assert(byIp.length == 1)

      // json_extract_scalar: NULL on composite values (Presto semantics)
      val scalarNull = Engine.sql(spark,
        """SELECT json_extract_scalar(details, '$.useridentity') AS comp,
                  json_extract(details, '$.useridentity') AS raw
           FROM defenda_data_lake.events
           WHERE json_extract_scalar(details, '$.eventname') = 'CreateLogStream'""").collect()
      assert(scalarNull.head.isNullAt(0))
      assert(scalarNull.head.getString(1).startsWith("{"))
    } finally spark.conf.set("spark.sql.ansi.doubleQuotedIdentifiers", "false")
  }

  test("partition columns present and registered via discovery (A22)") {
    val cols = Engine.sql(spark, "SELECT year, month, day, hour FROM events LIMIT 1").collect()
    assert(cols.length == 1)
    assert(cols.head.getString(0).length == 4)
  }

  test("gsuite: is_suspicious=true parameter sets details.suspicious") {
    val meta = JObject("something" -> JString("else"))
    val event = Json.parse(
      """{"source": "x", "tags": [], "severity": "INFO", "summary": "s",
         "category": "c", "utctimestamp": "t", "plugins": [],
         "details": {
           "kind": "admin#reports#activity",
           "id": {"time": "2020-03-02T17:54:33.253Z"},
           "etag": "e",
           "actor": {"email": "a@b.c"},
           "events": [{"name": "login_failure",
             "parameters": [{"name": "is_suspicious", "boolvalue": true}]}]
         }}""").asInstanceOf[JObject]
    val (Some(result), _) = GsuiteLogin.onMessage(event, meta): @unchecked
    val details = result("details").asInstanceOf[JObject]
    assert(details("suspicious") == JBool(true))
    // 'fail' in summary -> success=false
    assert(details("success") == JBool(false))
    assert(result("summary").asInstanceOf[JString].value ==
      "a@b.c login_failure from IP ")
  }

  test("Presto normalize / format_datetime / parse_datetime resolve as SQL spellings") {
    // the Presto SQL spellings must resolve with the q_string_normalize /
    // q_date_presto_fmt semantics
    val decomposed = "cafe\u0301"
    val r = spark.sql(
      s"""SELECT normalize('$decomposed') AS n1,
                 normalize('\ufb01x', 'NFKC') AS n2,
                 format_datetime(TIMESTAMP '2024-03-05 07:08:09', 'yyyy-MM-dd HH:mm') AS f,
                 format_datetime(TIMESTAMP '2024-12-30 00:00:00', 'Y') AS yoe,
                 parse_datetime('2024-03-05 07:08:09', 'yyyy-MM-dd HH:mm:ss') AS p,
                 date_parse('March 05, 2024 07:08', '%M %d, %Y %H:%i') AS dp""")
      .collect()(0)
    assert(r.getString(0) == "caf\u00e9")
    assert(r.getString(1) == "fix")
    assert(r.getString(2) == "2024-03-05 07:08")
    // the Joda-Y hazard: java week-based Y would say "2025" for Dec 30 2024
    assert(r.getString(3) == "2024")
    assert(r.getTimestamp(4).toInstant.toString == "2024-03-05T07:08:09Z")
    // MySQL-dialect date_parse: %M is month NAME, %i is minutes
    assert(r.getTimestamp(5).toInstant.toString == "2024-03-05T07:08:00Z")
    // a non-literal pattern must throw a NAMED error, never misformat
    val err = intercept[Exception](
      spark.sql("SELECT format_datetime(TIMESTAMP '2024-01-01', substring('yy', 1, 2))").collect())
    assert(err.getMessage.contains("literal Joda pattern"), err.getMessage)
  }

  test("Presto presto_date_format / url_extract_* resolve as SQL spellings") {
    // presto_date_format: the FORMAT direction of the MySQL %-dialect under
    // its non-shadowing name (q_date_presto_roundtrip semantics) — and the
    // %-trap pair: %M month NAME, %i minutes
    val r = spark.sql(
      """SELECT presto_date_format(TIMESTAMP '2024-03-05 07:08:09', '%Y-%m-%d %H:%i:%s') AS f1,
                presto_date_format(TIMESTAMP '2024-03-05 07:08:09', '%M %d, %Y') AS f2,
                date_parse(presto_date_format(TIMESTAMP '2024-03-05 07:08:09',
                  '%Y-%m-%d %T'), '%Y-%m-%d %T') AS rt""").collect()(0)
    assert(r.getString(0) == "2024-03-05 07:08:09")
    assert(r.getString(1) == "March 05, 2024")
    assert(r.getTimestamp(2).toInstant.toString == "2024-03-05T07:08:09Z")
    // Spark's own date_format must NOT be shadowed (java patterns intact)
    assert(spark.sql("SELECT date_format(TIMESTAMP '2024-03-05', 'yyyy-MM')")
      .collect()(0).getString(0) == "2024-03")
    // url_extract_*: each spelling == its parse_url lowering
    val u = "https://h.example.com:8080/a/b?x=1&y=2#frag"
    val ur = spark.sql(
      s"""SELECT url_extract_protocol('$u') AS proto,
                 url_extract_host('$u') AS host,
                 url_extract_path('$u') AS path,
                 url_extract_query('$u') AS q,
                 url_extract_parameter('$u', 'y') AS py,
                 url_extract_parameter('$u', 'zz') AS pmiss,
                 url_extract_fragment('$u') AS frag""").collect()(0)
    assert(ur.getString(0) == "https")
    assert(ur.getString(1) == "h.example.com")
    assert(ur.getString(2) == "/a/b")
    assert(ur.getString(3) == "x=1&y=2")
    assert(ur.getString(4) == "2")
    assert(ur.isNullAt(5), "missing parameter must be NULL (Presto convention)")
    assert(ur.getString(6) == "frag")
  }

  test("Presto dialect tail: string/temporal/encoding/math spellings resolve and lower correctly") {
    // strings
    val sr = spark.sql(
      """SELECT strpos('xabcabc', 'abc') AS p1,
                strpos('xabcabc', 'abc', 2) AS p2,
                strpos('xabcabc', 'abc', -1) AS pneg,
                strpos('xabcabc', 'zz') AS pmiss,
                word_stem('generalization') AS stem1,
                word_stem('caresses', 'en') AS stem2,
                levenshtein_distance('kitten', 'sitting') AS lev,
                format('%s|%d', 'x', 7) AS fmt,
                split_part('a,b,c', ',', -1) AS sp""").collect()(0)
    assert(sr.getInt(0) == 2)
    assert(sr.getInt(1) == 5)
    assert(sr.getInt(2) == 5)
    assert(sr.getInt(3) == 0)
    assert(sr.getString(4) == "gener")
    assert(sr.getString(5) == "caress")
    assert(sr.getInt(6) == 3)
    assert(sr.getString(7) == "x|7")
    assert(sr.getString(8) == "c")
    // split_to_map == str_to_map lowering (sorted entries for determinism)
    val mr = spark.sql(
      "SELECT map_entries(split_to_map('a=1&b=2', '&', '=')) AS e").collect()(0)
    assert(mr.getSeq[org.apache.spark.sql.Row](0).map(r => (r.getString(0), r.getString(1)))
      == Seq(("a", "1"), ("b", "2")))
    // word_stem: non-'en' language must throw a NAMED error
    val langErr = intercept[Exception](
      spark.sql("SELECT word_stem('chats', 'fr')").collect())
    assert(langErr.getMessage.contains("word_stem"), langErr.getMessage)
    // strpos: instance 0 must throw, per Presto
    val instErr = intercept[Exception](
      spark.sql("SELECT strpos('abc', 'a', 0)").collect())
    assert(instErr.getMessage.contains("instance"), instErr.getMessage)

    // temporal: ISO dow Monday=1 (Spark's dayofweek says 6 for a Friday),
    // ISO week fields, epoch double with fraction, iso8601 round trip
    val tr = spark.sql(
      """SELECT day_of_week(DATE '2024-08-16') AS dw,
                dow(DATE '2024-08-16') AS dw2,
                day_of_year(DATE '2024-08-16') AS dy,
                week_of_year(DATE '2021-01-01') AS wk,
                year_of_week(DATE '2021-01-01') AS yw,
                last_day_of_month(DATE '2024-02-05') AS ld,
                to_unixtime(TIMESTAMP '2024-01-01 00:00:00.5') AS ut,
                to_iso8601(TIMESTAMP '2024-01-02 03:04:05.678') AS iso,
                from_iso8601_date('2024-08-16') AS fd""").collect()(0)
    assert(tr.getInt(0) == 5 && tr.getInt(1) == 5)
    assert(tr.getInt(2) == 229)
    assert(tr.getInt(3) == 53 && tr.getInt(4) == 2020) // ISO week 53 of 2020
    assert(tr.getDate(5).toString == "2024-02-29")
    assert(tr.getDouble(6) == 1.7040672005e9)
    assert(tr.getString(7) == "2024-01-02T03:04:05.678")
    assert(tr.getDate(8).toString == "2024-08-16")

    // encoding: each Presto spelling == its native lowering, round-tripping
    val er = spark.sql(
      """SELECT to_hex(to_utf8('z')) AS h,
                from_utf8(from_hex('7A')) AS hz,
                to_base64(to_utf8('ab')) AS b,
                from_utf8(from_base64('YWI=')) AS bz""").collect()(0)
    assert(er.getString(0) == "7A")
    assert(er.getString(1) == "z")
    assert(er.getString(2) == "YWI=")
    assert(er.getString(3) == "ab")

    // from_utf8 never fails on malformed bytes (Presto): a lone 0xFF and a
    // truncated 2-byte sequence both decode with U+FFFD replacement, where
    // Spark 4's default decode raises MALFORMED_CHARACTER_CODING (r16 ADVICE)
    val malf = spark.sql(
      """SELECT from_utf8(from_hex('61FF62')) AS bad1,
                from_utf8(from_hex('C3')) AS bad2""").collect()(0)
    assert(malf.getString(0) == "a�b", malf.getString(0))
    assert(malf.getString(1) == "�", malf.getString(1))

    // math: truncate toward zero; NaN/Infinity classification trio
    val xr = spark.sql(
      """SELECT truncate(1.7D) AS t1, truncate(-1.7D) AS t2,
                is_nan(nan()) AS n1, is_nan(1.0D) AS n2,
                is_infinite(infinity()) AS i1, is_infinite(-infinity()) AS i2,
                is_infinite(nan()) AS i3,
                is_finite(1.0D) AS f1, is_finite(nan()) AS f2,
                is_finite(infinity()) AS f3""").collect()(0)
    assert(xr.getDouble(0) == 1.0 && xr.getDouble(1) == -1.0)
    assert(xr.getBoolean(2) && !xr.getBoolean(3))
    assert(xr.getBoolean(4) && xr.getBoolean(5) && !xr.getBoolean(6))
    assert(xr.getBoolean(7) && !xr.getBoolean(8) && !xr.getBoolean(9))

    // truncate specials (r16 ADVICE — Presto's signum*floor(abs) kernel):
    // infinities pass through (the old x - x%1.0 gave NaN), NaN stays NaN,
    // and a negative fraction keeps its sign bit (-0.0, not +0.0)
    val ts = spark.sql(
      """SELECT truncate(infinity()) AS ti, truncate(-infinity()) AS tni,
                truncate(nan()) AS tn, truncate(-0.5D) AS tz,
                truncate(9.3e18D) AS tbig""").collect()(0)
    assert(ts.getDouble(0) == Double.PositiveInfinity)
    assert(ts.getDouble(1) == Double.NegativeInfinity)
    assert(ts.getDouble(2).isNaN)
    assert(java.lang.Double.doubleToRawLongBits(ts.getDouble(3)) ==
      java.lang.Double.doubleToRawLongBits(-0.0d), s"expected -0.0, got ${ts.getDouble(3)}")
    assert(ts.getDouble(4) == 9.3e18)

    // aggregates: arbitrary/bitwise_*_agg resolve as aggregates; checksum is
    // ORDER-INSENSITIVE (the Presto contract) — reversed input, same digest
    val ar = spark.sql(
      """SELECT arbitrary(v) AS av, bitwise_and_agg(v) AS ba, bitwise_or_agg(v) AS bo
         FROM VALUES (12), (12), (12) AS t(v)""").collect()(0)
    assert(ar.getInt(0) == 12 && ar.getInt(1) == 12 && ar.getInt(2) == 12)
    val c1 = spark.sql(
      "SELECT checksum(v) FROM VALUES (1), (2), (3), (4) AS t(v)").collect()(0).getLong(0)
    val c2 = spark.sql(
      "SELECT checksum(v) FROM VALUES (4), (3), (2), (1) AS t(v)").collect()(0).getLong(0)
    val c3 = spark.sql(
      "SELECT checksum(v) FROM VALUES (4), (3), (2), (9) AS t(v)").collect()(0).getLong(0)
    assert(c1 == c2, "checksum must be order-insensitive")
    assert(c1 != c3, "checksum must discriminate different multisets")
  }

  test("Presto any_match/all_match/none_match resolve with three-valued logic") {
    val r = spark.sql(
      """SELECT any_match(array(1, 2, 3), x -> x > 2) AS a1,
                any_match(array(1, 2, 3), x -> x > 9) AS a2,
                all_match(array(2, 4, 6), x -> x % 2 = 0) AS m1,
                all_match(array(2, 5, 6), x -> x % 2 = 0) AS m2,
                none_match(array(1, 2, 3), x -> x > 9) AS n1,
                none_match(array(1, 2, 3), x -> x > 2) AS n2,
                -- empty array: any=false, all=true, none=true (Presto)
                any_match(array(), x -> x > 0) AS e1,
                all_match(array(), x -> x > 0) AS e2,
                none_match(array(), x -> x > 0) AS e3,
                -- three-valued: a NULL predicate result with no true match
                -- yields NULL (and NOT NULL for none_match)
                any_match(array(1, NULL), x -> x > 5) AS tv1,
                any_match(array(1, NULL, 9), x -> x > 5) AS tv2,
                none_match(array(1, NULL), x -> x > 5) AS tv3""").collect()(0)
    assert(r.getBoolean(0) && !r.getBoolean(1))
    assert(r.getBoolean(2) && !r.getBoolean(3))
    assert(r.getBoolean(4) && !r.getBoolean(5))
    assert(!r.getBoolean(6) && r.getBoolean(7) && r.getBoolean(8))
    assert(r.isNullAt(9), "NULL predicate result with no true match -> NULL")
    assert(r.getBoolean(10), "a true match wins over a NULL result")
    assert(r.isNullAt(11), "none_match inherits the three-valued NULL")
  }

  test("Presto json_parse / json_format / json_size resolve with canonical semantics") {
    val r = spark.sql(
      """SELECT json_parse(' { "b" : 2 , "a" : [ 1 , { "z" : 1, "y" : 2 } ] } ') AS canon,
                json_format(json_parse('[1, 2, 3]')) AS fmt,
                json_parse('{"k": 1, "k": 2}') AS dupkeys,
                json_size('{"a": {"x": 1, "y": 2, "z": 3}}', '$.a') AS osize,
                json_size('{"a": [1, 2, 3]}', '$.a') AS asize,
                json_size('{"a": [1, 2, 3]}', '$.a[1]') AS ssize,
                json_size('{"a": 7}', '$') AS root,
                json_size('{"a": 7}', '$.missing') AS miss,
                json_size('not json', '$') AS invalid,
                json_size('{"a": {"b": [10, 20]}}', '$["a"].b') AS quoted""").collect()(0)
    // canonical: minified, keys sorted recursively
    assert(r.getString(0) == """{"a":[1,{"y":2,"z":1}],"b":2}""", r.getString(0))
    assert(r.getString(1) == "[1,2,3]")
    assert(r.getString(2) == """{"k":2}""", "duplicate keys collapse last-wins")
    assert(r.getLong(3) == 3L && r.getLong(4) == 3L && r.getLong(5) == 0L)
    assert(r.getLong(6) == 1L)
    assert(r.isNullAt(7), "missing path -> NULL")
    assert(r.isNullAt(8), "invalid JSON -> NULL (extract-family tolerance)")
    assert(r.getLong(9) == 2L)
    // json_parse FAILS on invalid JSON (the validating entry point)
    val err = intercept[Exception](spark.sql("SELECT json_parse('{oops')").collect())
    assert(err.getMessage.contains("json_parse") ||
      (err.getCause != null && err.getCause.getMessage.contains("json_parse")),
      s"expected a json_parse failure, got: ${err.getMessage}")
  }

  test("Presto map_agg / multimap_agg / histogram / TRY resolve as SQL spellings") {
    // map_agg: NULL keys skipped (prestodb KeyValuePairs pin); duplicate
    // keys keep ONE value (Presto: arbitrary — here one of the inputs)
    val m = spark.sql(
      """SELECT map_agg(k, v) AS m FROM VALUES
           ('a', 1), ('b', 2), (CAST(NULL AS STRING), 99), ('a', 3) AS t(k, v)""")
      .collect()(0).getMap[String, Int](0)
    assert(m.keySet == Set("a", "b"), "NULL keys must be skipped, not error")
    assert(m("b") == 2)
    assert(Set(1, 3).contains(m("a")), "duplicate key keeps one of its values")
    // all-NULL-keys group -> EMPTY map; empty relation -> NULL (the
    // prestodb touched-state distinction)
    val empty = spark.sql(
      "SELECT map_agg(k, v) AS m FROM VALUES (CAST(NULL AS STRING), 1) AS t(k, v)")
      .collect()(0)
    assert(!empty.isNullAt(0) && empty.getMap[String, Int](0).isEmpty,
      "all-NULL-key group must yield an EMPTY map, not NULL")
    val nul = spark.sql(
      "SELECT map_agg(k, v) FROM (SELECT 'a' AS k, 1 AS v) WHERE 1 = 0")
      .collect()(0)
    assert(nul.isNullAt(0), "empty-relation global aggregate must yield NULL")
    // histogram: value -> count, NULLs skipped; grouped path exercises the
    // partial-merge (exchange) leg
    val h = spark.sql(
      "SELECT histogram(x) AS h FROM VALUES ('p'), ('q'), ('p'), (CAST(NULL AS STRING)) AS t(x)")
      .collect()(0).getMap[String, Long](0)
    assert(h == Map("p" -> 2L, "q" -> 1L))
    val g = spark.sql(
      """SELECT k, histogram(v) AS h FROM VALUES
           ('g1', 'a'), ('g1', 'a'), ('g1', 'b'), ('g2', 'c') AS t(k, v)
         GROUP BY k ORDER BY k""").collect()
    assert(g(0).getMap[String, Long](1) == Map("a" -> 2L, "b" -> 1L))
    assert(g(1).getMap[String, Long](1) == Map("c" -> 1L))
    // multimap_agg: every value kept per key
    val mm = spark.sql(
      "SELECT multimap_agg(k, v) AS mm FROM VALUES ('a', 1), ('a', 2), ('b', 3) AS t(k, v)")
      .collect()(0).getMap[String, scala.collection.Seq[Int]](0)
    assert(mm("a").toSet == Set(1, 2) && mm("b").toSeq == Seq(3))
    // TRY: runtime errors (ANSI bad cast, invalid JSON, div by zero) -> NULL;
    // a succeeding wrapped expression passes through
    val t = spark.sql(
      """SELECT try(cast('x' AS int)) AS a, try(cast('5' AS int)) AS b,
                try(json_parse('{oops')) AS c, try(1 div 0) AS d""").collect()(0)
    assert(t.isNullAt(0) && t.getInt(1) == 5 && t.isNullAt(2) && t.isNullAt(3))
  }

  test("every registered spelling rejects a wrong argument count with WRONG_NUM_ARGS") {
    // one argument too few and one too many for each entry, plus calls
    // pinned before the table had one check; a wrong count used to drop
    // the extra arguments or throw IndexOutOfBoundsException
    val pinned = Seq("map_agg(1)", "try(1, 2)", "presto_greatest(1)", "ngrams(array(1))", "max(1, 2, 3)")
    val calls = graft.functions.GraftExtensions.all.flatMap { f =>
      def call(n: Int) = s"${f.name}(${Seq.fill(n)("1").mkString(", ")})"
      (if (f.arity.min > 0) Seq(call(f.arity.min - 1)) else Nil) ++
        (if (f.arity.variadic) Nil else Seq(call(f.arity.max + 1)))
    } ++ pinned
    val wrong = calls.flatMap { c =>
      try { spark.sql(s"SELECT $c").collect(); Some(s"$c: no error") }
      catch {
        case e: org.apache.spark.sql.AnalysisException
            if Option(e.getCondition).exists(_.startsWith("WRONG_NUM_ARGS")) => None
        case e: Exception => Some(s"$c: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    assert(wrong.isEmpty, wrong.mkString("\n"))
  }

  test("map-collection aggregates canonicalize keys: -0.0/0.0, struct, binary (r17 ADVICE)") {
    // -0.0 and 0.0 double keys are ONE map entry (Spark normalizes map
    // keys; JVM boxed equality would keep two)
    val z = spark.sql(
      """SELECT histogram(x) AS h FROM VALUES
           (CAST('-0.0' AS DOUBLE)), (CAST('0.0' AS DOUBLE)), (1.0D) AS t(x)""")
      .collect()(0).getMap[Double, Long](0)
    assert(z.size == 2 && z(0.0d) == 2L, s"-0.0 and 0.0 must collapse, got $z")
    // struct keys stay ONE entry across the partial/merge boundary (the
    // update path sees GenericInternalRow, the deserialize path UnsafeRow —
    // canonical bytes must compare equal); repartition forces real partials
    val st = spark.sql(
      """SELECT map_agg(named_struct('a', k), v) AS m
         FROM (SELECT k, v FROM VALUES ('x', 1), ('x', 2), ('y', 3) AS t(k, v)
               DISTRIBUTE BY v)""")
      .collect()(0).getMap[org.apache.spark.sql.Row, Int](0)
    assert(st.size == 2, s"duplicate struct keys must merge to one entry, got $st")
    // binary keys compare by bytes, not array reference
    val b = spark.sql(
      """SELECT histogram(CAST(k AS BINARY)) AS h
         FROM VALUES ('k1'), ('k1'), ('k2') AS t(k)""")
      .collect()(0).getMap[Array[Byte], Long](0)
    assert(b.size == 2, s"equal binary keys must merge, got ${b.size} entries")
    assert(b.exists { case (k, n) => new String(k) == "k1" && n == 2L })
  }

  test("presto_split rejects a zero-length delimiter; NULL delimiter -> NULL (r17 ADVICE)") {
    val ok = spark.sql("SELECT presto_split('a.b.c', '.') AS p").collect()(0).getSeq[String](0)
    assert(ok == Seq("a", "b", "c"))
    val nul = spark.sql("SELECT presto_split('a.b', CAST(NULL AS STRING)) AS p").collect()(0)
    assert(nul.isNullAt(0), "NULL delimiter must yield NULL, like Presto")
    val err = intercept[Exception](
      spark.sql("SELECT presto_split('abc', '') AS p").collect())
    assert(err.getMessage.contains("delimiter") ||
      (err.getCause != null && err.getCause.getMessage.contains("delimiter")),
      s"expected the empty-delimiter error, got: ${err.getMessage}")
    // the DataFrame spelling resolves to the same guarded lowering
    val werr = intercept[Exception](
      spark.sql("SELECT 'abc' AS s").select(
        org.apache.spark.sql.functions.call_function("presto_split",
          org.apache.spark.sql.functions.col("s"),
          org.apache.spark.sql.functions.lit(""))).collect())
    assert(werr.getMessage.contains("delimiter") ||
      (werr.getCause != null && werr.getCause.getMessage.contains("delimiter")))
  }

  test("approx_percentile dispatch: Spark's (x, p, accuracy) native, Presto's (x, w, p) weighted") {
    // native 2-arg and 3-arg (percentage-like 2nd argument) delegate to
    // the builtin ApproximatePercentile unchanged
    val nat = spark.sql(
      """SELECT approx_percentile(v, 0.5) AS p50,
                approx_percentile(v, 0.5, 10000) AS p50acc,
                approx_percentile(v, array(0.25, 0.75)) AS pq
         FROM VALUES (1), (2), (3), (4) AS t(v)""").collect()(0)
    assert(nat.getInt(0) == 2 && nat.getInt(1) == 2)
    assert(nat.getSeq[Int](2) == Seq(1, 3))
    // Presto weighted form: a weight COLUMN in position 2. With weights
    // (1,1,3) the expanded multiset is {1,2,3,3,3}: p50 = 3
    val w = spark.sql(
      """SELECT approx_percentile(v, w, 0.5) AS wp50
         FROM VALUES (1, 1L), (2, 1L), (3, 3L) AS t(v, w)""").collect()(0)
    assert(w.getDouble(0) == 3.0, s"weighted median over {1,2,3,3,3} must be 3, got $w")
    // ambiguous/invalid 3-arg shapes stay loud
    intercept[Exception](spark.sql(
      "SELECT approx_percentile(v, v, 5) FROM VALUES (1) AS t(v)").collect())
  }

  test("hmac_* / week / to_base / from_base / presto_regexp_extract_all resolve") {
    // RFC 4231 test case 2: key "Jefe", data "what do ya want for nothing?"
    val h = spark.sql(
      """SELECT lower(hex(hmac_sha256('what do ya want for nothing?', 'Jefe'))) AS s256,
                lower(hex(hmac_sha1('what do ya want for nothing?', 'Jefe'))) AS s1""")
      .collect()(0)
    assert(h.getString(0) ==
      "5bdcc146bf60754e6a042426089575c75a003f089d2739839dec58b964ec3843",
      s"RFC 4231 TC2 mismatch: ${h.getString(0)}")
    assert(h.getString(1) == "effcdf6ae5eb2fa2d27416d5f184df9c259a7c79",
      "RFC 2202 TC2 (HMAC-SHA1) mismatch")
    // week = ISO week_of_year
    assert(spark.sql("SELECT week(DATE '2026-08-16') AS w").collect()(0).getInt(0) == 33)
    // to_base/from_base: lowercase digits, SIGNED round-trip (Spark's bare
    // conv would treat -255 as unsigned 64-bit — the trap the lowering closes)
    val b = spark.sql(
      """SELECT to_base(255, 16) AS h, to_base(-255, 16) AS hn,
                from_base('ff', 16) AS v, from_base('-ff', 16) AS vn,
                from_base(to_base(123456789, 36), 36) AS rt""").collect()(0)
    assert(b.getString(0) == "ff" && b.getString(1) == "-ff")
    assert(b.getLong(2) == 255L && b.getLong(3) == -255L && b.getLong(4) == 123456789L)
    // regexp_extract_all default-group trap: Presto returns WHOLE matches
    val r = spark.sql(
      """SELECT presto_regexp_extract_all('a1-b2', '([a-z])([0-9])') AS p,
                regexp_extract_all('a1-b2', '([a-z])([0-9])') AS s""").collect()(0)
    assert(r.getSeq[String](0) == Seq("a1", "b2"), "Presto default: group 0")
    assert(r.getSeq[String](1) == Seq("a", "b"), "Spark default stays group 1 (non-shadowing)")
  }

  test("presto_greatest / presto_least: NULL propagates; builtins still skip nulls") {
    val r = spark.sql(
      """SELECT presto_greatest(1, 2, CAST(NULL AS INT)) AS pg_null,
                presto_least(1, 2) AS pl,
                presto_greatest(3.5D, 1.0D) AS pg,
                greatest(1, 2, CAST(NULL AS INT)) AS sg,
                least(1, CAST(NULL AS INT)) AS sl""").collect()(0)
    assert(r.isNullAt(0), "Presto semantics: NULL when ANY argument is NULL")
    assert(r.getInt(1) == 1 && r.getDouble(2) == 3.5)
    assert(r.getInt(3) == 2 && r.getInt(4) == 1,
      "Spark builtins must keep their skip-null semantics (non-shadowing)")
  }

  test("Presto cosine_similarity / array_sum / array_average resolve") {
    // kernel == the composed HOF fold, and the known-value check:
    // m1={a:1,b:2}, m2={b:2,c:1} -> dot 4, norms sqrt5*sqrt5 -> 0.8
    val c = spark.sql(
      """SELECT cosine_similarity(map('a', 1D, 'b', 2D), map('b', 2D, 'c', 1D)) AS sim,
                cosine_similarity(map('a', 1, 'b', 2), map('b', 2, 'c', 1)) AS coerced,
                cosine_similarity(map('a', 1D), map('b', 1D)) AS disjoint,
                isnan(cosine_similarity(map('a', 0D), map('a', 1D))) AS zero_norm""")
      .collect()(0)
    assert(math.abs(c.getDouble(0) - 0.8) < 1e-12, s"got ${c.getDouble(0)}")
    assert(math.abs(c.getDouble(1) - 0.8) < 1e-12, "integer map values must coerce")
    assert(c.getDouble(2) == 0.0)
    assert(c.getBoolean(3), "zero-norm operand -> NaN (Presto formula)")
    // array_sum / array_average: NULL elements skipped; empty -> 0 / NULL
    val a = spark.sql(
      """SELECT array_sum(array(1D, NULL, 2.5D)) AS s,
                array_average(array(1D, NULL, 2D)) AS avg,
                array_sum(array(CAST(NULL AS DOUBLE))) AS s_allnull,
                array_average(array(CAST(NULL AS DOUBLE))) AS a_allnull""")
      .collect()(0)
    assert(a.getDouble(0) == 3.5 && a.getDouble(1) == 1.5)
    assert(a.getDouble(2) == 0.0, "all-null array sums to 0 (Presto)")
    assert(a.isNullAt(3), "all-null array averages to NULL (Presto)")
  }

  test("Presto ngrams resolves: overlapping windows, short-input contract") {
    val r = spark.sql(
      """SELECT ngrams(array('a','b','c','d'), 2) AS bi,
                ngrams(array('a','b','c','d'), 3) AS tri,
                ngrams(array('a'), 3) AS short,
                ngrams(CAST(NULL AS ARRAY<STRING>), 2) AS nul""").collect()(0)
    assert(r.getSeq[scala.collection.Seq[String]](0).map(_.toSeq) ==
      Seq(Seq("a", "b"), Seq("b", "c"), Seq("c", "d")))
    assert(r.getSeq[scala.collection.Seq[String]](1).map(_.toSeq) ==
      Seq(Seq("a", "b", "c"), Seq("b", "c", "d")))
    assert(r.getSeq[scala.collection.Seq[String]](2).map(_.toSeq) == Seq(Seq("a")),
      "input shorter than n yields ONE n-gram: the whole array (Presto contract)")
    assert(r.isNullAt(3), "NULL array -> NULL")
  }

  test("Presto approx_set / merge / cardinality resolve as SQL spellings (r17 task 1)") {
    // build -> union -> estimate round trip, grouped so partials really merge
    val est = spark.sql(
      """WITH per AS (SELECT g, approx_set(v) AS sk FROM VALUES
           ('a', 1), ('a', 2), ('b', 2), ('b', 3), ('b', 4) AS t(g, v) GROUP BY g)
         SELECT cardinality(merge(sk)) AS est FROM per""").collect()(0).getLong(0)
    assert(est == 4L, s"4 distinct values across sketches, got $est")
    // the 2-arg error form accepts Spark's DECIMAL literal parse and maps
    // e -> lgConfigK (coarser e -> smaller sketch, same small-input answer)
    val est2 = spark.sql(
      "SELECT cardinality(approx_set(v, 0.26)) AS e FROM VALUES (1), (2), (3) AS t(v)")
      .collect()(0).getLong(0)
    assert(est2 == 3L)
    // shadowed cardinality still covers arrays and maps exactly like the
    // builtin (the binary dispatch must not break the native lowering)
    val c = spark.sql(
      "SELECT cardinality(array(1,2,3)) AS ca, cardinality(map('x',1,'y',2)) AS cm, " +
        "cardinality(CAST(NULL AS ARRAY<INT>)) AS cn").collect()(0)
    assert(c.getInt(0) == 3 && c.getInt(1) == 2 && c.isNullAt(2))
    // out-of-range error bound is loud (Presto's own bounds)
    intercept[Exception](spark.sql("SELECT approx_set(v, 0.5) FROM VALUES (1) AS t(v)").collect())
  }

  test("Presto n-ary max/min/max_by/min_by resolve; builtin arities unchanged (r17 task 3)") {
    val r = spark.sql(
      """SELECT max(v) AS m1, min(v) AS n1, max_by(s, v) AS mb1, min_by(s, v) AS nb1,
                max(v, 3) AS m3, min(v, 3) AS n3,
                max_by(s, v, 2) AS mb2, min_by(s, v, 2) AS nb2
         FROM VALUES (5, 'e'), (1, 'a'), (9, 'i'), (7, 'g'), (3, 'c') AS t(v, s)""")
      .collect()(0)
    assert(r.getInt(0) == 9 && r.getInt(1) == 1)
    assert(r.getString(2) == "i" && r.getString(3) == "a")
    assert(r.getSeq[Int](4) == Seq(9, 7, 5), "max(x,n): n largest, DESCENDING")
    assert(r.getSeq[Int](5) == Seq(1, 3, 5), "min(x,n): n smallest, ASCENDING")
    assert(r.getSeq[String](6) == Seq("i", "g"), "max_by: x of the n largest y, desc y")
    assert(r.getSeq[String](7) == Seq("a", "c"), "min_by: x of the n smallest y, asc y")
    // NULL order keys skipped; NULL values RIDE in the _by output; short
    // groups yield short arrays; empty/all-null-key groups yield NULL
    val nulls = spark.sql(
      """SELECT max(v, 3) AS m, max_by(s, v, 3) AS mb
         FROM VALUES (5, 'e'), (CAST(NULL AS INT), 'z'), (7, CAST(NULL AS STRING)) AS t(v, s)""")
      .collect()(0)
    assert(nulls.getSeq[Int](0) == Seq(7, 5), "NULL order keys must be skipped")
    assert(nulls.getSeq[String](1) == Seq(null, "e"), "NULL values ride when their key ranks")
    val empty = spark.sql("SELECT max(v, 3) FROM (SELECT 1 AS v) WHERE 1 = 0").collect()(0)
    assert(empty.isNullAt(0), "empty group -> NULL, matching 1-ary max")
    // loud failures: non-literal n, out-of-range n
    intercept[Exception](spark.sql("SELECT max(v, v) FROM VALUES (1) AS t(v)").collect())
    intercept[Exception](spark.sql("SELECT max(v, 0) FROM VALUES (1) AS t(v)").collect())
  }

  test("array_agg(x ORDER BY ...) pre-parse rewrite (r17 task 4)") {
    // Spark's own grammar rejects the form — pin that, so a Spark release
    // that adds it natively retires the rewrite
    intercept[Exception](
      spark.sql("SELECT array_agg(x ORDER BY x) FROM VALUES (1) AS t(x)").collect())
    // single key ASC via Engine.sql; nulls-largest default (asc -> last)
    val a = graft.Engine.sql(spark,
      """SELECT array_agg(s ORDER BY v) AS a
         FROM VALUES ('b', 2), ('a', 1), ('z', CAST(NULL AS INT)) AS t(s, v)""")
      .collect()(0).getSeq[String](0)
    assert(a == Seq("a", "b", "z"), s"asc + null key last, got $a")
    // DESC flips the nulls to FIRST (nulls-largest convention), and an
    // explicit NULLS LAST overrides it
    val d = graft.Engine.sql(spark,
      """SELECT array_agg(s ORDER BY v DESC) AS a,
                array_agg(s ORDER BY v DESC NULLS LAST) AS b
         FROM VALUES ('b', 2), ('a', 1), ('z', CAST(NULL AS INT)) AS t(s, v)""")
      .collect()(0)
    assert(d.getSeq[String](0) == Seq("z", "b", "a"))
    assert(d.getSeq[String](1) == Seq("b", "a", "z"))
    // multi-key with mixed directions; NULL VALUES are kept (Presto
    // array_agg keeps nulls — the struct wrapping preserves them)
    val m = graft.Engine.sql(spark,
      """SELECT array_agg(s ORDER BY v DESC, s ASC) AS a
         FROM VALUES ('b', 2), (CAST(NULL AS STRING), 9), ('c', 2), ('a', 2) AS t(s, v)""")
      .collect()(0).getSeq[String](0)
    assert(m == Seq(null, "a", "b", "c"), s"got $m")
    // quoted text and comments are never rewritten; DISTINCT stays verbatim
    // (and fails loudly downstream rather than silently dropping DISTINCT)
    assert(graft.Engine.rewritePresto("SELECT 'array_agg(x ORDER BY y)' AS s FROM t")
      .contains("'array_agg(x ORDER BY y)'"))
    intercept[Exception](graft.Engine.sql(spark,
      "SELECT array_agg(DISTINCT x ORDER BY x) FROM VALUES (1) AS t(x)").collect())
    // backtick identifiers ride through every rewrite untouched, even when
    // they contain an apostrophe or a comment opener (r17 ADVICE: the
    // scanner must treat ` as a quote)
    val bt = "SELECT `it's--tricky` FROM t CROSS JOIN UNNEST(xs) AS u(x)"
    val rw = graft.Engine.rewritePresto(bt)
    assert(rw.contains("`it's--tricky`") && rw.contains("CROSS JOIN LATERAL explode(xs) AS u(x)"), rw)
    val bt2 = "SELECT `a``UNNEST(b)` FROM t"
    assert(graft.Engine.rewritePresto(bt2) == bt2, "doubled-backtick escape must not rewrite")
  }

  test("CTAS / partitioned CTAS / INSERT INTO round-trip through Engine.sql (r17 task 6)") {
    // the Athena materialization idiom (reference README client docs):
    // CREATE TABLE AS over the events schema, partitioned and not, plus
    // INSERT INTO append — all through the same sql() entry the queries use
    val wh = java.nio.file.Files.createTempDirectory("graft_ctas").toString
    graft.Engine.sql(spark, "DROP TABLE IF EXISTS ctas_plain")
    graft.Engine.sql(spark, "DROP TABLE IF EXISTS ctas_part")
    graft.Engine.sql(spark,
      s"""CREATE TABLE ctas_plain USING parquet LOCATION '$wh/plain' AS
          SELECT id AS eventid, CAST(id % 3 AS STRING) AS severity FROM range(30)""")
    assert(graft.Engine.sql(spark, "SELECT count(*) AS n FROM ctas_plain")
      .collect()(0).getLong(0) == 30L)
    // partitioned CTAS: partition column LAST (Spark requires it; same
    // physical layout the reference's year/month/day/hour partitions use)
    graft.Engine.sql(spark,
      s"""CREATE TABLE ctas_part USING parquet PARTITIONED BY (severity)
          LOCATION '$wh/part' AS
          SELECT id AS eventid, CAST(id % 3 AS STRING) AS severity FROM range(30)""")
    val perPart = graft.Engine.sql(spark,
      "SELECT severity, count(*) AS n FROM ctas_part GROUP BY severity ORDER BY severity")
      .collect()
    assert(perPart.map(_.getLong(1)).toSeq == Seq(10L, 10L, 10L))
    // partition pruning reaches the scan of the CTAS output
    val pruned = graft.Engine.sql(spark,
      "SELECT count(*) FROM ctas_part WHERE severity = '1'")
    assert(pruned.queryExecution.executedPlan.toString.contains("PartitionFilters"),
      "partition filter must reach the scan")
    assert(pruned.collect()(0).getLong(0) == 10L)
    // INSERT INTO appends into both layouts and is immediately queryable
    graft.Engine.sql(spark,
      "INSERT INTO ctas_plain SELECT 999L AS eventid, 'x' AS severity")
    graft.Engine.sql(spark,
      "INSERT INTO ctas_part SELECT 999L AS eventid, '1' AS severity")
    assert(graft.Engine.sql(spark, "SELECT count(*) AS n FROM ctas_plain")
      .collect()(0).getLong(0) == 31L)
    assert(graft.Engine.sql(spark,
      "SELECT count(*) AS n FROM ctas_part WHERE severity = '1'")
      .collect()(0).getLong(0) == 11L)
    graft.Engine.sql(spark, "DROP TABLE ctas_plain")
    graft.Engine.sql(spark, "DROP TABLE ctas_part")
  }

  test("Presto regexp_split / approx_distinct / presto_from_unixtime resolve") {
    val r = spark.sql(
      """SELECT regexp_split('one1two22three', '[0-9]+') AS parts,
                regexp_split('a.b.', '\\.') AS trailing,
                approx_distinct(v) AS ad,
                approx_distinct(v, 0.023) AS ad2,
                approx_count_distinct(v, 0.023) AS native
         FROM VALUES (1), (2), (3), (2) AS t(v)""").collect()(0)
    assert(r.getSeq[String](0) == Seq("one", "two", "three"))
    assert(r.getSeq[String](1) == Seq("a", "b", ""), "trailing empty strings preserved")
    assert(r.getLong(2) == 3L)
    assert(r.getLong(3) == r.getLong(4), "approx_distinct(x, e) == approx_count_distinct(x, e)")
    // the TYPE divergence pin: Spark's built-in from_unixtime -> STRING,
    // presto_from_unixtime -> TIMESTAMP (Presto semantics, fraction kept)
    val df = spark.sql(
      """SELECT from_unixtime(0) AS spark_s,
                presto_from_unixtime(0.5D) AS presto_ts""")
    assert(df.schema("spark_s").dataType == org.apache.spark.sql.types.StringType)
    assert(df.schema("presto_ts").dataType == org.apache.spark.sql.types.TimestampType)
    val row = df.collect()(0)
    assert(row.getString(0) == "1970-01-01 00:00:00")
    assert(row.getTimestamp(1).getTime == 500L, "fractional seconds kept")
  }

  test("CROSS JOIN UNNEST pre-parse rewrite: simple forms rewrite, complex forms fail loudly") {
    // pure-function pins
    assert(Engine.rewriteUnnest(
      "SELECT a, x FROM t CROSS JOIN UNNEST(arr) AS u(x)") ==
      "SELECT a, x FROM t CROSS JOIN LATERAL explode(arr) AS u(x)")
    assert(Engine.rewriteUnnest(
      "SELECT a FROM t cross join unnest(split(s, ',')) u(x, y)") ==
      "SELECT a FROM t cross join LATERAL explode(split(s, ',')) u(x, y)")
    // the implicit-join comma form — Athena's most common spelling
    assert(Engine.rewriteUnnest(
      "SELECT a, x FROM t, UNNEST(arr) AS u(x) WHERE a > 0") ==
      "SELECT a, x FROM t, LATERAL explode(arr) AS u(x) WHERE a > 0")
    // a comma NOT followed by UNNEST is untouched (projection lists, args)
    assert(Engine.rewriteUnnest("SELECT a, b FROM t, s") ==
      "SELECT a, b FROM t, s")
    // LEFT [OUTER] JOIN UNNEST ... ON TRUE -> CROSS JOIN LATERAL explode_outer
    assert(Engine.rewriteUnnest(
      "SELECT a, x FROM t LEFT JOIN UNNEST(arr) AS u(x) ON TRUE") ==
      "SELECT a, x FROM t CROSS JOIN LATERAL explode_outer(arr) AS u(x)")
    assert(Engine.rewriteUnnest(
      "SELECT a FROM t left outer join unnest(m) u(k, v) on true") ==
      "SELECT a FROM t CROSS JOIN LATERAL explode_outer(m) u(k, v)")
    // a LEFT JOIN UNNEST with any other ON condition is left verbatim
    val badOn = "SELECT a FROM t LEFT JOIN UNNEST(arr) AS u(x) ON a = 1"
    assert(Engine.rewriteUnnest(badOn) == badOn)
    // quote-awareness: the pattern inside a string literal is untouched
    val lit = "SELECT 'CROSS JOIN UNNEST(a) AS t(x)' AS s FROM t"
    assert(Engine.rewriteUnnest(lit) == lit)
    val lit2 = "SELECT ', UNNEST(a) AS t(x)' AS s FROM t"
    assert(Engine.rewriteUnnest(lit2) == lit2)
    // WITH ORDINALITY rewrites to inline(transform(...)) with a 1-based
    // BIGINT ordinal (posexplode's position is 0-based — the one trap)
    assert(Engine.rewriteUnnest(
      "SELECT * FROM t CROSS JOIN UNNEST(a) WITH ORDINALITY AS u(x, o)") ==
      "SELECT * FROM t CROSS JOIN LATERAL inline(transform(a, (graft_e, graft_i) -> " +
        "struct(graft_e, CAST(graft_i + 1 AS BIGINT)))) AS u(x, o)")
    // multi-array zip rewrites to the lockstep pad-to-longest form
    assert(Engine.rewriteUnnest(
      "SELECT * FROM t CROSS JOIN UNNEST(a, b) AS u(x, y)") ==
      "SELECT * FROM t CROSS JOIN LATERAL inline(transform(slice(sequence(1, " +
        "greatest(greatest(coalesce(size(a), 0), coalesce(size(b), 0), 0), 1)), 1, " +
        "greatest(coalesce(size(a), 0), coalesce(size(b), 0), 0)), graft_i -> " +
        "struct(try_element_at(a, graft_i), try_element_at(b, graft_i)))) AS u(x, y)")
    // a zip whose column count fits no arity (e.g. a map argument would
    // contribute 2 columns) is left verbatim — loud downstream
    val zipBad = "SELECT * FROM t CROSS JOIN UNNEST(a, m) AS u(x, k, v)"
    assert(Engine.rewriteUnnest(zipBad) == zipBad)
    // comments are inter-token filler: an apostrophe inside one must not
    // misalign the quote tracking (r16 ADVICE), and a comment between the
    // join keywords and UNNEST still rewrites
    val cmt = "SELECT a FROM t -- don't rewrite 'this\n WHERE x = 1"
    assert(Engine.rewriteUnnest(cmt) == cmt)
    val cmtBlock = "SELECT a /* it's a, CROSS JOIN UNNEST(b) AS t(x) */ FROM t"
    assert(Engine.rewriteUnnest(cmtBlock) == cmtBlock)
    assert(Engine.rewriteUnnest(
      "SELECT a, x FROM t CROSS JOIN /* flatten */ UNNEST(arr) AS u(x)") ==
      "SELECT a, x FROM t CROSS JOIN /* flatten */ LATERAL explode(arr) AS u(x)")
    // backslash-escaped quote inside a literal: the scanner mirrors
    // Spark's lexer, so the UNNEST-shaped text stays inside the literal
    val esc = "SELECT 'don\\'t, CROSS JOIN UNNEST(a) AS t(x)' AS s FROM t"
    assert(Engine.rewriteUnnest(esc) == esc)
    // end-to-end: array form and map form (Presto's two UNNEST shapes)
    spark.sql("SELECT 1 AS id, array('p', 'q') AS arr, map('k1', 10, 'k2', 20) AS m")
      .createOrReplaceTempView("unnest_probe")
    val arr = Engine.sql(spark,
      "SELECT id, w FROM unnest_probe CROSS JOIN UNNEST(arr) AS t(w) ORDER BY w")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(arr == Seq((1, "p"), (1, "q")))
    val mp = Engine.sql(spark,
      "SELECT k, v FROM unnest_probe CROSS JOIN UNNEST(m) AS t(k, v) ORDER BY k")
      .collect().map(r => (r.getString(0), r.getInt(1))).toSeq
    assert(mp == Seq(("k1", 10), ("k2", 20)))
    // comma form end-to-end
    val comma = Engine.sql(spark,
      "SELECT id, w FROM unnest_probe, UNNEST(arr) t(w) ORDER BY w")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(comma == Seq((1, "p"), (1, "q")))
    // LEFT JOIN ... ON TRUE: an EMPTY array keeps its row with a NULL col
    // (inner forms drop it) — the Presto outer-unnest contract
    spark.sql("SELECT 1 AS id, array('p') AS arr UNION ALL SELECT 2, array()")
      .createOrReplaceTempView("unnest_outer_probe")
    val outer = Engine.sql(spark,
      """SELECT id, w FROM unnest_outer_probe
         LEFT JOIN UNNEST(arr) AS t(w) ON TRUE ORDER BY id""")
      .collect().map(r => (r.getInt(0), if (r.isNullAt(1)) null else r.getString(1))).toSeq
    assert(outer == Seq((1, "p"), (2, null)))
    val inner = Engine.sql(spark,
      "SELECT id, w FROM unnest_outer_probe CROSS JOIN UNNEST(arr) AS t(w)")
      .collect()
    assert(inner.length == 1, "inner unnest must drop the empty-array row")
    // WITH ORDINALITY end-to-end: 1-based BIGINT ordinal, array and map
    val ordRows = Engine.sql(spark,
      """SELECT w, o FROM unnest_probe
         CROSS JOIN UNNEST(arr) WITH ORDINALITY AS t(w, o) ORDER BY o""")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(ordRows == Seq(("p", 1L), ("q", 2L)))
    val ordMap = Engine.sql(spark,
      """SELECT k, v, o FROM unnest_probe
         CROSS JOIN UNNEST(m) WITH ORDINALITY AS t(k, v, o) ORDER BY o""")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2))).toSeq
    assert(ordMap == Seq(("k1", 10, 1L), ("k2", 20, 2L)))
    // multi-array zip end-to-end: lockstep, shorter/NULL arrays pad with
    // NULL to the LONGEST (Presto's contract); ordinality composes
    spark.sql("""SELECT array(1, 2, 3) AS a, array('x') AS b
                 UNION ALL SELECT array(), CAST(NULL AS ARRAY<STRING>)""")
      .createOrReplaceTempView("unnest_zip_probe")
    val zipRows = Engine.sql(spark,
      """SELECT x, y, o FROM unnest_zip_probe
         CROSS JOIN UNNEST(a, b) WITH ORDINALITY AS t(x, y, o) ORDER BY o""")
      .collect().map(r => (
        if (r.isNullAt(0)) -1 else r.getInt(0),
        if (r.isNullAt(1)) null else r.getString(1),
        r.getLong(2))).toSeq
    assert(zipRows == Seq((1, "x", 1L), (2, null, 2L), (3, null, 3L)),
      s"zip must pad to longest and drop the all-empty row, got $zipRows")
    // the unsupported forms reach Spark's parser verbatim and fail LOUDLY
    // (a map inside the zip form would contribute TWO columns — untyped
    // column arithmetic here, so it stays verbatim)
    intercept[Exception](Engine.sql(spark,
      "SELECT * FROM unnest_probe CROSS JOIN UNNEST(arr, m) AS t(x, k, v)").collect())
  }

  test("UNNEST anywhere in FROM, and comments inside rewritten argument lists") {
    // the generator replaces UNNEST in place, so a join or a further comma
    // relation may follow it; a `--` comment inside an argument list must
    // not comment out the generated text after it
    spark.sql("SELECT 1 AS id, array('p', 'q') AS arr").createOrReplaceTempView("unnest_pos")
    spark.sql("SELECT 1 AS id2, 'r' AS tag").createOrReplaceTempView("unnest_pos2")
    def rows(q: String) = Engine.sql(spark, q).collect().map(_.mkString("|")).toSeq
    assert(rows("""SELECT x, tag FROM unnest_pos CROSS JOIN UNNEST(arr) AS t(x)
                   JOIN unnest_pos2 ON id = id2 ORDER BY x""") == Seq("p|r", "q|r"))
    assert(rows("""SELECT x, tag FROM unnest_pos, UNNEST(arr) AS t(x), unnest_pos2
                   WHERE id = id2 ORDER BY x""") == Seq("p|r", "q|r"))
    assert(rows("SELECT x FROM unnest_pos CROSS JOIN UNNEST(arr -- note\n) AS t(x) ORDER BY x") ==
      Seq("p", "q"))
    Seq("-- by key", "-- newest first").foreach { c =>
      val q = s"SELECT array_agg(x ORDER BY k DESC $c\n) FROM VALUES ('a', 1), ('b', 2) AS t(x, k)"
      assert(Engine.sql(spark, q).collect()(0).getSeq[String](0) == Seq("b", "a"), q)
    }
  }

  test("presto_split / presto_regexp_extract pin the SILENT dialect traps (deviations #11/#12)") {
    val r = spark.sql(
      """SELECT split('a.b.c', '.') AS spark_split,
                presto_split('a.b.c', '.') AS presto_split,
                presto_split('a.b.c', '.', 2) AS presto_split_lim,
                regexp_extract('1-URGENT', '([0-9]+)-([A-Z]+)') AS spark_re,
                presto_regexp_extract('1-URGENT', '([0-9]+)-([A-Z]+)') AS presto_re,
                presto_regexp_extract('1-URGENT', '([0-9]+)-([A-Z]+)', 2) AS presto_re_g""")
      .collect()(0)
    // the trap, demonstrated: Spark's regex split on '.' shatters to empties
    assert(r.getSeq[String](0).forall(_.isEmpty), "Spark split('.') = regex — all empty")
    assert(r.getSeq[String](1) == Seq("a", "b", "c"), "presto_split: literal delimiter")
    assert(r.getSeq[String](2) == Seq("a", "b.c"), "limit: last element keeps the rest")
    assert(r.getString(3) == "1", "Spark 2-arg regexp_extract defaults to group 1")
    assert(r.getString(4) == "1-URGENT", "presto_regexp_extract: WHOLE match (group 0)")
    assert(r.getString(5) == "URGENT")
    // a regex-special delimiter arriving at RUNTIME still splits literally
    val rt = spark.sql(
      """SELECT presto_split(s, d) AS p FROM VALUES ('x|y|z', '|'), ('a+b', '+') AS t(s, d)""")
      .collect().map(_.getSeq[String](0)).toSeq
    assert(rt == Seq(Seq("x", "y", "z"), Seq("a", "b")))
  }

  test("operator-level dialect traps pinned: integer '/' and array subscript base (deviations #14/#15)") {
    // these are OPERATORS, not functions — no registration can intercept
    // them, so the README table documents the edit and this pin keeps the
    // divergence demonstrable (a Spark release changing either would
    // surface here first)
    val r = spark.sql(
      """SELECT 5 / 2 AS frac, 5 div 2 AS trunc,
                array('a', 'b', 'c')[1] AS zero_based,
                element_at(array('a', 'b', 'c'), 1) AS one_based""").collect()(0)
    // Presto: 5/2 = 2 (integer division). Spark's '/' is fractional for
    // every input type; `div` is the truncating spelling.
    assert(r.getDouble(0) == 2.5 && r.getLong(1) == 2L)
    // Presto: arr[1] is the FIRST element. Spark's subscript is 0-based —
    // a pasted Presto subscript silently shifts by one; element_at is
    // 1-based on BOTH engines (the portable spelling).
    assert(r.getString(2) == "b" && r.getString(3) == "a")
  }

  test("Presto zip() + UNNEST array-of-rows expansion (>= 3 columns -> inline)") {
    // zip resolves as a SQL name and NULL-pads to the longest argument
    val z = spark.sql(
      "SELECT zip(array(1, 2, 3), array('a'), array(true, false)) AS z").collect()(0)
      .getSeq[org.apache.spark.sql.Row](0)
    assert(z.size == 3)
    assert(z(0) == org.apache.spark.sql.Row(1, "a", true))
    assert(z(2) == org.apache.spark.sql.Row(3, null, null))
    // the idiomatic consumption: UNNEST(zip(...)) expands row fields into
    // columns — unambiguous at >= 3 columns, rewritten to inline
    assert(Engine.rewriteUnnest(
      "SELECT * FROM t CROSS JOIN UNNEST(zip(a, b, c)) AS u(x, y, z)") ==
      "SELECT * FROM t CROSS JOIN LATERAL inline(zip(a, b, c)) AS u(x, y, z)")
    spark.sql("SELECT array(10, 20) AS a, array('p', 'q', 'r') AS b, array(1.5D) AS c")
      .createOrReplaceTempView("zip_rows_probe")
    val rows = Engine.sql(spark,
      """SELECT x, y, z FROM zip_rows_probe
         CROSS JOIN UNNEST(zip(a, b, c)) AS t(x, y, z) ORDER BY y""")
      .collect().map(r => (
        if (r.isNullAt(0)) null else r.getInt(0),
        r.getString(1),
        if (r.isNullAt(2)) null else r.getDouble(2))).toSeq
    assert(rows == Seq((10, "p", 1.5), (20, "q", null), (null: Any, "r", null)))
    // a 2-field row array is untyped-ambiguous with a map: the map rewrite
    // wins and the row form fails LOUDLY (explode of array<struct> cannot
    // take 2 aliases), never silently wrong
    intercept[Exception](Engine.sql(spark,
      "SELECT x, y FROM zip_rows_probe CROSS JOIN UNNEST(zip(a, b)) AS t(x, y)").collect())
  }

  test("UNNEST rewrite matrix: every join form x shape x noise executes and matches") {
    // exhaustive execute-and-compare over the rewriter's whole input space:
    // 3 join forms x 6 shapes x 4 noise transforms (keyword case, comments
    // as inter-token filler, optional AS) = 72 queries, each checked
    // against hand-computed rows — the hand-rolled scanner's contract is
    // semantic, so the pin is semantic too
    spark.sql(
      """SELECT 1 AS id, array('p', 'q') AS arr, map('k1', 10, 'k2', 20) AS m,
                array(1, 2, 3) AS za, array('x') AS zb""")
      .createOrReplaceTempView("unnest_matrix")
    // (tail, select expr over the unnested cols, order col, expected)
    val shapes = Seq(
      ("UNNEST(arr) AS t(w)", "w", "w", Seq("p", "q")),
      ("UNNEST(m) AS t(k, v)", "concat(k, ':', v)", "k", Seq("k1:10", "k2:20")),
      ("UNNEST(arr) WITH ORDINALITY AS t(w, o)", "concat(w, '@', o)", "o",
        Seq("p@1", "q@2")),
      ("UNNEST(m) WITH ORDINALITY AS t(k, v, o)", "concat(k, ':', v, '@', o)", "o",
        Seq("k1:10@1", "k2:20@2")),
      ("UNNEST(za, zb) AS t(x, y)", "concat(x, ':', coalesce(y, '-'))", "x",
        Seq("1:x", "2:-", "3:-")),
      ("UNNEST(za, zb) WITH ORDINALITY AS t(x, y, o)",
        "concat(x, ':', coalesce(y, '-'), '@', o)", "o", Seq("1:x@1", "2:-@2", "3:-@3")))
    val joins: Seq[String => String] = Seq(
      t => s"unnest_matrix CROSS JOIN $t",
      t => s"unnest_matrix, $t",
      t => s"unnest_matrix LEFT JOIN $t ON TRUE")
    val noises: Seq[String => String] = Seq(
      identity,
      _.toLowerCase, // keyword case-insensitivity (idents already lowercase)
      _.replace("UNNEST(", "UNNEST /* it's a, comment */ (")
        .replace("WITH ORDINALITY", "WITH -- don't\n ORDINALITY")
        .replace("JOIN ", "JOIN /* j */ "),
      _.replace(" AS t(", " t(")) // alias without AS
    for {
      (tail, sel, ord, expected) <- shapes
      join <- joins
      noise <- noises
    } {
      val q = s"SELECT $sel AS r FROM ${join(noise(tail))} ORDER BY $ord"
      val got =
        try Engine.sql(spark, q).collect().map(_.getString(0)).toSeq
        catch { case e: Throwable => fail(s"<$q> failed: $e") }
      assert(got == expected, s"<$q> gave $got, expected $expected")
    }
  }
}
