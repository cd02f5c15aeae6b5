package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.json._
import graft.pipeline._

/** Golden sample-fixture tests: ports of
  * `test_plugin_timestamps.py`, `test_plugin_ip_addresses.py`,
  * `test_plugin_gsuite_logins.py` (all under the reference's
  * `lambdas/tests/`). Samples are the reconstructions under
  * [[graft.queries.PipelineQueries.SamplesDir]]; each helper re-normalizes
  * fresh (pytest setup() runs per test). */
class SamplePluginsSpec extends AnyFunSuite {

  private val samplesDir = graft.queries.PipelineQueries.SamplesDir
  private val meta = JObject("something" -> JString("else"))

  private def sample(name: String): JObject = {
    val src = scala.io.Source.fromFile(s"$samplesDir/$name")
    try Json.parse(src.mkString).asInstanceOf[JObject] finally src.close()
  }

  /** event_shell then lowercase_keys, like the Python test setup. */
  private def normalized(name: String): JObject = {
    val (Some(shelled), _) = EventShell.onMessage(sample(name), meta): @unchecked
    val (Some(lowered), _) = LowercaseKeys.onMessage(shelled, meta): @unchecked
    lowered
  }

  private def details(o: JObject): JObject = o("details").asInstanceOf[JObject]
  private def str(o: JObject, k: String): String = o(k).asInstanceOf[JString].value

  private val shellFields = Seq("severity", "summary", "category", "source", "tags", "plugins", "details")

  // ---- timestamps (test_plugin_timestamps.py) ------------------------------

  test("timestamps: benign on an event without timestamp fields") {
    val event0 = sample("sample_syslog_sudo.json")
    val event = event0.updated("details", details(event0).removed("timestamp"))
    val (Some(result), _) = Timestamps.onMessage(event, meta): @unchecked
    assert(details(result).contains("_utcprocessedtimestamp"))
    val stripped = result.updated("details", details(result).removed("_utcprocessedtimestamp"))
    assert(stripped == event)
  }

  test("timestamps: shell structure preserved") {
    for (name <- Seq("sample_cloudtrail_create_log_stream.json",
        "sample_cloudfront_wordpress_probe.json", "sample_vpc_flow_log.json")) {
      val (Some(result), _) = Timestamps.onMessage(normalized(name), meta): @unchecked
      shellFields.foreach(f => assert(result.contains(f), s"$name missing $f"))
      assert(result.contains("utctimestamp"))
      assert(details(result).contains("_utcprocessedtimestamp"))
    }
  }

  test("timestamps golden: cloudtrail eventtime") {
    val (Some(result), _) =
      Timestamps.onMessage(normalized("sample_cloudtrail_create_log_stream.json"), meta): @unchecked
    assert(str(result, "utctimestamp") == "2019-09-04T17:54:59+00:00")
  }

  test("timestamps golden: cloudfront date+time zip") {
    val (Some(result), _) =
      Timestamps.onMessage(normalized("sample_cloudfront_wordpress_probe.json"), meta): @unchecked
    assert(str(result, "utctimestamp") == "2020-09-01T17:48:18+00:00")
  }

  test("timestamps golden: vpc flow start") {
    val (Some(result), _) =
      Timestamps.onMessage(normalized("sample_vpc_flow_log.json"), meta): @unchecked
    assert(str(result, "utctimestamp") == "2014-12-14T04:06:50+00:00")
  }

  test("timestamps: invalid date values rejected") {
    val ev0 = normalized("sample_cloudtrail_create_log_stream.json")
    val bad0 = ev0.updated("details", details(ev0).updated("eventtime", JString("nada")))
    val (Some(r0), _) = Timestamps.onMessage(bad0, meta): @unchecked
    assert(details(r0)("eventtime") == JString("nada"))

    val ev1 = normalized("sample_cloudfront_wordpress_probe.json")
    val bad1 = ev1.updated("details", details(ev1).updated("time", JString("nada")))
    val (Some(r1), _) = Timestamps.onMessage(bad1, meta): @unchecked
    assert(details(r1)("time") == JString("nada"))

    val ev2 = normalized("sample_vpc_flow_log.json")
    val bad2 = ev2.updated("details", details(ev2).updated("start", JString("nada")))
    val (Some(r2), _) = Timestamps.onMessage(bad2, meta): @unchecked
    assert(details(r2)("start") == JString("nada"))
  }

  // ---- ip_addresses (test_plugin_ip_addresses.py) --------------------------

  test("ip_addresses: benign on an event without ip fields") {
    val event = sample("sample_syslog_sudo.json")
    val (Some(result), _) = IpAddresses.onMessage(event, meta): @unchecked
    assert(result == event)
  }

  test("ip_addresses: structure + source/destination present") {
    for (name <- Seq("sample_cloudtrail_create_log_stream.json",
        "sample_cloudfront_wordpress_probe.json", "sample_vpc_flow_log.json")) {
      val (Some(result), _) = IpAddresses.onMessage(normalized(name), meta): @unchecked
      shellFields.foreach(f => assert(result.contains(f), s"$name missing $f"))
      val d = details(result)
      assert(d.contains("sourceipaddress") || d.contains("destinationipaddress"))
    }
  }

  test("ip_addresses golden: cloudtrail source ip") {
    val (Some(result), _) =
      IpAddresses.onMessage(normalized("sample_cloudtrail_create_log_stream.json"), meta): @unchecked
    assert(details(result)("sourceipaddress") == JString("54.21.12.27"))
    assert(details(result)("_ipaddresses") == JArray(Vector(JString("54.21.12.27"))))
  }

  test("ip_addresses golden: cloudfront c-ip") {
    val (Some(result), _) =
      IpAddresses.onMessage(normalized("sample_cloudfront_wordpress_probe.json"), meta): @unchecked
    assert(details(result)("sourceipaddress") == JString("139.59.66.23"))
    assert(details(result)("_ipaddresses").asInstanceOf[JArray].items.contains(JString("139.59.66.23")))
  }

  test("ip_addresses golden: vpc source + destination") {
    val (Some(result), _) =
      IpAddresses.onMessage(normalized("sample_vpc_flow_log.json"), meta): @unchecked
    val d = details(result)
    assert(d("sourceipaddress") == JString("198.51.100.1"))
    assert(d("destinationipaddress") == JString("192.0.2.1"))
    val ips = d("_ipaddresses").asInstanceOf[JArray].items
    assert(ips.contains(JString("198.51.100.1")) && ips.contains(JString("192.0.2.1")))
  }

  test("ip_addresses: invalid values rejected (test_plugin_ip_addresses.py:105-134)") {
    // existing non-ip sourceipaddress: kept (not equal to useragent), no _ipaddresses
    val ev0 = normalized("sample_cloudtrail_create_log_stream.json")
    val bad0 = ev0.updated("details", details(ev0).updated("sourceipaddress", JString("nada")))
    val (Some(r0), _) = IpAddresses.onMessage(bad0, meta): @unchecked
    assert(details(r0)("sourceipaddress") == JString("nada"))
    assert(!details(r0).contains("_ipaddresses"))

    // "1" in c-ip: rejected, no source recorded
    val ev1 = normalized("sample_cloudfront_wordpress_probe.json")
    val bad1 = ev1.updated("details", details(ev1).updated("c-ip", JString("1")))
    val (Some(r1), _) = IpAddresses.onMessage(bad1, meta): @unchecked
    assert(details(r1)("c-ip") == JString("1"))
    assert(!details(r1).contains("sourceipaddress"))
    assert(!details(r1).contains("_ipaddresses"))

    // malformed quad in srcaddr: rejected; valid dstaddr still harvested
    val ev2 = normalized("sample_vpc_flow_log.json")
    val bad2 = ev2.updated("details", details(ev2).updated("srcaddr", JString("1320.2555.2555.2555")))
    val (Some(r2), _) = IpAddresses.onMessage(bad2, meta): @unchecked
    assert(details(r2)("srcaddr") == JString("1320.2555.2555.2555"))
    assert(!details(r2).contains("sourceipaddress"))
    assert(details(r2)("_ipaddresses").asInstanceOf[JArray].items.contains(JString("192.0.2.1")))
  }

  test("ip_addresses: comma-only x-forwarded-for value is skipped, not a crash") {
    val ev = normalized("sample_cloudfront_wordpress_probe.json")
    val noCip = ev.updated("details", details(ev).removed("c-ip").updated("x-forwarded-for", JString(",")))
    val (Some(result), _) = IpAddresses.onMessage(noCip, meta): @unchecked
    assert(!details(result).contains("sourceipaddress"))
  }

  // ---- gsuite_login (test_plugin_gsuite_logins.py) -------------------------

  test("gsuite: no change on the raw (un-normalized) event") {
    val event = sample("sample_gsuite_login_event.json")
    val (Some(result), _) = GsuiteLogin.onMessage(event, meta): @unchecked
    assert(result == event)
  }

  test("gsuite: structure after normalization") {
    val (Some(result), _) =
      GsuiteLogin.onMessage(normalized("sample_gsuite_login_event.json"), meta): @unchecked
    (shellFields :+ "utctimestamp").foreach(f => assert(result.contains(f), s"missing $f"))
  }

  test("gsuite golden values (test_plugin_gsuite_logins.py:59-72)") {
    val (Some(result), _) =
      GsuiteLogin.onMessage(normalized("sample_gsuite_login_event.json"), meta): @unchecked
    assert(str(result, "summary") == "someone@somewhere.com login_success from IP 123.456.253.226")
    assert(details(result)("sourceipaddress") == JString("123.456.253.226"))
    assert(str(result, "category") == "authentication")
    assert(str(result, "source") == "gsuite")
    assert(details(result)("success") == JBool(true))
    // utctimestamp from details.id.time, microsecond-preserving
    assert(str(result, "utctimestamp") == "2020-03-02T17:54:33.253000+00:00")
    // the sample's is_suspicious parameter is false => no suspicious flag
    assert(!details(result).contains("suspicious"))
  }

  // ---- full pipeline composition ------------------------------------------

  test("full pipeline: all five samples produce shell-conformant events") {
    for (name <- Seq("sample_cloudtrail_create_log_stream.json",
        "sample_cloudfront_wordpress_probe.json", "sample_vpc_flow_log.json",
        "sample_syslog_sudo.json", "sample_gsuite_login_event.json")) {
      val out = Pipeline.process(sample(name))
      assert(out.isDefined, name)
      val shell = out.get
      (shellFields ++ Seq("utctimestamp", "eventid")).foreach(f =>
        assert(shell.contains(f), s"$name missing $f"))
      // provenance recorded
      val plugins = shell("plugins").asInstanceOf[JArray].items.collect { case JString(s) => s }
      assert(plugins.contains("normalization_lowercase_keys"))
      assert(plugins.contains("normalization_event_shell"))
      assert(plugins.contains("enrichment_ensure_eventid"))
    }
  }

  test("ingest cascade: Records unroll, list normalize, single dict, source tag") {
    val recs = Ingest.rawRecords("foo.json",
      """{"Records": [{"a": 1}, {"b": 2}]}""")
    assert(recs.map(_.get("source")) == Seq(Some(JString("s3json")), Some(JString("s3json"))))
    assert(recs.head.contains("a") && recs(1).contains("b"))

    val listRecs = Ingest.rawRecords("foo.json", """[{"a": 1}, {"b": 2}]""")
    assert(listRecs.length == 2)

    val single = Ingest.rawRecords("foo.json", """{"a": 1}""")
    assert(single == Seq(Json.parse("""{"a": 1, "source": "s3json"}""")))

    val ct = Ingest.rawRecords("123_cloudtrail_us-west-2.json.gz", """{"a": 1}""")
    assert(ct.head("source") == JString("cloudtrail"))

    // concatenated non-NDJSON recovers via the brace scanner
    val blocks = Ingest.rawRecords("foo.json", """{"a": 1}{"b": 2}""")
    assert(blocks.length == 2)
  }
}
