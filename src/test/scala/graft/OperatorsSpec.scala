package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.operators.Sessionize

/** Sessionize + IVF ANN + SQL-registered kernel functions. */
class OperatorsSpec extends AnyFunSuite with SparkSuite {

  test("Presto temporal compat: from_iso8601_timestamp verbatim; date_diff/date_add via the one-token unquoted-unit edit") {
    // from_iso8601_timestamp registers verbatim; date_diff/date_add are
    // parser-reserved in Spark 4 for the UNQUOTED-unit spelling — the
    // documented one-token edit from Presto SQL. Pin that the native form
    // preserves Presto's truncate-toward-zero instant semantics.
    val r = spark.sql("""
      SELECT cast(from_iso8601_timestamp('2019-09-04T17:54:59+00:00') as string) AS ts,
             cast(from_iso8601_timestamp('2019-09-04T19:54:59+02:00') as string) AS ts_off,
             date_diff(HOUR, timestamp'2020-06-19 01:00:00',
                             timestamp'2020-06-19 04:30:00') AS dh,
             date_diff(HOUR, timestamp'2020-06-19 04:30:00',
                             timestamp'2020-06-19 01:00:00') AS dh_neg,
             date_diff(DAY,  timestamp'2020-06-21 01:00:00',
                             timestamp'2020-06-19 01:00:00') AS dd_neg,
             cast(date_add(MINUTE, -90, timestamp'2020-06-19 01:00:00') as string) AS back,
             cast(date_add(WEEK, 2, timestamp'2020-06-19 01:00:00') as string) AS fwd
    """).head()
    assert(r.getString(0) == "2019-09-04 17:54:59") // offset normalized to session UTC
    assert(r.getString(1) == "2019-09-04 17:54:59") // +02:00 normalizes to the same instant
    assert(r.getLong(2) == 3L, "3.5 h truncates toward zero (Presto semantics)")
    assert(r.getLong(3) == -3L, s"-3.5 h must truncate toward zero, got ${r.getLong(3)}")
    assert(r.getLong(4) == -2L)
    assert(r.getString(5) == "2020-06-18 23:30:00")
    assert(r.getString(6) == "2020-07-03 01:00:00")
  }

  test("lateral-alias shadowing hazard: a sibling alias reusing an input name rebinds a later lambda's references (pin + avoidance)") {
    // Spark 4.1 hazard, first caught through q_sim_adaptive: in
    //   select(transform(v, ...).as("v"), transform(slice(v, 1, 2), x -> x + v[3]).as("p"))
    // the second expression's outer slice reads the INPUT column v, but the
    // v inside its lambda re-resolves to the preceding SIBLING output — one
    // expression, two bindings of the same name, silently wrong numbers.
    // The repo rule: never alias a projection output to an input column's
    // name when a later sibling's lambda references that name (EngineSpec
    // lints every declared plan for it). If the shadowed assertion ever
    // fails, Spark fixed the binding: retire this pin and that lint.
    val s = spark
    import s.implicits._
    val df = Seq((1L, Seq(3.0, 4.0, 12.0))).toDF("id", "v")
    def p(doubled: String) = df.select(col("id"),
        transform(col("v"), x => x * 2.0).as(doubled),
        transform(slice(col("v"), 1, 2), x => x + element_at(col("v"), 3)).as("p"))
      .select(element_at(col("p"), 1)).head().getDouble(0)
    assert(p("v2") == 15.0, "clean form: 3 + 12")
    assert(p("v") != 15.0, "shadowed form now equals the clean value — Spark fixed " +
      "lateral-alias lambda binding; retire this pin and the EngineSpec lint")
  }

  test("window GROUPS frame mode is parser-rejected; the dense_rank RANGE rewrite is the documented equivalent") {
    // DOCUMENTED DEVIATION (q_window_groups + GraftExtensions scaladoc):
    // Presto supports GROUPS BETWEEN k PRECEDING AND CURRENT ROW; Spark
    // 4's parser has no GROUPS frame mode at all (and DuckDB 1.0.0
    // rejects it too — the q_window_groups oracle derives the semantics
    // from group-level lag totals instead). Pin the rejection so a future
    // Spark release that adds it retires the deviation loudly.
    val err = intercept[Exception] {
      spark.sql("""SELECT sum(id) OVER (ORDER BY id
                   GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) FROM range(5)""")
    }
    assert(err.getClass.getSimpleName == "ParseException",
      s"expected ParseException for GROUPS frame, got $err")
    // The mechanical rewrite: dense_rank over the same (partition, order)
    // spec, then RANGE BETWEEN k PRECEDING AND CURRENT ROW on the rank.
    // Hand-checked micro-corpus with TIES (the case that separates GROUPS
    // from ROWS and RANGE-on-value): values (a,1)(b,1)(c,2)(d,3)(e,3);
    // GROUPS 1 PRECEDING..CURRENT ROW sums: row a,b -> group{1} = a+b;
    // c -> groups{1,2}; d,e -> groups{2,3}.
    val s = spark
    import s.implicits._
    val df = Seq(("a", 1, 10L), ("b", 1, 20L), ("c", 2, 3L), ("d", 3, 4L), ("e", 3, 5L))
      .toDF("id", "ord", "v")
    import org.apache.spark.sql.expressions.Window
    val dr = org.apache.spark.sql.functions.dense_rank()
      .over(Window.orderBy("ord"))
    val frame = Window.orderBy("dr").rangeBetween(-1, Window.currentRow)
    val out = df.withColumn("dr", dr)
      .select(col("id"), sum("v").over(frame).as("gsum"))
      .orderBy("id").collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(out == Map("a" -> 30L, "b" -> 30L, "c" -> 33L, "d" -> 12L, "e" -> 12L),
      s"GROUPS rewrite mismatch: $out")
  }

  test("window frame EXCLUDE clause is parser-rejected; the subtract-current rewrite is the documented equivalent") {
    // DOCUMENTED DEVIATION #3 (q_window_exclude + GraftExtensions
    // scaladoc): Presto and DuckDB accept `ROWS BETWEEN ... EXCLUDE
    // CURRENT ROW`; Spark 4's parser has no EXCLUDE clause. Pin the
    // rejection so a Spark release that adds it retires the deviation
    // loudly (the declared row already certifies the rewrite against
    // DuckDB's NATIVE EXCLUDE CURRENT ROW).
    val err = intercept[Exception] {
      spark.sql("""SELECT sum(id) OVER (ORDER BY id
                   ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW)
                   FROM range(5)""")
    }
    assert(err.getClass.getSimpleName == "ParseException",
      s"expected ParseException for frame EXCLUDE, got $err")
    // Hand-checked micro-corpus incl. the empty-excluded-frame edge (a
    // 1-row partition must yield NULL, not 0 — sum over an empty frame):
    // partition p1 rows (a 10)(b 20)(c 3) with ROWS 1 PRECEDING..1
    // FOLLOWING EXCLUDE CURRENT ROW -> a: {b}=20, b: {a,c}=13, c: {b}=20;
    // partition p2 row (d 4) -> frame minus current is EMPTY -> NULL.
    val s = spark
    import s.implicits._
    val df = Seq(("p1", "a", 10L), ("p1", "b", 20L), ("p1", "c", 3L), ("p2", "d", 4L))
      .toDF("p", "id", "v")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("p").orderBy("id").rowsBetween(-1, 1)
    val out = df
      .select(col("id"),
        (sum("v").over(w) - col("v")).as("xs"),
        (count(lit(1)).over(w) - 1).as("xn"))
      .select(col("id"), when(col("xn") > 0, col("xs")).as("excl_sum"))
      .orderBy("id").collect()
      .map(r => r.getString(0) -> (if (r.isNullAt(1)) null else r.getLong(1))).toMap
    assert(out == Map("a" -> 20L, "b" -> 13L, "c" -> 20L, "d" -> null),
      s"EXCLUDE CURRENT ROW rewrite mismatch: $out")
  }

  test("AQE splits skewed join partitions at runtime (the 100 TB skew story)") {
    val s = spark
    import s.implicits._
    // one pathologically hot key: 50k of 51k left rows share key 0
    val left = s.range(51000)
      .select(when(col("id") < 50000, 0L).otherwise(col("id")).as("k"),
        col("id").as("v"))
    val right = s.range(1000).select(col("id").as("k"), (col("id") * 2).as("w"))
    val joined = left.hint("merge").join(right, "k")
    // thresholds scaled down so local test data qualifies as "skewed";
    // production uses the 256 MB defaults — the MECHANISM is what's pinned
    s.conf.set("spark.sql.adaptive.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16KB")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      // collect() through joined's OWN query execution, so the adaptive
      // final plan is materialized on the instance we inspect (count()
      // would plan a separate execution and leave this one unexecuted)
      assert(joined.collect().length == 50000) // only the hot key matches the right side
      val finalPlan = joined.queryExecution.executedPlan.toString
      assert(finalPlan.contains("isSkew=true") || finalPlan.contains("skew="),
        s"AQE did not mark the skewed partition:\n$finalPlan")
    } finally {
      s.conf.unset("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes")
      s.conf.unset("spark.sql.adaptive.advisoryPartitionSizeInBytes")
      s.conf.unset("spark.sql.adaptive.coalescePartitions.enabled")
    }
  }

  test("runtime bloom-filter join pruning reaches the fact-side scan (the selective-join 100 TB story)") {
    val s = spark
    // the complement of AQE skew handling: when a SHUFFLE join's build side
    // is selective, Catalyst injects a bloom filter of the build keys into
    // the probe-side scan, so most fact rows die at the scan instead of
    // crossing the shuffle. Thresholds scaled down for local data;
    // production uses the 10 MB creation-side default — the MECHANISM is
    // what's pinned.
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "64MB")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force a shuffle join
    try {
      val li = s.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
      val sel = s.read.parquet("/root/testdata/sf0.01/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT")
        .filter(col("o_orderkey") % 10 === 0) // selective build side
      val joined = li.join(sel, col("l_orderkey") === col("o_orderkey"))
        .groupBy("o_orderpriority").agg(count(lit(1)).as("n"))
      assert(joined.collect().nonEmpty)
      val p = joined.queryExecution.executedPlan.toString
      // the injected probe renders as might_contain(subquery, xxhash64(key))
      // on the FACT side's Filter; the build renders as bloom_filter_agg
      assert(p.contains("might_contain") && p.contains("bloom_filter_agg"),
        s"no runtime bloom filter injected:\n${p.take(4000)}")
      assert(p.contains("might_contain(Subquery") ||
        p.linesIterator.exists(l => l.contains("might_contain") && l.contains("l_orderkey")),
        "bloom probe did not land on the lineitem fact side")
    } finally {
      s.conf.unset("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold")
      s.conf.unset("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      s.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      s.conf.unset("spark.sql.optimizer.runtime.bloomFilter.enabled")
    }
  }

  test("json_array_contains agrees with the native from_json formulation; Presto edges") {
    val s = spark
    import s.implicits._
    val rng = new scala.util.Random(7)
    val rows = (0 until 300).map { _ =>
      val items = Vector.fill(rng.nextInt(6))(rng.alphanumeric.take(rng.nextInt(5) + 1).mkString)
      val needle =
        if (items.nonEmpty && rng.nextBoolean()) items(rng.nextInt(items.size))
        else rng.alphanumeric.take(3).mkString
      (graft.json.Json.render(graft.json.JArray(items.map(graft.json.JString(_)))), needle)
    }
    rows.toDF("js", "needle").selectExpr(
      "json_array_contains(js, needle) AS compat",
      "coalesce(array_contains(from_json(js, 'array<string>'), needle), false) AS native")
      .collect()
      .foreach(r => assert(r.getBoolean(0) == r.getBoolean(1)))
    // numeric membership compares numerically (Presto: 2 matches 2.0)
    assert(s.sql("""SELECT json_array_contains('[1, 2.0, true, "x"]', 2)""").head.getBoolean(0))
    assert(s.sql("""SELECT json_array_contains('[1, 2.0]', 3)""").head.getBoolean(0) == false)
    // non-array input -> NULL (Presto), not false
    assert(s.sql("""SELECT json_array_contains('{"a": 1}', 'a')""").head.isNullAt(0))
  }

  test("json_array_contains keeps the Presto-exact expression through optimization") {
    val s = spark
    // parquet-backed input so constant folding can't pre-evaluate
    val docs = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val df = docs.selectExpr("doc_id", "lang", "json_array_contains(to_json(array(lang)), 'en') AS has_en")
    assert(df.queryExecution.optimizedPlan.toString.toLowerCase.contains("jsonarraycontains"))
    df.collect().foreach(r => assert(r.getBoolean(2) == (r.getString(1) == "en")))
    // numeric probe: JSON numbers compare numerically
    val num = docs.selectExpr("json_array_contains(to_json(array(doc_id)), doc_id) AS m")
    assert(num.queryExecution.optimizedPlan.toString.toLowerCase.contains("jsonarraycontains"))
    num.collect().foreach(r => assert(r.getBoolean(0)))
  }

  test("json_array_contains: mixed-type arrays keep Presto semantics") {
    val s = spark
    val docs = s.read.parquet("/root/testdata/sf0.001/documents.parquet")
    // string probe against a NUMERIC json array: Presto (and the eval
    // expression) say false — '1' is not a JSON string element of [<id>]
    val probe = docs
      .selectExpr("json_array_contains(to_json(array(doc_id)), CAST(doc_id AS STRING)) AS m")
      .collect().map(_.getBoolean(0))
    assert(probe.forall(_ == false), "must be Presto-exact")
  }

  test("session fold: a late event more than a gap BEFORE the open session start forms its own session") {
    import graft.operators.Sessionize
    val gap = 100L
    val carried = Sessionize.OpenSession(start = 1000L, last = 1200L, n = 3)
    // two late events chaining together, both > gap before carried.start,
    // plus one event that extends the carried session
    val (closed, open) = Sessionize.fold(gap, Some(carried), Array(500L, 550L, 1250L))
    assert(closed == Vector(Sessionize.OpenSession(500L, 550L, 2)),
      s"late chain should close as its own session: $closed")
    assert(open.contains(Sessionize.OpenSession(1000L, 1250L, 4)), open.toString)
    // an event within a gap of carried.start still merges (conservative)
    val (closed2, open2) = Sessionize.fold(gap, Some(carried), Array(950L))
    assert(closed2.isEmpty && open2.contains(Sessionize.OpenSession(950L, 1200L, 4)))
  }

  test("sessionize: gap splitting, counts, durations") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (1L, "2020-01-01 10:00:00"), (1L, "2020-01-01 10:10:00"), (1L, "2020-01-01 10:20:00"),
      (1L, "2020-01-01 13:00:00"),
      (2L, "2020-01-01 09:00:00"))
      .toDF("user_id", "ts_s")
      .select(col("user_id"), to_timestamp(col("ts_s")).as("ts"))
    val sessions = Sessionize.sessionize(df, gapSeconds = 1800)
      .collect().sortBy(x => (x.user_id, x.session_start_micros))
    assert(sessions.length == 3)
    assert(sessions(0).user_id == 1 && sessions(0).n_events == 3 && sessions(0).duration_s == 1200)
    assert(sessions(1).user_id == 1 && sessions(1).n_events == 1 && sessions(1).duration_s == 0)
    assert(sessions(2).user_id == 2 && sessions(2).n_events == 1)
  }

  test("multi-probe LSH: recall@5 dominates single-bucket LSH (the probe dial works)") {
    val d = "/root/testdata/sf0.001"
    def top5(name: String) = SparkEntry.queries(name)(spark, d).collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .map { case (q, rs) => q -> rs.map(_._2).toSet }
    val exact = top5("q_sim_cosine_topk")
    val single = top5("q_sim_lsh_ann")
    val multi = top5("q_sim_lsh_multiprobe")
    // the single bucket is always among the probed buckets, so multiprobe's
    // candidate set is a superset: recall vs the exact baseline cannot drop
    val singleRecall = exact.toSeq.map { case (q, t) => single.getOrElse(q, Set.empty[Long]).intersect(t).size }.sum
    val multiRecall = exact.toSeq.map { case (q, t) => multi.getOrElse(q, Set.empty[Long]).intersect(t).size }.sum
    assert(multiRecall >= singleRecall, s"multiprobe $multiRecall < single $singleRecall")
    // and every query now surfaces a full top-5 (64 buckets x 500 docs can
    // leave a lone bucket short; 7 probes should not)
    assert(multi.forall { case (_, s) => s.size == 5 }, multi.view.mapValues(_.size).toMap.toString)
  }

  test("semantic dedup: planted twins recovered at SemDeDup's cell-bounded recall") {
    val d = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("q_dedup_semantic")(spark, d)
      .select("vec_id", "keeper").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // every planted twin (orig + 1e6, cos ~0.98 to its original) that lands
    // in its original's cell must be dropped with the original as keeper;
    // cell-boundary misses are the method's documented recall limit, so pin
    // a floor rather than exactness — and NO original may ever be dropped
    // in favor of its later twin (keep-first discipline)
    val nTwins = spark.read.parquet(s"$d/embeddings.parquet")
      .filter(col("vec_id") % 5 === 0).count()
    val twinHits = out.count { case (v, k) => v - k == 1000000L }
    assert(twinHits >= (nTwins * 7) / 10, s"twin recall $twinHits/$nTwins below 70%")
    assert(out.forall { case (v, k) => k < v }, "keeper must precede the dropped vector")
  }

  test("filtered ann: every neighbor satisfies the predicate; full top-5 per query") {
    val d = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("q_sim_ann_filtered")(spark, d)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val evenLabels = spark.read.parquet(s"$d/embeddings.parquet")
      .filter(col("label") % 2 === 0)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // pre-filter correctness: an ineligible vector must NEVER surface —
    // the failure mode post-filtering silently allows when k is refilled
    assert(out.nonEmpty && out.forall { case (_, n) => evenLabels.contains(n) },
      s"odd-label neighbor leaked: ${out.filterNot(p => evenLabels.contains(p._2)).take(3)}")
    // ~50% selectivity leaves every probed cell populated: top-5 fills
    val perQuery = out.groupBy(_._1).view.mapValues(_.size).toMap
    assert(perQuery.values.forall(_ == 5), perQuery.toString)
  }

  test("filtered ann crossover: pre-filter fills top-k where post-filter under-fills on a sparse predicate") {
    import graft.queries.SimilarityQueries
    val d = "/root/testdata/sf0.001"

    def perQueryCounts(df: org.apache.spark.sql.DataFrame): Map[Long, Int] =
      df.select("query_id").collect().map(_.getLong(0))
        .groupBy(identity).view.mapValues(_.size).toMap

    // ~50% selectivity (label % 2): the mild regime where BOTH strategies
    // fill top-5 — and where pre-filter still wins on guarantees: every
    // pre-filter neighbor is eligible by construction (pinned in the
    // filtered-ann test above); post-filter matches that only because the
    // over-fetch happened to carry >= 5 eligible rows per query
    val post50 = perQueryCounts(SimilarityQueries.annPostFilterFrame(spark, d, 2, 20))
    assert(post50.values.forall(_ == 5), s"mild selectivity should fill: $post50")

    // recall vs the FILTERED brute-force ground truth (top-5 by cosine among
    // eligible vectors): pre-filter ranks the entire eligible segment through
    // its own cells, post-filter sees only eligible rows that survived the
    // unfiltered top-20 — its candidate set is a subset, so recall can only
    // be <= pre-filter's. Pin the direction.
    val e = spark.read.parquet(s"$d/embeddings.parquet")
      .select(col("vec_id"), col("label"), graft.functions.VectorFunctions.l2Normalize(
        col("embedding").cast("array<double>")).as("emb"))
    val q = e.filter(col("vec_id") < 5).select(col("vec_id").as("query_id"), col("emb").as("qemb"))
    val wTruth = Window.partitionBy("query_id").orderBy(desc("cos_sim"), asc("neighbor_id"))
    val truth = e.filter(col("label") % 2 === 0).crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(graft.functions.VectorFunctions.dot(col("emb"), col("qemb")), 6).as("cos_sim"))
      .withColumn("rn", row_number().over(wTruth)).filter(col("rn") <= 5)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      (got & truth).size.toDouble / truth.size
    }
    val recallPre = recall(SimilarityQueries.annPreFilterFrame(spark, d, 2))
    val recallPost = recall(SimilarityQueries.annPostFilterFrame(spark, d, 2, 20))
    assert(recallPre >= recallPost,
      s"pre-filter recall $recallPre must be >= post-filter $recallPost at ~50% selectivity")

    // SPARSE predicate (label % 10 = 0, ~11% of the corpus): the unfiltered
    // top-20 over-fetch carries ~2 eligible rows per query, so post-filter
    // UNDER-FILLS top-5 — the documented failure mode of rank-then-discard.
    // Pre-filter on the same predicate indexes only the eligible segment and
    // fills strictly more result slots.
    val postSparse = perQueryCounts(SimilarityQueries.annPostFilterFrame(spark, d, 10, 20))
    val postSlots = postSparse.values.sum
    assert(postSparse.isEmpty || postSparse.values.exists(_ < 5) || postSparse.size < 5,
      s"sparse post-filter should under-fill somewhere: $postSparse")
    val preSparse = perQueryCounts(SimilarityQueries.annPreFilterFrame(spark, d, 10))
    val preSlots = preSparse.values.sum
    assert(preSlots > postSlots,
      s"pre-filter must fill more slots than post-filter when sparse: $preSlots vs $postSlots")
  }

  test("ivf ann: scores exact for returned pairs, bounded shape, decent recall") {
    val d = "/root/testdata/sf0.001"
    val ivf = SparkEntry.queries("q_sim_ivf_ann")(spark, d)
      .select("query_id", "neighbor_id", "cos_sim", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    // brute-force ALL cosines with the same normalization + rounding
    val e = spark.read.parquet(s"$d/embeddings.parquet")
      .select(col("vec_id"), graft.functions.VectorFunctions.l2Normalize(
        col("embedding").cast("array<double>")).as("emb"))
    val q = e.filter(col("vec_id") < 5).select(col("vec_id").as("query_id"), col("emb").as("qemb"))
    val allCos = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(graft.functions.VectorFunctions.dot(col("emb"), col("qemb")), 6).as("cos_sim"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // every returned score is the TRUE cosine (IVF narrows candidates, never distorts scores)
    ivf.foreach { case (qid, nid, cos, _) => assert(allCos((qid, nid)) == cos) }
    // shape: <=5 per query, rn descending in cos
    ivf.groupBy(_._1).foreach { case (_, rows) =>
      assert(rows.length <= 5)
      assert(rows.sortBy(_._4).map(_._3).sliding(2).forall(p => p.length < 2 || p(0) >= p(1)))
    }
    // recall@5 vs brute force (deterministic data + centroids => stable)
    val bruteTop = allCos.toSeq.groupBy(_._1._1).map { case (qid, m) =>
      qid -> m.sortBy { case ((_, nid), c) => (-c, nid) }.take(5).map(_._1._2).toSet
    }
    val hits = ivf.count { case (qid, nid, _, _) => bruteTop(qid).contains(nid) }
    val recall = hits.toDouble / bruteTop.values.map(_.size).sum
    assert(recall >= 0.5, s"recall@5 = $recall")
  }

  test("lsh ann: scores exact for returned pairs, bounded shape") {
    val d = "/root/testdata/sf0.001"
    val lsh = SparkEntry.queries("q_sim_lsh_ann")(spark, d)
      .select("query_id", "neighbor_id", "cos_sim", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    assert(lsh.nonEmpty)
    val e = spark.read.parquet(s"$d/embeddings.parquet")
      .select(col("vec_id"), graft.functions.VectorFunctions.l2Normalize(
        col("embedding").cast("array<double>")).as("emb"))
    val q = e.filter(col("vec_id") < 5).select(col("vec_id").as("query_id"), col("emb").as("qemb"))
    val allCos = e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(graft.functions.VectorFunctions.dot(col("emb"), col("qemb")), 6).as("cos_sim"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    lsh.foreach { case (qid, nid, cos, _) => assert(allCos((qid, nid)) == cos) }
    lsh.groupBy(_._1).foreach { case (_, rows) => assert(rows.length <= 5) }
  }

  test("vec_dot, bitmap_jaccard, lex_stats usable from SQL via extensions") {
    val rows = spark.sql(
      """SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d,
                bitmap_jaccard(array(1L, 2L), array(1L, 1L)) AS j,
                lex_stats('a a b') AS ls""").collect()
    assert(rows.head.getDouble(0) == 11.0)
    assert(math.abs(rows.head.getDouble(1) - 1.0 / 3) < 1e-12)
    assert(rows.head.getSeq[Long](2) == Seq(2L, 5L, 3L)) // types 2, 2²+1², 3 tokens
  }

  test("streaming sessionize: sessions emit on event-time timeout") {
    val base = java.nio.file.Files.createTempDirectory("graft_sess").toString
    def writeFile(name: String, lines: String): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(base, name), lines)
    writeFile("b1.json",
      """{"user_id": 1, "ts": "2020-01-01T10:00:00.000Z"}
        |{"user_id": 1, "ts": "2020-01-01T10:00:30.000Z"}
        |""".stripMargin)

    val schema = "user_id LONG, ts TIMESTAMP"
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).json(base)
      // file sink (memory sink can't resume from a checkpoint)
      val q = Sessionize.sessionizeStream(stream, gapSeconds = 60, watermark = "0 seconds")
        .writeStream.format("json").outputMode("append")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    runOnce() // batch 1: open session for user 1, watermark = 10:00:30
    // batch 2: much later event pushes the watermark past 10:00:30 + 60s
    writeFile("b2.json", """{"user_id": 2, "ts": "2020-01-01T12:00:00.000Z"}""" + "\n")
    runOnce()
    runOnce() // one more drain for the timeout batch if needed
    val out = spark.read.json(s"$base/out")
      .selectExpr("user_id", "n_events", "duration_s").collect()
    assert(out.exists(r => r.getLong(0) == 1 && r.getLong(1) == 2 && r.getLong(2) == 30),
      s"expected user 1 session, got: ${out.mkString(", ")}")
  }

  test("custom sessionize agrees with Spark's built-in session_window on real events") {
    // third independent implementation (after the DuckDB islands oracle):
    // Spark's own gap-based session_window must produce the identical
    // (user, start, n_events, duration) set on the sf0.001 events table
    import org.apache.spark.sql.functions._
    val d = "/root/testdata/sf0.001"
    val ev = graft.queries.Tables.events(spark, d).select(col("user_id"), col("ts"))
    val custom = Sessionize.sessionize(ev, gapSeconds = 7200).toDF()
      .select(col("user_id"), col("session_start_micros"), col("n_events"), col("duration_s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(identity).toSeq
    val builtin = ev
      .groupBy(col("user_id"), session_window(col("ts"), "7200 seconds").as("w"))
      .agg(count(lit(1)).as("n"), min(col("ts")).as("t0"), max(col("ts")).as("t1"))
      .select(
        col("user_id"), unix_micros(col("t0")).as("start"), col("n"),
        ((unix_micros(col("t1")) - unix_micros(col("t0"))) / 1000000L).cast("long").as("dur"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(identity).toSeq
    assert(custom.nonEmpty && custom == builtin)
  }

  test("custom sessionize agrees with session_window on exact-gap boundary ties") {
    // The real-events parity test above can never see a tie (micros
    // timestamps virtually never land exactly gap apart), so the one
    // comparison against a Spark built-in was blind at the timeout
    // boundary. Planted ties pin it: BOTH implementations merge an event
    // arriving exactly gap after the previous one (custom: ts - last <=
    // gap; session_window: windows [t, t+gap) merge when next.start <=
    // prev.end), and split at gap + 1 microsecond.
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    val gapUs = 60L * 1000000L
    val rows = Seq(
      (1L, 0L), (1L, gapUs), (1L, 2 * gapUs), // exact-tie chain -> 1 session
      (2L, 0L), (2L, gapUs + 1L),             // 1 us past the gap -> split
      (3L, 5L),                               // singleton
      (4L, 2 * gapUs), (4L, gapUs), (4L, 0L)) // tie chain arriving out of order
    val ev = rows.toDF("user_id", "us")
      .select(col("user_id"), timestamp_micros(col("us")).as("ts"))
    val custom = Sessionize.sessionize(ev, gapSeconds = 60).toDF()
      .select(col("user_id"), col("session_start_micros"), col("n_events"), col("duration_s"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(identity).toSeq
    val builtin = ev
      .groupBy(col("user_id"), session_window(col("ts"), "60 seconds").as("w"))
      .agg(count(lit(1)).as("n"), min(col("ts")).as("t0"), max(col("ts")).as("t1"))
      .select(
        col("user_id"), unix_micros(col("t0")).as("start"), col("n"),
        ((unix_micros(col("t1")) - unix_micros(col("t0"))) / 1000000L).cast("long").as("dur"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(identity).toSeq
    assert(custom == builtin, s"custom=$custom builtin=$builtin")
    // and the tie semantics explicitly: users 1 and 4 collapse to ONE
    // session spanning 2 gaps; user 2 splits
    assert(custom.count(_._1 == 1L) == 1 && custom.find(_._1 == 1L).get._3 == 3L)
    assert(custom.count(_._1 == 4L) == 1 && custom.find(_._1 == 4L).get._4 == 120L)
    assert(custom.count(_._1 == 2L) == 2)
  }

  test("streaming sessionize: pre-session late chains emit eagerly (pinned deviation from batch replay)") {
    // DOCUMENTED DEVIATION (see Sessionize.fold): a late event more than a
    // gap before the open session's start is emitted as its own closed
    // session at the END of its micro-batch — the single-slot state cannot
    // hold two open sessions. If a LATER micro-batch brings another
    // in-watermark event within a gap of it, batch replay would merge the
    // two into one session; streaming emits them separately. This pins the
    // split so the divergence is an explicit contract, not a surprise.
    val base = java.nio.file.Files.createTempDirectory("graft_sess_chain").toString
    def writeFile(name: String, lines: String): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(base, name), lines)
    val schema = "user_id LONG, ts TIMESTAMP"
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).json(base)
      val q = Sessionize.sessionizeStream(stream, gapSeconds = 100, watermark = "6 hours")
        .writeStream.format("json").outputMode("append")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    // batch 1 opens a session at 12:00; batches 2 and 3 each deliver one
    // late event hours before it, 30 s apart ACROSS batches
    writeFile("b1.json", """{"user_id": 1, "ts": "2020-01-01T12:00:00.000Z"}""" + "\n")
    runOnce()
    writeFile("b2.json", """{"user_id": 1, "ts": "2020-01-01T10:00:00.000Z"}""" + "\n")
    runOnce()
    writeFile("b3.json", """{"user_id": 1, "ts": "2020-01-01T10:00:30.000Z"}""" + "\n")
    runOnce()
    writeFile("b4.json", """{"user_id": 2, "ts": "2020-01-02T00:00:00.000Z"}""" + "\n")
    runOnce()
    runOnce()
    val out = spark.read.json(s"$base/out")
      .selectExpr("user_id", "n_events", "duration_s").collect()
    val user1 = out.filter(_.getLong(0) == 1)
    // streaming: the two late events emit as two n=1 sessions + the 12:00 one
    assert(user1.length == 3, s"expected THREE user-1 sessions, got: ${out.mkString(", ")}")
    assert(user1.count(r => r.getLong(1) == 1 && r.getLong(2) == 0) == 3)
    // batch replay over the same events merges the 30s-apart late pair
    val s = spark
    import s.implicits._
    val replay = Sessionize.sessionize(
      Seq(
        (1L, java.sql.Timestamp.valueOf("2020-01-01 12:00:00")),
        (1L, java.sql.Timestamp.valueOf("2020-01-01 10:00:00")),
        (1L, java.sql.Timestamp.valueOf("2020-01-01 10:00:30"))).toDF("user_id", "ts"),
      gapSeconds = 100).collect().filter(_.user_id == 1L)
    assert(replay.length == 2 && replay.exists(r => r.n_events == 2 && r.duration_s == 30),
      s"batch replay should merge the late pair: ${replay.mkString(", ")}")
  }

  test("streaming sessionize: late-but-in-watermark event merges without splitting the session") {
    val base = java.nio.file.Files.createTempDirectory("graft_sess_late").toString
    def writeFile(name: String, lines: String): Unit =
      java.nio.file.Files.writeString(java.nio.file.Paths.get(base, name), lines)
    val schema = "user_id LONG, ts TIMESTAMP"
    def runOnce(): Unit = {
      val stream = spark.readStream.schema(schema).json(base)
      // 1 h watermark: batch-2's 09:59:55 event is late but NOT dropped
      val q = Sessionize.sessionizeStream(stream, gapSeconds = 100, watermark = "1 hour")
        .writeStream.format("json").outputMode("append")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
    }
    // batch 1 opens the session at 10:00:00
    writeFile("b1.json", """{"user_id": 1, "ts": "2020-01-01T10:00:00.000Z"}""" + "\n")
    runOnce()
    // batch 2: one event EARLIER than the open session (in-watermark late) and
    // one 98 s after the ORIGINAL last — a single session iff the late event
    // did not drag `last` backward (the pre-fix bug closed it with a negative
    // duration and split the run in two)
    writeFile("b2.json",
      """{"user_id": 1, "ts": "2020-01-01T09:59:55.000Z"}
        |{"user_id": 1, "ts": "2020-01-01T10:01:38.000Z"}
        |""".stripMargin)
    runOnce()
    // far-future event advances the watermark past the timeout -> emit
    writeFile("b3.json", """{"user_id": 2, "ts": "2020-01-01T14:00:00.000Z"}""" + "\n")
    runOnce()
    runOnce()
    val out = spark.read.json(s"$base/out")
      .selectExpr("user_id", "n_events", "duration_s").collect()
    val user1 = out.filter(_.getLong(0) == 1)
    assert(user1.length == 1, s"expected ONE user-1 session, got: ${out.mkString(", ")}")
    assert(user1.head.getLong(1) == 3 && user1.head.getLong(2) == 103, // 09:59:55 -> 10:01:38
      s"expected n=3 dur=103, got: ${user1.head}")
  }

  test("stored benchmark filter: scrub serves the in-query verdicts from disk, republish atomic") {
    import graft.operators.Decontamination
    import org.apache.spark.sql.functions.col
    val s = spark
    val d = "/root/testdata/sf0.001"
    val dir = java.nio.file.Files.createTempDirectory("graft_bloom").toString + "/filter"
    val docs = s.read.parquet(s"$d/documents.parquet")
    Decontamination.buildFilter(s, docs.filter(col("doc_id") % 10 >= 9), dir)
    def served() = Decontamination.scrub(s, docs.filter(col("doc_id") % 10 < 9), dir)
      .selectExpr("doc_id", "n_ngrams", "bloom_hits", "exact_hits")
      .collect().map(_.toString).sorted.toSeq
    val stored = served()
    val inline = SparkEntry.queries("q_contamination_bloom")(s, d)
      .selectExpr("doc_id", "n_ngrams", "bloom_hits", "exact_hits")
      .collect().map(_.toString).sorted.toSeq
    assert(stored.nonEmpty && stored == inline,
      "stored-filter scrub diverges from the inline-trained query")
    // rebuilding over the published filter swaps atomically and serves the same
    Decontamination.buildFilter(s, docs.filter(col("doc_id") % 10 >= 9), dir)
    assert(served() == stored)
  }

  test("bloom decontamination: flagged set is a strict superset with zero false negatives") {
    val s = spark
    val d = "/root/testdata/sf0.001"
    val rows = SparkEntry.queries("q_contamination_bloom")(s, d)
      .selectExpr("n_ngrams", "bloom_hits", "exact_hits", "fp_hits").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (n, bloom, exact, fp) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(bloom >= exact, s"bloom dropped a real hit: $r") // no false negatives
      assert(fp == bloom - exact && fp >= 0 && bloom <= n, s"inconsistent counts: $r")
    }
    // exact_hits must equal the ground-truth n-gram equi-join (the shape
    // q_contamination uses, in the train-scrub direction) — the bloom is a
    // prefilter, never a semantics change
    import org.apache.spark.sql.functions._
    val n = 4
    val docs = s.read.parquet(s"$d/documents.parquet")
      .select(col("doc_id"),
        when(col("doc_id") % 10 < 9, "train").otherwise("eval").as("split"),
        split(col("text"), " ").as("toks"))
      .filter(size(col("toks")) >= n)
    val grams = docs.select(col("doc_id"), col("split"),
      explode(transform(sequence(lit(0), size(col("toks")) - n, lit(1)),
        i => array_join(slice(col("toks"), i + 1, lit(n)), " "))).as("ng"))
    val truth = grams.filter(col("split") === "train").select("doc_id", "ng").distinct()
      .join(grams.filter(col("split") === "eval").select("ng").distinct(), Seq("ng"), "leftsemi")
      .groupBy("doc_id").agg(count(lit(1)).as("truth_hits"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = SparkEntry.queries("q_contamination_bloom")(s, d)
      .selectExpr("doc_id", "exact_hits").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).filter(_._2 > 0).toMap
    assert(got == truth, s"exact_hits diverge from ground truth: got=$got truth=$truth")
  }

  test("incremental dataset card: three snapshot updates reproduce the from-scratch card bit for bit") {
    import graft.operators.DatasetCard
    val sf = "/root/testdata/sf0.001"
    val cardDir = java.nio.file.Files.createTempDirectory("graft_card").toString + "/card"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    // three monotonic crawl snapshots covering the corpus
    DatasetCard.update(spark, docs.filter(col("doc_id") < 150), cardDir)
    DatasetCard.update(spark, docs.filter(col("doc_id") >= 150 && col("doc_id") < 300), cardDir)
    // an at-least-once replay of snapshot 2 plus the tail in one batch:
    // the boundary drops the replayed rows, the tail lands once
    DatasetCard.update(spark, docs.filter(col("doc_id") >= 150), cardDir)
    val incremental = DatasetCard.card(spark, cardDir).collect().map(_.toString).toSeq
    val scratch = SparkEntry.queries("q_train_dataset_card")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(incremental.nonEmpty && incremental == scratch,
      s"inc=${incremental.take(3)} scratch=${scratch.take(3)}")
    // the card itself reads partials only — never the documents table
    val plan = DatasetCard.card(spark, cardDir).queryExecution.executedPlan.toString
    assert(!plan.contains("documents.parquet"), plan.take(400))
    // a fully-replayed snapshot is a no-op
    DatasetCard.update(spark, docs.filter(col("doc_id") < 300), cardDir)
    assert(DatasetCard.card(spark, cardDir).collect().map(_.toString).toSeq == scratch,
      "replayed snapshot changed the card")
  }

  // -------------------------------------------------------------------------
  // SignatureStore: one lifecycle for the three incremental-dedup artifacts
  // -------------------------------------------------------------------------

  private def wordSets(rows: Seq[(Long, String)]) = {
    val s = spark
    import s.implicits._
    rows.toDF("doc_id", "text")
      .select(col("doc_id"), array_distinct(split(col("text"), " ")).as("ws"))
  }

  test("signature store (minhash bands): replay-idempotent append, erase sticks, scrub can't match erased content") {
    import graft.operators.SignatureStore
    import graft.queries.DedupQueries
    val dir = java.nio.file.Files.createTempDirectory("graft_sigstore_mh").toString + "/store"
    val corpus = Seq(
      1L -> "alpha beta gamma delta epsilon",
      2L -> "one two three four five",
      3L -> "red green blue yellow purple")
    SignatureStore.build(spark, DedupQueries.minhashBandTable(wordSets(corpus)), dir)
    val n0 = SignatureStore.read(spark, dir).count()
    assert(n0 > 0)
    // replayed append of already-stored docs is a no-op
    SignatureStore.append(spark, DedupQueries.minhashBandTable(wordSets(corpus)), dir)
    assert(SignatureStore.read(spark, dir).count() == n0, "append replay duplicated signatures")
    // a delta that word-shuffles doc 1 matches it through the store...
    val delta = wordSets(Seq(10L -> "epsilon delta gamma beta alpha"))
    val before = DedupQueries.incrementalDups(delta, SignatureStore.read(spark, dir))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(before.toSeq == Seq((10L, 1L)))
    // ...until doc 1 is erased: rows gone, the same crawl matches nothing
    assert(SignatureStore.delete(spark, dir, Seq(1L)) == n0 / 3)
    assert(DedupQueries.incrementalDups(delta, SignatureStore.read(spark, dir)).isEmpty,
      "erased document still matchable through the store")
    // an append replay cannot resurrect it
    SignatureStore.append(spark, DedupQueries.minhashBandTable(wordSets(corpus)), dir)
    assert(SignatureStore.read(spark, dir).filter(col("doc_id") === 1L).count() == 0L,
      "append replay resurrected erased signatures")
    // neither can a full rebuild of the same corpus
    SignatureStore.build(spark, DedupQueries.minhashBandTable(wordSets(corpus)), dir)
    assert(SignatureStore.read(spark, dir).filter(col("doc_id") === 1L).count() == 0L,
      "rebuild resurrected erased signatures")
    // pre-signing erasure: delete an id with no rows yet, then append it
    assert(SignatureStore.delete(spark, dir, Seq(99L)) == 0L)
    SignatureStore.append(spark,
      DedupQueries.minhashBandTable(wordSets(Seq(99L -> "zz yy xx ww vv"))), dir)
    assert(SignatureStore.read(spark, dir).filter(col("doc_id") === 99L).count() == 0L,
      "pre-signing erase request dropped")
    // swap hygiene
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/../.store.building")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$dir/../.store.previous")))
  }

  test("signature store: orphaned uncommitted delta is invisible to read(), scrubbed by the next append, and cannot swallow its rows (r15 review)") {
    import graft.operators.SignatureStore
    import graft.queries.DedupQueries
    val dir = java.nio.file.Files.createTempDirectory("graft_sigstore_orphan").toString + "/store"
    SignatureStore.build(spark,
      DedupQueries.minhashBandTable(wordSets(Seq(1L -> "alpha beta gamma delta epsilon"))), dir)
    SignatureStore.append(spark,
      DedupQueries.minhashBandTable(wordSets(Seq(2L -> "one two three four five"))), dir)
    val committed = SignatureStore.committedBatch(spark, dir)
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // simulate append A crashing AFTER its delta publish, BEFORE its commit
    // swap: plant doc 666's rows as delta-b<committed+1>-0.parquet in the
    // bucket doc 777's rows will also target (the name-collision scenario)
    val k777 = math.floorMod(
      org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(777L, 42), SignatureStore.Buckets)
    val orphanRows = DedupQueries.minhashBandTable(wordSets(Seq(666L -> "zz yy xx ww vv")))
    val tmp = new org.apache.hadoop.fs.Path(s"$dir/../orphan_stage")
    orphanRows.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = fs.listStatus(tmp).map(_.getPath)
      .find(_.getName.endsWith(".parquet")).get
    val orphanName = f"delta-b${committed + 1}%019d-0.parquet"
    val bucketDir = new org.apache.hadoop.fs.Path(s"$dir/sigs/graft_bucket=$k777")
    assert(fs.rename(part, new org.apache.hadoop.fs.Path(bucketDir, orphanName)))
    // (1) the torn window is INVISIBLE: read() gates delta files by cursor
    assert(SignatureStore.read(spark, dir).filter(col("doc_id") === 666L).count() == 0L,
      "uncommitted orphan delta visible to read()")
    // (2) the next append scrubs the orphan instead of colliding with it:
    // every row of doc 777's delta must land (old behavior: the bucket-k777
    // file was skipped-as-existing and its rows silently swallowed)
    val sig777 = DedupQueries.minhashBandTable(wordSets(Seq(777L -> "p q r s t")))
    val expect777 = sig777.count()
    SignatureStore.append(spark, sig777, dir)
    assert(SignatureStore.read(spark, dir).filter(col("doc_id") === 777L).count()
      == expect777, "append rows swallowed by an orphaned delta file")
    assert(SignatureStore.read(spark, dir).filter(col("doc_id") === 666L).count() == 0L,
      "orphan rows resurrected by a later commit")
  }

  test("signature store: ad-hoc and batch-stamped appends may not mix silently (r15 review)") {
    import graft.operators.SignatureStore
    import graft.queries.DedupQueries
    val dir = java.nio.file.Files.createTempDirectory("graft_sigstore_mix").toString + "/store"
    SignatureStore.build(spark,
      DedupQueries.minhashBandTable(wordSets(Seq(1L -> "alpha beta gamma delta epsilon"))), dir)
    // ad-hoc append advances the shared cursor to 0 and stamps the marker
    SignatureStore.append(spark,
      DedupQueries.minhashBandTable(wordSets(Seq(2L -> "one two three four five"))), dir)
    assert(SignatureStore.committedBatch(spark, dir) == 0L)
    // a batch-stamped append whose id the ad-hoc cursor already covers is a
    // LIVE batch about to be swallowed as a replay — must fail loudly
    val err = intercept[IllegalStateException](
      SignatureStore.append(spark,
        DedupQueries.minhashBandTable(wordSets(Seq(3L -> "red green blue yellow purple"))),
        dir, batchId = Some(0L)))
    assert(err.getMessage.contains("AD-HOC"), err.getMessage)
    // a batch id ABOVE the cursor proceeds — and the marker stays STICKY
    // (r16 ADVICE): on a store an ad-hoc append has ever touched, an
    // at/below-cursor batch id is indistinguishable from a live batch
    // being swallowed, so even a true replay fails loudly
    SignatureStore.append(spark,
      DedupQueries.minhashBandTable(wordSets(Seq(3L -> "red green blue yellow purple"))),
      dir, batchId = Some(1L))
    val n = SignatureStore.read(spark, dir).count()
    val err2 = intercept[IllegalStateException](
      SignatureStore.append(spark,
        DedupQueries.minhashBandTable(wordSets(Seq(3L -> "red green blue yellow purple"))),
        dir, batchId = Some(1L)))
    assert(err2.getMessage.contains("AD-HOC"), err2.getMessage)
    assert(SignatureStore.read(spark, dir).count() == n)
    // only build()'s whole-root rebuild retires the marker: afterwards the
    // pure batch-stamped discipline (replay = silent no-op) is back
    SignatureStore.build(spark, SignatureStore.read(spark, dir), dir)
    SignatureStore.append(spark,
      DedupQueries.minhashBandTable(wordSets(Seq(4L -> "six seven eight nine ten"))),
      dir, batchId = Some(5L))
    val n2 = SignatureStore.read(spark, dir).count()
    SignatureStore.append(spark,
      DedupQueries.minhashBandTable(wordSets(Seq(4L -> "six seven eight nine ten"))),
      dir, batchId = Some(5L))
    assert(SignatureStore.read(spark, dir).count() == n2)
  }

  test("signature store (substring windows): shared windows survive an erase through OTHER docs only") {
    import graft.operators.SignatureStore
    import graft.queries.DedupQueries
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sigstore_ss").toString + "/store"
    // docs 1 and 2 SHARE the window "c1 c2 c3 c4 c5"; doc 1 alone holds
    // "u1 u2 u3 u4 u5"
    def docs(rows: Seq[(Long, String)]) =
      rows.toDF("doc_id", "text").select(col("doc_id"), split(col("text"), " ").as("ws"))
    val corpus = docs(Seq(
      1L -> "u1 u2 u3 u4 u5 c1 c2 c3 c4 c5",
      2L -> "c1 c2 c3 c4 c5 k1 k2 k3 k4 k5"))
    SignatureStore.build(spark, DedupQueries.substringWindowPairs(corpus), dir)
    def scrub(text: String) = DedupQueries.substringScrubStream(
      docs(Seq(50L -> text)), SignatureStore.read(spark, dir).select("gh")).count()
    assert(scrub("u1 u2 u3 u4 u5") == 1L)
    assert(scrub("c1 c2 c3 c4 c5") >= 1L)
    // erase doc 1: its UNIQUE window stops matching; the SHARED window
    // still matches because doc 2 legitimately carries that content
    assert(SignatureStore.delete(spark, dir, Seq(1L)) > 0L)
    assert(scrub("u1 u2 u3 u4 u5") == 0L, "erased doc's unique window still matchable")
    assert(scrub("c1 c2 c3 c4 c5") >= 1L, "shared window lost — erase over-reached")
  }

  test("signature store (embedding bands): erased vector unmatchable, delta append idempotent") {
    import graft.operators.SignatureStore
    import graft.queries.SimilarityQueries
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_sigstore_eb").toString + "/store"
    val raw = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    SignatureStore.build(spark, SimilarityQueries.embedBandTable(raw), dir, idCol = "vec_id")
    val n0 = SignatureStore.read(spark, dir).count()
    // a delta that IS corpus vector 7 (new id) matches it through the store
    val probe = raw.filter(col("vec_id") === 7L).select(lit(70000L).as("vec_id"), col("embedding"))
    def matches() = SimilarityQueries.embedScrubStream(probe, SignatureStore.read(spark, dir))
      .filter(col("match_id") === 7L).count()
    assert(matches() >= 1L)
    // erase vector 7: the identical delta can no longer match it
    assert(SignatureStore.delete(spark, dir, Seq(7L), idCol = "vec_id") > 0L)
    assert(matches() == 0L, "erased vector still matchable through the band store")
    // append replay of the full corpus bands: no duplicates, no resurrection
    SignatureStore.append(spark, SimilarityQueries.embedBandTable(raw), dir, idCol = "vec_id")
    val after = SignatureStore.read(spark, dir)
    assert(after.filter(col("vec_id") === 7L).count() == 0L, "append resurrected erased bands")
    assert(after.count() == n0 - SimilarityQueries.embedBandTable(
      raw.filter(col("vec_id") === 7L)).count(), "append replay duplicated band rows")
  }

  test("packing store: uncommitted orphan delta invisible to read(), scrubbed before the next publish (r15 review)") {
    import graft.operators.{PackingStore, StoreCommit}
    import org.apache.hadoop.fs.Path
    val s = spark
    import s.implicits._
    def doc(id: Long, lang: String, nWords: Int) =
      (id, lang, Seq.fill(nWords)("w").mkString(" "))
    val dir = java.nio.file.Files.createTempDirectory("graft_pack_orphan").toString + "/packing"
    PackingStore.build(spark,
      Seq(doc(1, "en", 300), doc(2, "en", 200)).toDF("doc_id", "lang", "text"), dir)
    val fs = StoreCommit.fsOf(spark, new Path(dir))
    // simulate batch 1 crashing between delta publish and cursors swap:
    // plant a delta-b1 file holding doc 666's assignment rows
    val orphan = PackingStore.read(spark, dir).limit(1)
      .withColumn("doc_id", org.apache.spark.sql.functions.lit(666L))
    val tmp = new Path(s"$dir/../pack_orphan_stage")
    orphan.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = fs.listStatus(tmp).map(_.getPath).find(_.getName.endsWith(".parquet")).get
    val k666 = math.floorMod(
      org.apache.spark.unsafe.hash.Murmur3_x86_32.hashLong(666L, 42), PackingStore.Buckets)
    assert(fs.rename(part,
      new Path(s"$dir/assignments/graft_bucket=$k666/delta-b${"%019d".format(1L)}-0.parquet")))
    // invisible to readers (cursor still at batch 0)...
    assert(PackingStore.read(spark, dir).filter(col("doc_id") === 666L).count() == 0L,
      "uncommitted orphan delta visible to read()")
    // ...and scrubbed when the REAL batch 1 arrives, whose own rows all land
    PackingStore.append(spark,
      Seq(doc(4, "en", 150)).toDF("doc_id", "lang", "text"), dir, batchId = 1L)
    assert(PackingStore.read(spark, dir).filter(col("doc_id") === 4L).count() == 1L,
      "batch rows swallowed by an orphaned delta file")
    assert(PackingStore.read(spark, dir).filter(col("doc_id") === 666L).count() == 0L,
      "orphan rows resurrected by a later commit")
  }

  test("packing store: incremental appends equal the one-shot pack bit-for-bit; replay is a no-op; crash aside restores") {
    import graft.operators.{PackingStore, StoreCommit}
    import org.apache.hadoop.fs.Path
    val s = spark
    import s.implicits._
    def doc(id: Long, lang: String, nWords: Int) =
      (id, lang, Seq.fill(nWords)("w").mkString(" "))
    // shard "en": 300+200+150 tokens crosses several 256-budgets; "de"
    // exercises the base-offset path from a different cursor state
    val b0 = Seq(doc(1, "en", 300), doc(2, "en", 200), doc(3, "de", 100))
      .toDF("doc_id", "lang", "text")
    val b1 = Seq(doc(4, "en", 150), doc(5, "de", 400))
      .toDF("doc_id", "lang", "text")
    val dir = java.nio.file.Files.createTempDirectory("graft_pack").toString + "/packing"
    PackingStore.build(spark, b0, dir)
    PackingStore.append(spark, b1, dir, batchId = 1L)
    val incr = PackingStore.read(spark, dir)
      .orderBy("lang", "doc_id").collect().map(_.toString).toSeq
    // one-shot pack over the union — the equality target
    PackingStore.build(spark, b0.unionByName(b1), dir + "_ref")
    val ref = PackingStore.read(spark, dir + "_ref")
      .orderBy("lang", "doc_id").collect().map(_.toString).toSeq
    assert(incr == ref,
      s"incremental pack diverged from one-shot:\n$incr\nvs\n$ref")
    // the cursor equals each shard's token total
    val cur = PackingStore.cursors(spark, dir).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(cur == Map("en" -> 650L, "de" -> 500L), cur.toString)
    // replayed batch: a no-op BEFORE computation — content and cursor unchanged
    PackingStore.append(spark, b1, dir, batchId = 1L)
    assert(PackingStore.read(spark, dir).count() == 5L, "replay re-packed rows")
    assert(PackingStore.cursors(spark, dir).collect()
      .map(r => r.getLong(1)).sum == 1150L, "replay moved a cursor")
    // crash inside the swap window: dir gone, aside present -> reader restores
    val fs = StoreCommit.fsOf(spark, new Path(dir))
    fs.rename(new Path(dir), new Path(new Path(dir).getParent, ".packing.previous"))
    assert(PackingStore.read(spark, dir).count() == 5L,
      "reader did not restore from the crash aside")
  }

  test("packing store one-shot build equals the declared q_text_packing row over the documents corpus") {
    import graft.operators.PackingStore
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/documents.parquet").exists())
    val dir = java.nio.file.Files.createTempDirectory("graft_pack_doc").toString + "/packing"
    PackingStore.build(spark,
      spark.read.parquet(s"$sf/documents.parquet").select("doc_id", "lang", "text"), dir)
    val store = PackingStore.read(spark, dir)
      .orderBy("lang", "doc_id").collect().map(_.toString).toSeq
    val declared = SparkEntry.queries("q_text_packing")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(store.nonEmpty && store == declared,
      "store arithmetic diverged from the oracle-checked declared row")
  }

  test("snapshot store: split-invariant CDC fold equals the one-shot merge and the declared row; stale updates fence; replay no-op") {
    import graft.operators.SnapshotStore
    import graft.queries.ChangeDataQueries
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/orders.parquet").exists())
    val base = ChangeDataQueries.cdcBase(spark, sf)
    val chg = ChangeDataQueries.cdcChangelog(spark, sf)
    // the fencing scenario must be non-vacuous: some key carries BOTH the
    // seq-3 update and the seq-4 delete (o_orderkey % 78 == 0)
    assert(chg.filter(col("o_orderkey") % 78 === 0).count() > 0L)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.select(col("o_orderkey"), col("price").cast("double"))
        .orderBy("o_orderkey").collect().map(_.toString).toSeq
    val tmp = java.nio.file.Files.createTempDirectory("graft_snap").toString
    // reference: one-shot apply of the whole changelog
    val ref = s"$tmp/ref"
    SnapshotStore.build(spark, base, ref)
    SnapshotStore.apply(spark, chg, ref, batchId = 1L, keyCol = "o_orderkey")
    // ADVERSARIAL split: the high-seq half (updates seq 3, deletes seq 4)
    // arrives BEFORE the low-seq half (inserts seq 1, updates seq 2), so
    // every row of batch 2 that hits a batch-1 key is stale
    val dir = s"$tmp/ooo"
    SnapshotStore.build(spark, base, dir)
    SnapshotStore.apply(spark, chg.filter(col("seq") > 2), dir,
      batchId = 1L, keyCol = "o_orderkey")
    SnapshotStore.apply(spark, chg.filter(col("seq") <= 2), dir,
      batchId = 2L, keyCol = "o_orderkey")
    assert(rows(SnapshotStore.read(spark, dir)) == rows(SnapshotStore.read(spark, ref)),
      "out-of-order batch split diverged from the one-shot merge")
    // tombstones persist and fence: every %13 key is stored deleted, and
    // none reappears in the live view despite batch 2's stale updates
    val dead = SnapshotStore.readAll(spark, dir).filter(col(SnapshotStore.TombstoneCol))
    assert(dead.filter(col("o_orderkey") % 13 =!= 0).count() == 0L)
    assert(SnapshotStore.read(spark, dir).filter(col("o_orderkey") % 13 === 0).count() == 0L,
      "stale update resurrected a deleted key")
    // replayed batchId: a no-op before any computation
    val before = rows(SnapshotStore.readAll(spark, dir))
    SnapshotStore.apply(spark, chg.filter(col("seq") <= 2), dir,
      batchId = 2L, keyCol = "o_orderkey")
    assert(rows(SnapshotStore.readAll(spark, dir)) == before, "replay mutated the store")
    // the live view equals the oracle-checked declared row (key, price)
    val declared = SparkEntry.queries("q_cdc_upsert")(spark, sf)
      .select(col("o_orderkey"), col("price")).orderBy("o_orderkey")
      .collect().map(_.toString).toSeq
    assert(rows(SnapshotStore.read(spark, ref)) == declared,
      "store merge diverged from the oracle-checked declared row")
  }

  test("history store: chronological appends equal the one-shot q_scd2 rebuild; open intervals merge; replay no-op") {
    import graft.operators.HistoryStore
    val sf = "/root/testdata/sf0.001"
    assume(new java.io.File(s"$sf/events.parquet").exists())
    val ev = graft.queries.Tables.events(spark, sf)
      .select("user_id", "ts", "event_id", "event_type")
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.orderBy("user_id", "version").collect().map(_.toString).toSeq
    val declared = rows(SparkEntry.queries("q_scd2")(spark, sf))
    // three GLOBAL chronological cuts (ts-monotonic per user follows);
    // cut points are ts quantiles so every batch is non-trivial
    val cuts = ev.select(
      percentile_approx(col("ts").cast("long"), lit(0.33), lit(100000)).as("c1"),
      percentile_approx(col("ts").cast("long"), lit(0.66), lit(100000)).as("c2"))
      .head()
    val (c1, c2) = (cuts.getLong(0), cuts.getLong(1))
    val dir = java.nio.file.Files.createTempDirectory("graft_hist").toString + "/hist"
    HistoryStore.append(spark, ev.filter(col("ts").cast("long") <= c1), dir, 0L)
    HistoryStore.append(spark,
      ev.filter(col("ts").cast("long") > c1 && col("ts").cast("long") <= c2), dir, 1L)
    HistoryStore.append(spark, ev.filter(col("ts").cast("long") > c2), dir, 2L)
    val stored = rows(HistoryStore.read(spark, dir))
    assert(stored.nonEmpty && stored == declared,
      s"incremental history diverged from the one-shot rebuild (first diff: ${
        stored.zip(declared).find { case (a, b) => a != b }})")
    // equality above proves every batch boundary that split a same-type
    // run MERGED into the open interval instead of opening a duplicate
    // version — q_scd2's one-shot islands never see the cuts at all.
    // replayed batchId: a no-op
    HistoryStore.append(spark, ev.filter(col("ts").cast("long") > c2), dir, 2L)
    assert(rows(HistoryStore.read(spark, dir)) == stored, "replay mutated the history")
  }
}
