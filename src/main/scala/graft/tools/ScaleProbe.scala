package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling probe: time representative shapes (scan-agg, shuffle join,
  * window) at 1x and Nx the sf0.1 data (Nx = the same parquet unioned N
  * times — same value distributions, N times the rows) and report per-row
  * throughput. Near-constant ns/row across the scale step is the evidence
  * that the plans are data-parallel (no driver bottleneck, no quadratic
  * term) — the local stand-in for the 100 TB claim, where more rows are
  * met with more executors instead of more wall-clock.
  *
  * Run: sbt 'runMain graft.tools.ScaleProbe [sfDir] [replication]'
  */
object ScaleProbe {

  /** Heavy-family scale checkpoint: run the expensive dedup/ANN/fuzzy
    * queries at 1x and Nx the corpus and report wall ratios. Replication is
    * NOT naive row copying — identical copies would turn every document
    * into an exact-dup cluster and every vector into a cosine-1 twin,
    * making the candidate space grow quadratically BY CONSTRUCTION rather
    * than measuring the operator. Each replica is perturbed so the workload
    * scales the way real data does:
    *   - documents: every word SUFFIXED with a replica marker ("a b" ->
    *     "azq3 bzq3") — word and bigram shingle sets become replica-disjoint
    *     while within-replica similarity structure is preserved EXACTLY
    *     (an injected separate marker token would instead collapse bigrams
    *     to word-marker pairs and inflate background bigram Jaccard ~3x —
    *     measured as a spurious 30x ngram blowup before this fix)
    *   - embeddings: deterministic per-(dim, replica) pseudo-noise added
    *     (decorrelates replicas; vec_id < 5 query vectors stay replica-0
    *     originals)
    *   - customer/part: keys remapped key*10+replica — a DENSE 10x keyspace,
    *     the digit shape genuine 10x data would have (a high-digit offset
    *     would zero out the blocking digits the fuzzy join interleaves)
    *
    * Run: sbt 'runMain graft.tools.ScaleProbe heavy [sfDir] [replication]'
    */
  private val HeavyQueries = Seq(
    "q_dedup_minhash", "q_dedup_ngram", "q_dedup_embed_lsh", "q_dedup_spans",
    "q_dedup_substrings", "q_dedup_substrings_apply",
    "q_sim_ivfpq", "q_sim_ivfpq_rerank", "q_sim_ivfpq_residual", "q_sim_binary",
    "q_join_fuzzy", "q_join_fuzzy_varlen",
    "q_text_rep_ngrams", "q_text_bpe_apply", "q_text_dup_ngrams", "q_sim_binary_ivf",
    "q_text_nb_classifier", "q_contamination_bloom",
    "q_text_topics", "q_text_perplexity3", "q_text_perplexity5", "q_mix_quality",
    "q_train_dataset_card",
    // r8: the shuffle-free broadcast-argmax assignment family
    "q_sim_ivf_trained", "q_sim_kmeans", "q_sim_outliers", "q_sim_ivf_ann",
    "q_dedup_semantic",
    // r8 second wave: sketches, containment, hybrid retrieval, event sequences
    "q_dedup_containment", "q_agg_countmin", "q_sim_rrf",
    "q_events_markov", "q_agg_heavy_hitters",
    // r8 third wave: diversity/privacy/sequence/recall family
    "q_text_diversity", "q_privacy_ldiversity", "q_events_sequences",
    "q_sim_recall_eval",
    // r8 fourth wave: profiling/DQ family (events-backed)
    "q_profile_columns", "q_profile_constraints", "q_profile_drift",
    // r8 fifth wave: graph + layout (lineitem-backed, keys remapped *10+i)
    "q_graph_pagerank", "q_maint_zorder",
    // r9: stratified sampler + split audit (documents), regularity (events
    // — disjoint user cohorts, so per-user gap structure is preserved)
    "q_sample_stratified", "q_train_split3", "q_events_regularity",
    "q_sim_ann_filtered",
    // r10: post-filter ANN, multiset set ops + percentile/collect family
    // (orders-backed — orders replicate keys *mult+i like customer), and
    // the unigram trainer (suffixed replica words stay <= maxWordLen 12)
    "q_sim_ann_postfilter", "q_set_intersect_all", "q_set_except_all",
    "q_agg_approx_percentile", "q_agg_collect", "q_agg_histogram",
    "q_text_unigram_train", "q_text_unigram_apply",
    // r10 second wave: error-safe fns + KMV bottom-k (orders-backed),
    // URL + bitwise families (customer-backed)
    "q_try_fns", "q_agg_kmv", "q_string_url", "q_bitwise_fns",
    // r12: lambda/aggregate widening (part/orders/lineitem/events-backed)
    // and the sliding-window chunker (documents). q_array_gen is excluded:
    // it projects the 25-row nation dim — constant-size, nothing to scale.
    "q_array_lambda", "q_map_lambda", "q_window_dist", "q_agg_minmax_by",
    "q_agg_regr", "q_agg_bool", "q_events_json_roundtrip", "q_text_chunking",
    // r12 second wave: string/date/zip widening + the sequence packer
    "q_string_fns2", "q_date_fns2", "q_array_zip", "q_text_packing",
    // r12 third wave: matryoshka two-stage ANN (embeddings) + decorrelated
    // lateral top-k (customer/orders). q_agg_listagg is excluded: it
    // aggregates the 25-row nation dim — constant-size, nothing to scale.
    "q_sim_matryoshka", "q_join_lateral", "q_explode_multi", "q_agg_moments",
    "q_cond_fns", "q_regexp_fns", "q_net_cidr", "q_window_frames",
    "q_encoding_fns", "q_join_nullsafe", "q_agg_bitwise", "q_dedup_url",
    "q_date_tz",
    // r12 sixth wave: warehouse maintenance (CDC merge, SCD2 islands),
    // wide-to-long, time-series interpolation, triangle join, inverted
    // index. All orders/events/part/documents-backed.
    "q_cdc_upsert", "q_scd2", "q_unpivot", "q_events_interpolate",
    "q_graph_triangles", "q_text_inverted_index",
    // r12 seventh wave: bounded-round label propagation (orders-backed
    // referral graph) + comparator-lambda sort (part-backed)
    "q_graph_components", "q_array_sort_lambda",
    // r12 eighth wave: Q5-shaped star join (lineitem/orders facts vs
    // constant dims), robust MAD outlier gate, native session windows
    "q_join_star", "q_agg_mad", "q_window_session",
    // r12 ninth wave: salted skew join (lineitem facts), ORC round-trip
    // (part), forward as-of + trailing-hour range window + t-closeness
    // audit (events)
    "q_join_salted", "q_scan_orc", "q_join_asof_forward",
    "q_window_time_range", "q_privacy_tcloseness",
    // r12 tenth wave: WITH RECURSIVE hierarchy traversal (customer-backed;
    // *mult+i key remap DEEPENS the derived div-10 forest by one level —
    // exactly the recursion-depth growth a 10x corpus should cost)
    "q_recursive_cte",
    // quantifier HOFs (part-backed narrow projection)
    "q_array_quantifiers",
    // r13: the dialect-edge rows — str_to_map payload rip (orders),
    // GROUPS-frame rewrite (orders), JSON accessor family close (events),
    // Bernoulli-sample contract (lineitem)
    "q_map_parse", "q_window_groups", "q_events_json_size",
    "q_scan_tablesample",
    // r14: the dialect-edge rows — Unicode normalize dedup-key (part),
    // Joda-pattern datetime compat (orders), frame-EXCLUDE rewrite
    // (orders), multimap_agg (orders)
    "q_string_normalize", "q_date_presto_fmt", "q_window_exclude",
    "q_agg_multimap",
    // r14 second wave: the full EXCLUDE-mode matrix (orders), hash-rank
    // reservoir sampling (documents), equi-height histogram (orders)
    "q_window_exclude_modes", "q_sample_reservoir", "q_agg_equiheight",
    // r16 (r15 verdict task 3): the remaining BENCH-suite top-20 head
    // queries, so the standing decade probe covers the whole suite head —
    // documents/embeddings/lineitem-backed, all replication-safe
    "q_dedup_cluster_stats", "q_dedup_embed", "q_sim_neardup_pairs",
    "q_math_fns2", "q_sim_sq8", "q_text_bm25", "q_sim_pq_adc",
    // r16 second wave: the dialect-tail rows (part/orders/events-backed)
    "q_unnest_presto", "q_unnest_outer", "q_events_json_presto",
    "q_date_from_unixtime", "q_string_regexp_split", "q_agg_approx_presto",
    // r14 third wave: record-linkage metrics (part), reduce_agg fold
    // (orders), per-user EWMA (events)
    "q_string_metrics", "q_agg_reduce", "q_events_ewma",
    // r14 fourth wave: geometric_mean + entropy aggregates (orders),
    // Presto ngrams (part)
    "q_agg_entropy", "q_array_ngrams",
    // r14 fifth wave: sparse-map cosine self-similarity (documents),
    // MySQL-dialect date_parse (orders)
    "q_map_cosine", "q_date_parse",
    // r15: %-dialect date_format round-trip (orders), Presto url_extract_*
    // spellings (documents), map_union aggregate (orders)
    "q_date_presto_roundtrip", "q_string_url_extract", "q_agg_map_union",
    // r15 second wave: Porter word_stem (documents), strpos/split_part
    // edges (part), ISO-calendar + epoch spellings (orders), encoding
    // round-trips (part), NaN/Infinity classification aggregates
    // (customer), SQ8-vs-exact graded rank eval (embeddings)
    "q_text_word_stem", "q_string_strpos", "q_date_presto_iso",
    "q_encoding_presto", "q_math_presto", "q_sim_rank_eval",
    // r18: HLL sketch spellings + n-ary extrema + ordered array_agg
    // (orders-backed, keys remap *mult+i), registered-ngrams trigrams
    // (documents — suffixed replica words keep trigram sets disjoint)
    "q_agg_approx_set", "q_agg_nary_extrema", "q_agg_array_ordered",
    "q_string_ngrams")

  private val ReplicaIdOffset = 10000000L

  /** Key multiplier for the *mult+i remap: the smallest power of 10 that
    * fits every replica index — at n=10 the historical *10+i, at n=100
    * *100+i (a plain *10+i would COLLIDE replicas: 5*10+1 = 4*10+11). */
  private def keyMult(n: Int): Long =
    Iterator.iterate(10L)(_ * 10).dropWhile(_ < n).next()

  private def buildHeavyCorpus(
      spark: SparkSession, sfDir: String, n: Int, outDir: String,
      tables: Set[String]): Unit = {
    // "supplier" (unreplicated dim) and "supplier_rep" (replicated *mult+i
    // subgraphs) both land at $outDir/supplier.parquet — requesting both
    // used to let the second write silently clobber the first (r12 ADVICE)
    require(!(tables.contains("supplier") && tables.contains("supplier_rep")),
      "tables 'supplier' and 'supplier_rep' are mutually exclusive — both " +
        "write supplier.parquet; pick the one the probed query's join shape needs")
    val mult = keyMult(n)
    def reps(name: String)(perturb: (DataFrame, Int) => DataFrame): Unit = {
      if (!tables.contains(name)) return
      val base = spark.read.parquet(s"$sfDir/$name.parquet")
      (0 until n).map(i => perturb(base, i))
        .reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$outDir/$name.parquet")
    }
    // replica 0 of documents/embeddings is the UNMODIFIED original (queries
    // address vec_id < 5 / specific doc_ids); customer/part remap replica 0
    // too — keys must be disjoint across replicas under the *10+i scheme
    reps("documents") { (d, i) =>
      if (i == 0) d
      else d.select(
        (col("doc_id") + lit(i * ReplicaIdOffset)).as("doc_id"),
        regexp_replace(col("text"), " ", s"zq$i ").as("text"),
        col("lang"), col("source"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    }
    // noise period: (31d + i) mod 101 — prime > 100, so no two replicas
    // below 101 share a noise pattern (the old (7d + 3i) mod 11 repeated
    // every 11 replicas, fine at 10x, cosine-1 twins at 100x)
    reps("embeddings") { (e, i) =>
      if (i == 0) e
      else e.select(
        (col("vec_id") + lit(i * ReplicaIdOffset)).as("vec_id"),
        transform(col("embedding"),
          (x, d) => x + lit(0.05f) *
            ((((d * 31 + lit(i)) * 7) % 101 % 11) - 5).cast("float"))
          .as("embedding"),
        col("label"))
    }
    // events grow by user population: each replica is a disjoint user cohort
    // over the SAME time range — hourly densities rise N-fold (the linear
    // aggregate term) while per-user sequence lengths stay constant (the
    // window term), which is how production event volume actually scales
    reps("events") { (e, i) =>
      if (i == 0) e
      else e.select(
        (col("event_id") + lit(i * ReplicaIdOffset)).as("event_id"),
        col("ts"),
        (col("user_id") + lit(i * ReplicaIdOffset)).as("user_id"),
        col("event_type"), col("value"), col("props"))
    }
    // orders replicas: keys remapped like customer (same *mult+i scheme,
    // so an orders<->customer join at Nx still matches); value columns
    // (status, price, date, priority) keep their distributions — the
    // multiset set ops and percentile family then see N-fold multiplicity
    // growth with an unchanged value distribution, which is how genuine
    // order volume scales
    reps("orders") { (o, i) =>
      o.select(
        (col("o_orderkey") * mult + lit(i)).as("o_orderkey"),
        (col("o_custkey") * mult + lit(i)).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"),
        col("o_orderdate"), col("o_orderpriority"))
    }
    reps("customer") { (c, i) =>
      c.select(
        (col("c_custkey") * mult + lit(i)).as("c_custkey"),
        format_string("Customer#%09d", col("c_custkey") * mult + lit(i)).as("c_name"),
        col("c_nationkey"), col("c_acctbal"), col("c_mktsegment"))
    }
    reps("part") { (p, i) =>
      p.select(
        (col("p_partkey") * mult + lit(i)).as("p_partkey"),
        col("p_name"), col("p_brand"), col("p_type"), col("p_size"), col("p_retailprice"))
    }
    // lineitem replicas remap every key *10+i — the part↔supplier graph
    // becomes 10 DISJOINT subgraphs (more parts, more suppliers, same
    // degree structure), which is how a 10x corpus actually grows; naive
    // row copies would instead multiply every edge weight by 10 and leave
    // the graph size constant
    reps("lineitem") { (li, i) =>
      li.select(
        (col("l_orderkey") * mult + lit(i)).as("l_orderkey"),
        (col("l_partkey") * mult + lit(i)).as("l_partkey"),
        (col("l_suppkey") * mult + lit(i)).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate"))
    }
    // supplier is a pure DIM side (q_join_nullsafe enriches the replicated
    // customer facts against it): copied UNREPLICATED — 10x data means 10x
    // facts against the same dimension table, which is exactly how that
    // join scales in production
    if (tables.contains("supplier"))
      spark.read.parquet(s"$sfDir/supplier.parquet")
        .write.mode("overwrite").parquet(s"$outDir/supplier.parquet")
    // "supplier_rep": supplier as a REPLICATED side instead — disjoint
    // *mult+i subgraphs matching lineitem's l_suppkey remap, so the star
    // join's l_suppkey = s_suppkey edges scale with the corpus the way a
    // real supplier base grows with order volume (q_join_star's shape;
    // mutually exclusive with the unreplicated "supplier" copy)
    if (tables.contains("supplier_rep"))
      (0 until n).map { i =>
        spark.read.parquet(s"$sfDir/supplier.parquet").select(
          (col("s_suppkey") * mult + lit(i)).as("s_suppkey"),
          col("s_name"), col("s_nationkey"), col("s_acctbal"))
      }.reduce(_ unionByName _)
        .write.mode("overwrite").parquet(s"$outDir/supplier.parquet")
    // constant reference dims (25 / 5 rows): copied through whenever a
    // probed query's join spine needs them
    for (dim <- Seq("nation", "region") if tables.contains(dim))
      spark.read.parquet(s"$sfDir/$dim.parquet")
        .write.mode("overwrite").parquet(s"$outDir/$dim.parquet")
  }

  private val AllHeavyTables =
    Set("documents", "embeddings", "events", "customer", "part", "lineitem",
      "orders", "supplier")

  private def heavyMain(args: Array[String]): Unit = {
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val n = args.lift(2).map(_.toInt).getOrElse(10)
    // optional 4th arg: comma-separated subset of HeavyQueries to probe
    val selected = args.lift(3)
      .map(_.split(",").toSet)
      .map(want => HeavyQueries.filter(want.contains))
      .getOrElse(HeavyQueries)
    // optional 5th arg: comma-separated tables to replicate (a 100x build
    // of every table costs minutes and GBs; a targeted probe needs only
    // the tables its queries scan). Defaulted probes of q_join_star get
    // the REPLICATED supplier: its l_suppkey = s_suppkey edge matches
    // lineitem's *mult+i remap only against supplier_rep — against the
    // unreplicated copy ~(n-1)/n of fact suppkeys dangle and the measured
    // ratio is of a mostly-empty join (r12 ADVICE). q_join_nullsafe keeps
    // preferring the unreplicated dim; when both are probed in one
    // defaulted run, star-join correctness of the corpus wins and the
    // nullsafe ratio carries a warning (its dim now grows with n — the
    // conservative direction).
    val defaultTables =
      if (selected.contains("q_join_star")) {
        if (selected.contains("q_join_nullsafe"))
          System.err.println("[scaleprobe] WARNING: q_join_star selected -> " +
            "supplier_rep replaces the unreplicated supplier dim; " +
            "q_join_nullsafe's ratio this run includes an n-growing dim side")
        AllHeavyTables - "supplier" + "supplier_rep"
      } else AllHeavyTables
    val tables = args.lift(4).map(_.split(",").toSet).getOrElse(defaultTables)
    if (selected.contains("q_join_star") && tables.contains("supplier"))
      System.err.println("[scaleprobe] WARNING: q_join_star probed against the " +
        "UNREPLICATED supplier copy — most fact suppkeys dangle at Nx and the " +
        "wall ratio measures a distorted (mostly-empty) join; use supplier_rep")
    // Bench's session: with another broadcast threshold the 1x run can
    // broadcast a side that the 10x run sort-merges, and the wall ratio
    // measures a plan-shape flip instead of the operator's scaling
    val spark = graft.Engine.createSession("graft-scale-probe", graft.Engine.localMaster)
    spark.sparkContext.setLogLevel("WARN")
    val big = s"/tmp/graft_scaleprobe_${n}x"
    buildHeavyCorpus(spark, sfDir, n, big, tables)

    def time(name: String, dir: String): Double = {
      val fn = graft.SparkEntry.queries(name)
      spark.catalog.clearCache()
      fn(spark, dir).write.format("noop").mode("overwrite").save() // warm
      spark.catalog.clearCache()
      // settle the heap before timing (Bench's discipline): without this a
      // heavy neighbor's garbage lands in THIS query's wall clock and 10x
      // ratios read 3-4x high (measured: countmin 39 s contaminated vs
      // 1.7 s in a fresh JVM on the identical 10x corpus)
      System.gc()
      Thread.sleep(500)
      val t0 = System.nanoTime()
      fn(spark, dir).write.format("noop").mode("overwrite").save()
      (System.nanoTime() - t0) / 1e9
    }
    println(s"""{"probe":"heavy_scale","replication":$n,"queries":[""")
    // one failing query (e.g. a table missing from the tables-subset arg)
    // must cost one null line, never abort the probe and discard every
    // completed measurement
    val lines = selected.map { q =>
      try {
        val t1 = time(q, sfDir)
        val tn = time(q, big)
        f"""{"query":"$q","sec_1x":$t1%.2f,"sec_${n}x":$tn%.2f,"wall_ratio":${tn / t1}%.2f,"per_row_ratio":${tn / t1 / n}%.3f}"""
      } catch {
        case e: Throwable =>
          System.err.println(s"[scaleprobe] $q failed: $e")
          s"""{"query":"$q","error":"${e.getClass.getSimpleName}"}"""
      }
    }
    println(lines.mkString(",\n"))
    println("]}")
    spark.stop()
  }

  /** Build-only mode: materialize the perturbed-replica corpus and exit —
    * the input for the FULL-gate-at-scale run (r12 verdict task 1), where
    * graft.Verify + the DuckDB oracle then replay the entire declared
    * corpus against the Nx data instead of probing wall-clock.
    *
    * Run: sbt 'runMain graft.tools.ScaleProbe corpus <sfDir> <n> <outDir> [tables]'
    */
  private def corpusMain(args: Array[String]): Unit = {
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val n = args.lift(2).map(_.toInt).getOrElse(10)
    val outDir = args.lift(3).getOrElse(s"/tmp/graft_gatecorpus_${n}x")
    // default: every replicable table plus the constant dims — the full
    // gate scans everything. supplier_rep (not the unreplicated dim): the
    // star join's l_suppkey remap only matches the replicated copy, and
    // correctness of every other supplier consumer is unaffected by WHICH
    // consistent supplier table both engines read.
    val tables = args.lift(4).map(_.split(",").toSet)
      .getOrElse(AllHeavyTables - "supplier" + "supplier_rep" + "nation" + "region")
    val spark = graft.Engine.createSession("graft-scale-probe", graft.Engine.localMaster)
    spark.sparkContext.setLogLevel("WARN")
    buildHeavyCorpus(spark, sfDir, n, outDir, tables)
    println(s"""{"probe":"corpus_build","replication":$n,"out":"$outDir","tables":"${tables.toSeq.sorted.mkString(",")}"}""")
    spark.stop()
  }

  /** `ScaleProbe lineage [sfDir] [multipliers]` — iterative-query
    * lineage-growth probe (r17 verdict task 8). The two fixed-point
    * queries differ in lineage discipline: pagerank references its state
    * ONCE per round (linear plan growth; guarded by a localCheckpoint
    * every 8th round — see the measured policy comment in
    * GraphQueries.pagerankFrames), components references it TWICE
    * (exponential growth; checkpointed every round). Measured r18, this
    * probe on the PRE-guard pagerank: per-round wall flat to 20 rounds
    * (0.82→0.88 s), +30% at 40 (1.06 s), driver StackOverflowError at 80
    * (Catalyst tree recursion) — the every-8th-round guard turned 80
    * rounds into a 0.51 s/round completion. Defaults to 1x/2x/4x the
    * declared depth; pass comma-separated multipliers to go deeper. */
  private def lineageMain(args: Array[String]): Unit = {
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val mults = args.lift(2).map(_.split(",").toSeq.map(_.toInt)).getOrElse(Seq(1, 2, 4))
    val spark = graft.Engine.createSession("graft-scale-probe", graft.Engine.localMaster)
    spark.sparkContext.setLogLevel("WARN")
    def run(name: String,
        frames: (SparkSession, String, Int) => (DataFrame, Seq[DataFrame]),
        baseIters: Int): Unit =
      mults.foreach { mult =>
        val iters = baseIters * mult
        spark.catalog.clearCache()
        System.gc()
        val t0 = System.nanoTime()
        val (out, cached) = frames(spark, sfDir, iters)
        val tConstruct = (System.nanoTime() - t0) / 1e9
        try out.write.format("noop").mode("overwrite").save()
        finally cached.foreach(_.unpersist(false))
        val wall = (System.nanoTime() - t0) / 1e9
        println(f"""{"probe":"lineage","query":"$name","iters":$iters,""" +
          f""""construct_sec":$tConstruct%.2f,"wall_sec":$wall%.2f,""" +
          f""""sec_per_round":${wall / iters}%.3f}""")
      }
    run("pagerank_guarded8", graft.queries.GraphQueries.pagerankFrames, 5)
    run("components_checkpointed", graft.queries.GraphQueries.componentFrames, 8)
    spark.stop()
  }

  def main(args: Array[String]): Unit = {
    if (args.headOption.contains("heavy")) { heavyMain(args); return }
    if (args.headOption.contains("corpus")) { corpusMain(args); return }
    if (args.headOption.contains("lineage")) { lineageMain(args); return }
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val n = args.lift(1).map(_.toInt).getOrElse(10)
    val spark = graft.Engine.createSession("graft-scale-probe", graft.Engine.localMaster)
    spark.sparkContext.setLogLevel("WARN")

    def replicate(df: DataFrame, k: Int): DataFrame =
      Iterator.fill(k)(df).reduce(_ union _)

    val lineitem = spark.read.parquet(s"$sfDir/lineitem.parquet")
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")

    def shapes(li: DataFrame, o: DataFrame): Seq[(String, () => Unit)] = Seq(
      "scan_agg" -> (() => li.groupBy("l_returnflag", "l_linestatus")
        .agg(sum("l_quantity"), count(lit(1)))
        .write.format("noop").mode("overwrite").save()),
      "shuffle_join" -> (() => o.join(li, col("o_orderkey") === col("l_orderkey"))
        .groupBy("o_orderpriority").agg(round(sum("l_extendedprice"), 2))
        .write.format("noop").mode("overwrite").save()),
      "window" -> (() => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("o_custkey").orderBy("o_orderkey")
        o.select(col("o_custkey"), sum("o_totalprice").over(w))
          .write.format("noop").mode("overwrite").save()
      }))

    def time(f: () => Unit): Double = {
      f() // warm
      val t0 = System.nanoTime(); f(); (System.nanoTime() - t0) / 1e9
    }

    val liRows = lineitem.count().toDouble
    val oRows = orders.count().toDouble
    println(f"""{"probe":"scale","replication":$n,"rows_1x":${liRows.toLong},"shapes":[""")
    val lines = shapes(lineitem, orders).zip(shapes(replicate(lineitem, n), replicate(orders, n)))
      .map { case ((name, f1), (_, fn)) =>
        val t1 = time(f1)
        val tn = time(fn)
        val rows1 = if (name == "scan_agg") liRows else if (name == "window") oRows else liRows + oRows
        val ns1 = t1 * 1e9 / rows1
        val nsN = tn * 1e9 / (rows1 * n)
        f"""{"shape":"$name","sec_1x":$t1%.2f,"sec_${n}x":$tn%.2f,"ns_per_row_1x":$ns1%.1f,"ns_per_row_${n}x":$nsN%.1f,"scaling_ratio":${tn / t1 / n}%.2f}"""
      }
    println(lines.mkString(",\n"))
    println("]}")
    spark.stop()
  }
}
