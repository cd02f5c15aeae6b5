package graft.queries

import org.apache.spark.sql.functions._
import Tables.t

/** Iterative graph analytics — the classic engine workload the rest of the
  * corpus doesn't exercise: a fixed-point computation whose per-step shape
  * is join + aggregate, unrolled a bounded number of rounds (the Pregel
  * pattern as plain DataFrames). The graph is the part↔supplier bipartite
  * relation mined from lineitem (~2k parts, 100 suppliers, ~52k distinct
  * edges at sf0.01), and the computation is PageRank held INTEGER-EXACT:
  * ranks live in parts-per-1e9 units and every step is integer
  * multiply/divide, so five rounds produce bit-identical tables in Spark
  * and DuckDB — no float mass drift, no tolerance compare.
  */
object GraphQueries {

  private val Iters = 5
  private val Mass = 1000000000L // total rank mass (ppb units)

  /** PageRank (d=0.85, 5 unrolled rounds) over the undirected
    * part↔supplier graph. Scale shape: the distinct edge list is built
    * once and cached — the standard iterative-graph tradeoff (every round
    * re-reads it; at 100 TB this is the persisted adjacency the cluster
    * pays for once, partitioned by src so each round is ONE shuffle on dst
    * for the contribution sums plus a broadcast of the one-row node
    * count). Rounds unroll lineage five deep — within Spark's comfort
    * zone; a big-k deployment checkpoints every ~8 rounds exactly like the
    * BPE trainer. The final top-20 is TakeOrderedAndProject under a total
    * order (rank desc, node), never a global sort. The DuckDB oracle is
    * GENERATED from the same Scala loop, so the two engines necessarily
    * run the identical recurrence.
    *
    * Returns the distributed pipeline: (top-20 frame, the cached frames
    * the caller must unpersist once the result is materialized). Exposed
    * for PlansSpec, which pins the distributed plan's shape. */
  private[graft] def pagerankFrames(
      s: org.apache.spark.sql.SparkSession, d: String, iters: Int = Iters)
      : (org.apache.spark.sql.DataFrame, Seq[org.apache.spark.sql.DataFrame]) = {
    val half = t(s, d, "lineitem")
      .select((col("l_partkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
    // hash-partition the adjacency on src ONCE, sorted within partitions,
    // and cache that layout: every round's contribution join then reuses
    // the cached partitioning (the InMemoryRelation reports it, so no
    // per-round edge exchange) and only the small changing ranks side
    // moves — the Pregel economics. Deliberately NOT a broadcast: the
    // node/rank table is corpus-sized at web scale; co-partitioned
    // shuffle joins are the shape that survives 100x.
    val edges = half.unionAll(half.select(col("dst").as("src"), col("src").as("dst")))
      .repartition(col("src"))
      .sortWithinPartitions("src")
      .cache()
    // vertex state persists beside the adjacency (the Pregel split):
    // without the cache every round re-aggregates degrees from the edge
    // cache — 5 redundant passes
    val nodes = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .select(col("src").as("node"), col("deg"))
      .cache()
    val nF = broadcast(nodes.agg(count(lit(1)).as("n")))
    // attach the scalar node count ONCE and cache the result: the previous
    // shape re-ran the one-row crossJoin (a BroadcastNestedLoopJoin + a
    // fresh broadcast build) inside EVERY round — 6 BNLJ stages and 6
    // broadcast builds whose only job was re-attaching the same constant
    // (r18 optimization round, guide §2.4; plan: n6 → n1, b16 → b11, same
    // integer arithmetic bit for bit)
    val nodesN = nodes.crossJoin(nF).cache()
    var ranks = nodesN
      .select(col("node"), col("deg"), col("n"), expr(s"$Mass div n").as("rank"))
    (1 to iters).foreach { iter =>
      val contrib = edges
        .join(ranks.select(col("node"), expr("rank div deg").as("c")),
          col("src") === col("node"))
        .groupBy("dst").agg(sum("c").as("in_sum"))
      ranks = nodesN
        .join(contrib, col("node") === col("dst"), "left")
        .select(col("node"), col("deg"), col("n"),
          (expr(s"(15 * ($Mass div n)) div 100") +
            expr("(85 * coalesce(in_sum, 0)) div 100")).as("rank"))
      // LINEAGE POLICY (measured, ScaleProbe lineage / PERF.md r18): the
      // single-reference recurrence grows the plan LINEARLY, so unbroken
      // unrolling holds to ~20 rounds at flat per-round cost, costs +30%
      // per round by 40, and DIES at 80 with a driver StackOverflowError
      // (Catalyst tree recursion). Break lineage every 8th round — a no-op
      // at the declared depth (5), the survival guard at any depth; a
      // fault-tolerant deployment swaps in reliable checkpoint().
      if (iter % 8 == 0) ranks = ranks.localCheckpoint(true)
    }
    val out = ranks
      .select(col("node"), (col("node") % 2).as("is_supplier"), col("rank"))
      .orderBy(col("rank").desc, col("node"))
      .limit(20)
    (out, Seq(edges, nodes, nodesN))
  }

  private val pagerank = Q(
    "q_graph_pagerank",
    (s, d) => {
      // materialize the bounded top-20 and release both cached frames in a
      // finally — repeated bench/probe invocations in a shared session must
      // not accumulate InMemoryRelations in the storage pool
      val (out, cached) = pagerankFrames(s, d)
      try {
        val rows = java.util.Arrays.asList(out.collect(): _*)
        s.createDataFrame(rows, out.schema)
      } finally cached.foreach(_.unpersist(false))
    },
    Some {
      val iterCtes = (1 to Iters).map { k =>
        s"""r$k AS (
           SELECT nd.node, nd.deg,
             (15 * ($Mass // nn.n)) // 100 + (85 * COALESCE(sm.in_sum, 0)) // 100 AS rank
           FROM nodes nd CROSS JOIN nn
           LEFT JOIN (SELECT e.dst AS node, sum(p.rank // p.deg) AS in_sum
                      FROM edges e JOIN r${k - 1} p ON e.src = p.node
                      GROUP BY e.dst) sm
           ON nd.node = sm.node)"""
      }.mkString(",\n")
      s"""WITH half AS (
          SELECT DISTINCT l_partkey * 2 AS src, l_suppkey * 2 + 1 AS dst FROM lineitem),
        edges AS (SELECT src, dst FROM half UNION ALL SELECT dst, src FROM half),
        nodes AS (SELECT src AS node, count(*) AS deg FROM edges GROUP BY src),
        nn AS (SELECT count(*) AS n FROM nodes),
        r0 AS (SELECT node, deg, $Mass // nn.n AS rank FROM nodes CROSS JOIN nn),
        $iterCtes
        SELECT node, node % 2 AS is_supplier, CAST(rank AS BIGINT) AS rank
        FROM r$Iters ORDER BY rank DESC, node LIMIT 20"""
    },
    // regression-track the DISTRIBUTED pipeline, not the returned
    // LocalRelation (r17 verdict "what's wrong" #1)
    planProxy = Some((s, d) => pagerankFrames(s, d)._1))

  /** Triangle counting over a deterministic sparse "referral" graph mined
    * from orders (node universe = custkeys; each order contributes one
    * pseudo-random edge via modular hashing, so density — and therefore
    * triangle count — is scale-invariant and both engines derive the
    * identical edge set from first principles). The algorithm is the
    * standard ORIENTED wedge join: undirected edges canonicalized u < v,
    * then e1(u,v)⋈e2(v,w) builds wedges and e3(u,w) closes them — every
    * step an equi-join, NEVER an all-pairs product. At 100 TB the
    * orientation is by degree (low-degree endpoint first) so wedge work is
    * Σ d_out² = O(m^1.5) worst-case instead of a hub's d² blowup; here
    * id-orientation suffices because the modular-hash graph has no hubs
    * (documented knob, same plan shape). The tiny (orderkey % 1000003)
    * pre-reduction keeps the 64-bit product overflow-safe under ANSI at
    * any replication. Output is bounded: per-node triangle counts top-20
    * under a total order plus the global total.
    *
    * Returns the distributed pipeline: (top-20 frame, cached frames the
    * caller must unpersist once materialized). Exposed for PlansSpec,
    * which pins that every candidate step is an equi-join. */
  private[graft] def triangleFrames(
      s: org.apache.spark.sql.SparkSession, d: String)
      : (org.apache.spark.sql.DataFrame, Seq[org.apache.spark.sql.DataFrame]) = {
    val mx = broadcast(t(s, d, "orders").agg(max("o_custkey").as("mc")))
    val raw = t(s, d, "orders").crossJoin(mx)
      .select(
        col("o_custkey").as("a"),
        (lit(1) + ((col("o_orderkey") % 1000003L) * 2654435761L) % col("mc")).as("b"))
    val edges = raw.filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .distinct()
      .cache()
    val tri = edges.as("e1")
      .join(edges.as("e2"), col("e1.v") === col("e2.u"))
      .join(edges.as("e3"),
        col("e3.u") === col("e1.u") && col("e3.v") === col("e2.v"))
      .select(col("e1.u").as("a"), col("e1.v").as("b"), col("e2.v").as("c"))
      .cache()
    val total = broadcast(tri.agg(count(lit(1)).as("total_tri")))
    val out = tri.select(col("a").as("node"))
      .unionAll(tri.select(col("b").as("node")))
      .unionAll(tri.select(col("c").as("node")))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
      .crossJoin(total)
      .orderBy(col("n_tri").desc, col("node"))
      .limit(20)
    (out, Seq(edges, tri))
  }

  private val triangles = Q(
    "q_graph_triangles",
    (s, d) => {
      val (out, cached) = triangleFrames(s, d)
      try {
        val rows = java.util.Arrays.asList(out.collect(): _*)
        s.createDataFrame(rows, out.schema)
      } finally cached.foreach(_.unpersist(false))
    },
    Some("""WITH mx AS (SELECT max(o_custkey) AS mc FROM orders),
      raw AS (
        SELECT o_custkey AS a,
               1 + ((o_orderkey % 1000003) * 2654435761) % mc AS b
        FROM orders CROSS JOIN mx),
      edges AS MATERIALIZED (
        SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
        FROM raw WHERE a <> b),
      tri AS MATERIALIZED (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM edges e1 JOIN edges e2 ON e1.v = e2.u
             JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v),
      pernode AS (
        SELECT node, CAST(count(*) AS BIGINT) AS n_tri FROM (
          SELECT a AS node FROM tri
          UNION ALL SELECT b FROM tri
          UNION ALL SELECT c FROM tri)
        GROUP BY node),
      total AS (SELECT CAST(count(*) AS BIGINT) AS total_tri FROM tri)
      SELECT node, n_tri, total_tri
      FROM pernode CROSS JOIN total
      ORDER BY n_tri DESC, node LIMIT 20"""),
    planProxy = Some((s, d) => triangleFrames(s, d)._1))

  private val CcIters = 8

  /** Connected components by bounded-round min-label propagation over the
    * same deterministic referral graph as `q_graph_triangles` — the
    * second fixed-point workload beside PageRank, and the graph op every
    * dedup pipeline ends with (the keep-list transitive closure is
    * exactly this). Each round is the Pregel step as plain DataFrames:
    * neighbor-min via one equi-join + one aggregate on the cached
    * adjacency, then least() against the previous labels — integer labels
    * end to end, so the DuckDB oracle (generated from the SAME Scala
    * loop, one MATERIALIZED CTE per round to stop DuckDB's exponential
    * re-inlining) is bit-identical. Rounds are FIXED at 8, so both
    * engines compute the identical (possibly not-yet-converged) labels —
    * the declared contract is "8 supersteps", the way a production run
    * caps supersteps per job; at 100 TB the same plan runs under
    * large-star/small-star hops to converge in O(log n) rounds. Output is
    * bounded: top-20 component sizes + the surviving label count. */
  private[graft] def componentFrames(
      s: org.apache.spark.sql.SparkSession, d: String, iters: Int = CcIters)
      : (org.apache.spark.sql.DataFrame, Seq[org.apache.spark.sql.DataFrame]) = {
    val mx = broadcast(t(s, d, "orders").agg(max("o_custkey").as("mc")))
    val raw = t(s, d, "orders").crossJoin(mx)
      .select(
        col("o_custkey").as("a"),
        (lit(1) + ((col("o_orderkey") % 1000003L) * 2654435761L) % col("mc")).as("b"))
    val half = raw.filter(col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("u"), greatest(col("a"), col("b")).as("v"))
      .distinct()
    val edges = half.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(half.select(col("v").as("src"), col("u").as("dst")))
      .repartition(col("src"))
      .cache()
    var labels = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lbl"))
      // each round references `labels` TWICE (message build + merge), so
      // an unbroken lineage doubles the plan per round — 2^8 nodes by the
      // last iteration, which costs minutes in re-analysis/re-execution
      // (measured: 217 s vs 1.4 s with the break). localCheckpoint
      // truncates the lineage to the label table each round — the standard
      // Pregel-loop discipline; a fault-tolerant deployment swaps in
      // reliable checkpoint(), same plan shape. The table is |nodes| rows
      // of two longs, so 8 retained checkpoints are noise. LAZY (r18
      // optimization round): eager checkpoints ran one blocking job PER
      // ROUND (8 driver barriers whose only purpose was materialization);
      // the lazy form still truncates the logical plan immediately but
      // lets the final action execute all 8 rounds as one job, with each
      // round's persisted label RDD computed once and reused by both of
      // the next round's references.
      .localCheckpoint(false)
    (1 to iters).foreach { _ =>
      val nbrMin = edges
        .join(labels.select(col("node"), col("lbl")), col("src") === col("node"))
        .groupBy("dst").agg(min("lbl").as("nmin"))
      labels = labels.join(nbrMin, col("node") === col("dst"), "left")
        .select(col("node"),
          least(col("lbl"), coalesce(col("nmin"), col("lbl"))).as("lbl"))
        .localCheckpoint(false)
    }
    val nLabels = broadcast(
      labels.agg(countDistinct("lbl").as("n_components")))
    val out = labels.groupBy("lbl").agg(count(lit(1)).as("n_nodes"))
      .crossJoin(nLabels)
      .orderBy(col("n_nodes").desc, col("lbl"))
      .limit(20)
    (out, Seq(edges))
  }

  private val components = Q(
    "q_graph_components",
    (s, d) => {
      val (out, cached) = componentFrames(s, d)
      try {
        val rows = java.util.Arrays.asList(out.collect(): _*)
        s.createDataFrame(rows, out.schema)
      } finally cached.foreach(_.unpersist(false))
    },
    Some {
      val iterCtes = (1 to CcIters).map { k =>
        s"""l$k AS MATERIALIZED (
           SELECT p.node, least(p.lbl, COALESCE(m.nmin, p.lbl)) AS lbl
           FROM l${k - 1} p
           LEFT JOIN (SELECT e.dst AS node, min(p2.lbl) AS nmin
                      FROM edges e JOIN l${k - 1} p2 ON e.src = p2.node
                      GROUP BY e.dst) m
           ON p.node = m.node)"""
      }.mkString(",\n")
      s"""WITH mx AS (SELECT max(o_custkey) AS mc FROM orders),
        raw AS (
          SELECT o_custkey AS a,
                 1 + ((o_orderkey % 1000003) * 2654435761) % mc AS b
          FROM orders CROSS JOIN mx),
        half AS MATERIALIZED (
          SELECT DISTINCT least(a, b) AS u, greatest(a, b) AS v
          FROM raw WHERE a <> b),
        edges AS MATERIALIZED (
          SELECT u AS src, v AS dst FROM half
          UNION ALL SELECT v, u FROM half),
        l0 AS MATERIALIZED (
          SELECT node, node AS lbl
          FROM (SELECT DISTINCT src AS node FROM edges)),
        $iterCtes,
        sizes AS (SELECT lbl, CAST(count(*) AS BIGINT) AS n_nodes
                  FROM l$CcIters GROUP BY lbl),
        nc AS (SELECT CAST(count(DISTINCT lbl) AS BIGINT) AS n_components
               FROM l$CcIters)
        SELECT lbl, n_nodes, n_components
        FROM sizes CROSS JOIN nc
        ORDER BY n_nodes DESC, lbl LIMIT 20"""
    },
    planProxy = Some((s, d) => componentFrames(s, d)._1))

  val all: Seq[Q] = Seq(pagerank, triangles, components)
}
