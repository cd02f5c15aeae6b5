package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected-component canonicalization for the dedup keep-lists: every node
  * receives the MINIMUM id reachable through the near-dup pair graph, so a
  * chain A~B~C collapses to one canonical even when A,C are not directly
  * adjacent (the single-pass min-direct-neighbor shortcut documented in
  * round 2 split such chains).
  *
  * Algorithm: min-label propagation with POINTER JUMPING. Each round (1)
  * takes, per node, the minimum of its own label and its neighbors' labels
  * (a join on the edge list plus a groupBy — plain shuffles on the node
  * id), then (2) follows the label one hop (`lbl <- lbl(lbl)` — labels are
  * always node ids, so this is a self-join of the label table). The jump
  * doubles the effective propagation distance per round, so `rounds`
  * rounds reach the component minimum for every component of diameter up
  * to ~2^rounds — the label-doubling trick from parallel connectivity
  * (Shiloach-Vishkin style), which round 3 needed: the sf0.1 unigram
  * near-dup graph has components deeper than the 6 plain-propagation hops
  * round 2 shipped with (caught by the independent from-spec oracle,
  * tools/gen_expected.py). The DuckDB oracle twins compute the UNBOUNDED
  * closure (recursive CTE / union-find), so the correctness gate itself
  * catches a too-small bound.
  *
  * 100 TB note: per round, cost is 1 edge join + 1 agg + 1 label self-join,
  * all keyed shuffles over label/edge tables (never document payloads).
  * The label frame is `localCheckpoint`ed each round: without it the lazy
  * plan references the previous round's frame four times and the tree
  * grows 4^rounds — Catalyst analysis time alone dominated round 2's dedup
  * bench numbers. Checkpointing makes each round's plan constant-size; on
  * a real cluster you'd use `checkpoint` (HDFS-backed) for fault tolerance
  * instead of executor-local blocks. Callers pass a cached/materialized
  * `edges`.
  */
object Closure {

  /** @param nodes one column `id` (bigint), every node, unique
    * @param edges two columns `src`,`dst` — SYMMETRIC pair list (both
    *              directions present); caller caches it
    * @param rounds propagation bound; final labels equal the component min
    *               for every component of diameter <= ~2^rounds
    * @return (`id`, `lbl`) with lbl = component-min id (within the bound)
    */
  def minLabel(nodes: DataFrame, edges: DataFrame, rounds: Int): DataFrame = {
    val ck = (df: DataFrame) => df.localCheckpoint(eager = false)
    // CONTRACTION PREPASS: the near-dup graphs this serves are locally DENSE
    // (planted dup clusters are near-cliques — sf0.1 measured 1.8M verified
    // edges over 5k docs), and iterating the label loop directly re-shuffles
    // the full edge list EVERY round. One hooking step first: each node's
    // representative m(v) = min(v, min direct neighbor), then edges rewrite
    // to (m(src), m(dst)) with self-loops dropped and duplicates collapsed —
    // a clique contracts to a point, so the loop below runs on the
    // representative graph (orders of magnitude smaller), and v's final
    // label is its representative's label. Correct because the component
    // minimum u* satisfies m(u*) = u* (nothing smaller is adjacent), so
    // contracted components have the same minima as the originals. Cost: one
    // groupBy + two joins over the edge list ONCE, versus one edge join per
    // round. All shuffles are keyed on node ids — no broadcast assumption,
    // so the shape survives node tables too big for one executor.
    // LAZY checkpoints (r18 optimization round): the plan-truncation they
    // exist for happens at wrap time either way; lazy lets the
    // contracted.isEmpty probe below materialize BOTH frames in one job
    // instead of running two blocking materialization jobs first (r19
    // measured lazy 46 jobs/95 stages vs eager 57/97; OPTIMIZATION_r19.md).
    val nbMin0 = edges.groupBy(col("src").as("id")).agg(min("dst").as("nbmin"))
    val m = nodes
      .join(nbMin0, Seq("id"), "left")
      .select(col("id"), least(col("id"), coalesce(col("nbmin"), col("id"))).as("rep"))
      .transform(ck)
    val contracted = edges
      .join(m.select(col("id").as("src"), col("rep").as("rsrc")), "src")
      .join(m.select(col("id").as("dst"), col("rep").as("rdst")), "dst")
      .filter(col("rsrc") =!= col("rdst"))
      .select(col("rsrc").as("src"), col("rdst").as("dst"))
      .distinct()
      .transform(ck)
    // When hooking alone already collapsed every component (contracted edge
    // set empty — the clique-heavy common case), reps ARE the final labels.
    // isEmpty, NOT count() (r19 measured): count's partial+final agg adds
    // an exchange stage per probe and always materializes every partition,
    // where take(1) usually stops after the first — the count variant read
    // 51 jobs/113 stages vs isEmpty's 46/95 (r19 closure-phase probe).
    if (contracted.isEmpty) {
      m.select(col("id"), col("rep").as("lbl"))
    } else {
      val repNodes = m.select(col("rep").as("id")).distinct()
      val repLab = propagate(repNodes, contracted, rounds)
      m.join(repLab.select(col("id").as("rep"), col("lbl")), "rep")
        .select(col("id"), col("lbl"))
    }
  }

  /** The min-label + pointer-jump loop over an (ideally contracted) graph. */
  private def propagate(nodes: DataFrame, edges: DataFrame, rounds: Int): DataFrame = {
    val ck = (df: DataFrame) => df.localCheckpoint(eager = false)
    // every checkpoint in this loop is LAZY (r18 optimization round): the
    // per-round convergence probe is an action anyway, so it materializes
    // the round's whole chain in ONE job where the eager form ran three
    // blocking jobs per round (lab, stepped, next) before the probe.
    var lab = nodes.select(col("id"), col("id").as("lbl")).transform(ck)
    var converged = false
    var round = 0
    while (round < rounds && !converged) {
      val nbMin = edges
        .join(lab.withColumnRenamed("id", "dst").withColumnRenamed("lbl", "nlbl"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min("nlbl").as("nbmin"))
      // checkpointed so the neighbor-min shuffle runs ONCE per round — the
      // pointer jump below references `stepped` on both sides of its
      // self-join, and a lazy plan would execute the edge join twice.
      val stepped = lab
        .join(nbMin, Seq("id"), "left")
        .select(
          col("id"), col("lbl").as("prev"),
          least(col("lbl"), coalesce(col("nbmin"), col("lbl"))).as("lbl"))
        .transform(ck)
      // pointer jump: adopt the label of the node the label points at.
      // Labels are node ids and only ever decrease within a component, so
      // the jump preserves membership and monotonicity while doubling the
      // distance already covered.
      val parent = stepped.select(col("id").as("p_id"), col("lbl").as("p_lbl"))
      val next = stepped
        .join(parent, col("lbl") === col("p_id"), "left")
        .select(col("id"), col("prev"), coalesce(col("p_lbl"), col("lbl")).as("lbl"))
        .transform(ck)
      // EARLY EXIT: the round is a deterministic monotone function of the
      // label state, so an unchanged state is a fixed point — remaining
      // rounds would be identical. The check is a filter over the frame
      // just materialized (executor-local blocks), not extra shuffle work;
      // on the dense near-dup graphs min-labels saturate in 2-3 jumped
      // rounds and this halves the barrier count vs always running the
      // full diameter bound. isEmpty, not count() — see the contraction
      // note above (measured: the count variant added a shuffle stage per
      // round and cost 5 jobs / 18 stages over the suite probe).
      converged = next.filter(col("lbl") =!= col("prev")).isEmpty
      lab = next.select("id", "lbl")
      round += 1
    }
    lab
  }
}
