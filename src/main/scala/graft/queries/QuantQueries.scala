package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import Tables.t

/** Vector-index construction operators: int8 scalar quantization (the memory
  * layer every billion-vector ANN store sits on) and a Lloyd-trained coarse
  * quantizer (the training step behind IVF cells — `q_sim_ivf_ann` uses a
  * deterministic sample as its quantizer; this is the upgrade path).
  *
  * Cross-engine determinism is the design driver: every aggregate that feeds
  * a downstream comparison is INTEGER math (quantized codes, fixed-point
  * micro-unit centroid components), so the DuckDB mirror oracle hash-matches
  * bit for bit — no FP summation-order hazard anywhere in either pipeline.
  * Float ops are confined to expressions both engines evaluate with the
  * identical IEEE operation sequence (elementwise quantize, left-fold dot).
  */
object QuantQueries {

  import graft.functions.VectorFunctions.{dot, l2Normalize, nearestCentroid}

  /** The embeddings table as (vec_id, de: array<double>). */
  private[graft] def rawEmbeddings(s: SparkSession, d: String): DataFrame =
    t(s, d, "embeddings").select(col("vec_id"), col("embedding").cast("array<double>").as("de"))

  /** Row-based twin of [[normalizedEmbeddings]]: `rows` carries the
    * embeddings TABLE shape (vec_id, embedding) — the streaming index-
    * maintenance twin feeds micro-batches here instead of a directory. */
  private[graft] def normalizedEmbeddingRows(rows: DataFrame): DataFrame =
    rows.select(col("vec_id"), col("embedding").cast("array<double>").as("de"))
      .select(col("vec_id"), l2Normalize(col("de")).as("emb"))

  /** Vectors L2-normalized ONCE at scan, (vec_id, emb): the cosine of a
    * candidate pair is then a single codegen'd dot-product kernel call
    * instead of dot + two norms per pair. */
  private[graft] def normalizedEmbeddings(s: SparkSession, d: String): DataFrame =
    normalizedEmbeddingRows(t(s, d, "embeddings"))

  /** DuckDB twin of [[normalizedEmbeddings]] (same left-fold norm). */
  private val sqlNormalized: String =
    """e0 AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS de FROM embeddings),
      e AS (SELECT vec_id,
              list_transform(de, x -> x / sqrt(list_reduce(list_transform(de, y -> y*y), (a, b) -> a + b))) AS emb
            FROM e0)"""

  private val Dim = 64

  // ---------------------------------------------------------------------------
  // q_sim_sq8 — scalar-quantized (int8) ANN
  // ---------------------------------------------------------------------------

  /** Per-dimension min/max over the NORMALIZED corpus, collected into ONE
    * broadcastable row (a 64-element struct array) — the corpus itself never
    * re-shuffles to get quantized: codes are a narrow `transform` against
    * the broadcast calibration row. At 100 TB the calibration agg is a
    * partial-agg tree over 64 keys (bytes of shuffle), and quantization
    * rides the scan. min/max are exact selections (no FP arithmetic), so
    * the calibration row is bit-identical across engines. */
  private[graft] def sq8Calibration(e: DataFrame): DataFrame =
    e.select(posexplode(col("emb")))
      .toDF("d", "x")
      .groupBy("d")
      .agg(min("x").as("mn"), max("x").as("mx"))
      .groupBy()
      .agg(array_sort(collect_list(struct(col("d"), col("mn"), col("mx")))).as("mm"))

  /** Corpus as int8 codes (array<long> — parquet/arrow has no unsigned
    * byte; the 8-bit range is the memory story: 64 bytes/vector instead of
    * 512) against an explicit (possibly stored) calibration row, carrying
    * the calibration through as `mm` for the midpoint reconstruction
    * ([[sq8WithDq]]). Dequantization happens once per VECTOR against the
    * broadcast calibration row — never per candidate pair — so pair
    * scoring stays one codegen'd dot kernel. The encode step
    * [[graft.operators.VectorIndex.appendSq8]] shares, so appended vectors
    * use the calibration TRAINED AT BUILD TIME (FAISS SQ semantics;
    * out-of-range components clamp to the trained range). */
  private[graft] def sq8Encode(e: DataFrame, calib: DataFrame): DataFrame =
    // codegen'd kernel (r19): the transform/element_at lambda evaluated
    // interpreted per COMPONENT (64x per vector), walking the calibration
    // struct array each time — bit-parity pinned in FunctionsSpec against
    // the exact old per-element expression (incl. mx == mn and clamp edges)
    e.crossJoin(broadcast(calib))
      .select(
        col("vec_id"),
        graft.functions.VectorFunctions.sq8EncodeCodes(col("de"), col("mm")).as("qe"),
        col("mm"))

  /** Midpoint reconstructions added to a (vec_id, qe, mm) frame — the
    * decode side of the same split (codegen'd kernel, r19 — see
    * [[sq8Encode]]). */
  private[graft] def sq8WithDq(codesWithMm: DataFrame): DataFrame =
    codesWithMm.select(
      col("vec_id"), col("qe"),
      graft.functions.VectorFunctions.sq8Dequant(col("qe"), col("mm")).as("dq"))

  private def sq8Codes(e: DataFrame): DataFrame =
    sq8WithDq(sq8Encode(e, sq8Calibration(e)))

  /** The SQ8 scoring block shared by `q_sim_sq8` (calibration trained
    * in-query) and `VectorIndex.searchSq8` (calibration + codes read from
    * the stored index): asymmetric dot over midpoint reconstructions,
    * top-k per query. Row-identical across the two call sites by
    * construction (pinned in QuantSpec). */
  private[graft] def sq8Search(withDq: DataFrame, nQueries: Int = 5, k: Int = 5): DataFrame = {
    val q = broadcast(
      withDq.filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("dq").as("qdq")))
    val scored = withDq.join(q, col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"),
        round(dot(col("dq"), col("qdq")), 6).as("score"))
    topK(scored, k, desc("score"), asc("neighbor_id"))
  }

  /** Top-5 neighbors for 5 query vectors over the int8-quantized corpus,
    * ranked by the dot product of midpoint reconstructions (asymmetric SQ
    * distance; recall vs exact cosine is pinned in QuantSpec, and the
    * stored representation is 8x smaller than float64 / 4x than float32).
    * Query side broadcasts; the corpus is scanned once, never shuffled;
    * ranking shuffles only the (5 x corpus) scored rows. The oracle
    * replays quantize → dequantize → score with the identical operation
    * sequence, so the hash compare covers the whole index pipeline. */
  private val sq8Ann = Q(
    "q_sim_sq8",
    (s, d) => {
      val e = rawEmbeddings(s, d).select(col("vec_id"), l2Normalize(col("de")).as("emb"))
        .select(col("vec_id"), col("emb").as("de"), col("emb"))
      val codes = sq8Codes(e).cache()
      sq8Search(codes)
    },
    Some(s"""WITH $sqlNormalized,
      dd AS (SELECT unnest(range(1, ${Dim + 1})) AS d),
      dims AS (SELECT d, min(emb[d]) AS mn, max(emb[d]) AS mx FROM e, dd GROUP BY d),
      qv AS (SELECT vec_id,
               list(CASE WHEN mx = mn THEN mn
                         ELSE mn + (least(255, CAST(floor((emb[d] - mn) * 256.0 / (mx - mn)) AS BIGINT)) + 0.5) * (mx - mn) / 256.0
                    END ORDER BY d) AS dq
             FROM e, dims GROUP BY vec_id),
      q AS (SELECT vec_id AS query_id, dq AS qdq FROM qv WHERE vec_id < 5)
      SELECT query_id, neighbor_id, score, rn FROM (
        SELECT q.query_id, n.vec_id AS neighbor_id,
               round(list_dot_product(n.dq, q.qdq), 6) AS score,
               CAST(row_number() OVER (
                 PARTITION BY q.query_id
                 ORDER BY round(list_dot_product(n.dq, q.qdq), 6) DESC, n.vec_id) AS BIGINT) AS rn
        FROM qv n JOIN q ON n.vec_id <> q.query_id) sub
      WHERE rn <= 5 ORDER BY query_id, rn"""))

  // ---------------------------------------------------------------------------
  // q_sim_kmeans — Lloyd-trained coarse quantizer (fixed-point centroids)
  // ---------------------------------------------------------------------------

  /** Micro-unit fixed point: a normalized component x ∈ [-1, 1] becomes
    * floor((x + 2) * 1e6) ∈ [1e6, 3e6] — POSITIVE, so truncating integer
    * division (Spark `div`) and DuckDB `//` agree, and per-cell means are
    * exact integer math in both engines. The +2 offset cancels after the
    * mean (mean of offsets = offset of mean, exactly, in integers — up to
    * the shared div truncation). */
  private val MicroOffset = 2000000L

  /** One Lloyd step: per-(cell, dim) integer mean of member components →
    * (cent_id, cemb array<double> in exact micro steps, norm2_micro).
    * The explode shuffles (corpus x 64) integer rows into a 2-level key agg
    * — map-side partial aggregation collapses it to (cells x 64) per task,
    * so at 1000 executors the reduce is centroid-sized, not corpus-sized. */
  private[graft] def lloydStep(assigned: DataFrame): DataFrame =
    assigned.select(col("cent_id"), posexplode(col("emb")))
      .toDF("cent_id", "d", "x")
      .withColumn("xm", floor((col("x") + lit(2.0)) * lit(1000000.0)))
      .groupBy("cent_id", "d")
      .agg(sum("xm").as("sm"), count(lit(1)).as("n"))
      .withColumn("cm", expr("sm div n") - MicroOffset)
      .groupBy("cent_id")
      .agg(
        transform(
          array_sort(collect_list(struct(col("d"), col("cm")))),
          e => e.getField("cm").cast("double") * lit(1e-6)).as("cemb"),
        // exact integer micro components, kept alongside the double view —
        // the residual-PQ path subtracts these from the (offset-included)
        // micro corpus, so residuals are exact BIGINT math with no
        // double-roundtrip hazard
        transform(
          array_sort(collect_list(struct(col("d"), col("cm")))),
          e => e.getField("cm")).as("cmm"),
        sum(col("cm") * col("cm")).as("norm2_micro"))

  /** Assign every vector to its max-cosine centroid: broadcast the (tiny)
    * centroid table, one scan pass, per-vector argmax. Ranking key is
    * round(dot, 6) with centroid-id tiebreak — FP-stable across engines. */
  private[graft] def kmeansAssign(e: DataFrame, cents: DataFrame): DataFrame =
    nearestCentroid(e, cents.select(col("cent_id"), col("cemb")))
      .select("vec_id", "emb", "cent_id")

  /** DuckDB twin of one (assign, step) round; `prev` is the centroid CTE
    * name to assign against, `i` the round index for naming. */
  private[graft] def sqlLloydRound(i: Int, prev: String): String =
    s"""a$i AS (SELECT vec_id, emb, cent_id FROM (
          SELECT ev.vec_id, ev.emb, c.cent_id,
                 row_number() OVER (PARTITION BY ev.vec_id
                   ORDER BY round(list_dot_product(ev.emb, c.cemb), 6) DESC, c.cent_id) AS rn
          FROM e ev, $prev c) s WHERE rn = 1),
      m$i AS (SELECT cent_id, d,
                sum(CAST(floor((emb[d] + 2) * 1000000) AS BIGINT)) AS sm, count(*) AS n
              FROM a$i, dd GROUP BY cent_id, d),
      g$i AS (SELECT cent_id, d, (sm // n) - $MicroOffset AS cm FROM m$i),
      c${i + 1} AS (SELECT cent_id, list(CAST(cm AS DOUBLE) * 1e-6 ORDER BY d) AS cemb,
                      list(cm ORDER BY d) AS cmm,
                      CAST(sum(cm * cm) AS BIGINT) AS norm2_micro
                    FROM g$i GROUP BY cent_id)"""

  /** The trained codebook: two Lloyd rounds from the fixed-size
    * deterministic seed sample ([[CentroidSeed]] — NCells cells no matter
    * the corpus size). Shared by q_sim_kmeans (codebook summary) and
    * q_sim_ivf_trained (the codebook actually searching). */
  private[graft] def trainedCodebook(e: DataFrame): DataFrame =
    lloydStep(kmeansAssign(e, lloydStep(kmeansAssign(e, CentroidSeed.seeds(e)))))

  // ---------------------------------------------------------------------------
  // IVF search stages: one body each, called by the declared queries with
  // their inline-trained frames and by graft.operators.VectorIndex with the
  // frames it reads from a stored index (QuantSpec pins the twins row-identical)
  // ---------------------------------------------------------------------------

  /** The first `n` vectors of a normalized (vec_id, emb) frame as queries
    * (query_id, qemb). */
  private[graft] def queryVectors(e: DataFrame, n: Int): DataFrame =
    e.filter(col("vec_id") < n).select(col("vec_id").as("query_id"), col("emb").as("qemb"))

  /** Each query's `nprobe` nearest cells: the (tiny) codebook broadcasts
    * into the query side, ranked by round(dot, 6) with a centroid-id
    * tiebreak. `queries` carries (query_id, qemb, carry...); the output is
    * (query_id, carry..., cell). */
  private[graft] def probeCells(
      queries: DataFrame, cents: DataFrame, nprobe: Int, carry: String*): DataFrame = {
    val keep = col("query_id") +: carry.map(col)
    val wProbe = Window.partitionBy("query_id").orderBy(desc("csim"), asc("cent_id"))
    queries.crossJoin(broadcast(cents.select(col("cent_id"), col("cemb"))))
      .select(keep ++ Seq(col("cent_id"), round(dot(col("qemb"), col("cemb")), 6).as("csim")): _*)
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select(keep :+ col("cent_id").as("cell"): _*)
  }

  /** Corpus rows of a (vec_id, cell, ...) frame that sit in a probed cell,
    * each paired with its probing query (never with itself): the corpus
    * meets the queries only through this cell equi-join. */
  private[graft] def probedCandidates(cells: DataFrame, probes: DataFrame): DataFrame =
    cells.join(broadcast(probes), Seq("cell")).filter(col("vec_id") =!= col("query_id"))

  /** Exact cosine (normalized dot, rounded to 6) of each candidate's `emb`
    * against its query's `qemb`, named `score`. */
  private[graft] def exactScores(cands: DataFrame, score: String): DataFrame =
    cands.select(col("query_id"), col("vec_id").as("neighbor_id"),
      round(dot(col("emb"), col("qemb")), 6).as(score))

  /** The first `k` rows per query in `order`, numbered `rn` (bigint). */
  private[graft] def topK(scored: DataFrame, k: Int, order: Column*): DataFrame =
    scored
      .withColumn("rn",
        row_number().over(Window.partitionBy("query_id").orderBy(order: _*)).cast("long"))
      .filter(col("rn") <= k)
      .orderBy("query_id", "rn")

  /** Flat-IVF top-k: exact cosine over the probed cells of an assigned
    * (vec_id, emb, cell) corpus. */
  private[graft] def cosineTopK(assigned: DataFrame, probes: DataFrame, k: Int): DataFrame =
    topK(exactScores(probedCandidates(assigned, probes), "cos_sim"), k,
      desc("cos_sim"), asc("neighbor_id"))

  /** Radius search: every candidate whose exact cosine clears `threshold`. */
  private[graft] def radiusSearch(cands: DataFrame, threshold: Double): DataFrame =
    exactScores(cands, "score")
      .filter(col("score") >= threshold)
      .orderBy("query_id", "neighbor_id")

  /** Exact re-rank of a (query_id, neighbor_id) shortlist to `k` (FAISS
    * `IndexRefineFlat`): the shortlist and the query vectors broadcast into
    * one pass over the normalized corpus `e`; only shortlisted vectors are
    * ever decoded. */
  private[graft] def refine(e: DataFrame, shortlist: DataFrame, nQueries: Int, k: Int): DataFrame =
    topK(
      e.select(col("vec_id").as("neighbor_id"), col("emb"))
        .join(broadcast(shortlist), "neighbor_id")
        .join(broadcast(queryVectors(e, nQueries)), "query_id")
        .select(col("query_id"), col("neighbor_id"),
          round(dot(col("emb"), col("qemb")), 6).as("score")),
      k, desc("score"), asc("neighbor_id"))

  /** Cluster-balanced sampling of a (vec_id, cell) assignment: keep at most
    * `cap` vectors per cell by an RNG-free multiplicative id-hash rank
    * (reshuffle-stable), reported per cell. */
  private[graft] def sampleCells(cells: DataFrame, cap: Int): DataFrame = {
    val w = Window.partitionBy("cell").orderBy("h", "vec_id")
    cells
      .withColumn("h", col("vec_id") % lit(1000003L) * lit(2654435761L) % lit(4294967296L))
      .withColumn("rn", row_number().over(w))
      .groupBy("cell")
      .agg(
        count(lit(1)).as("n_members"),
        sum(when(col("rn") <= cap, 1L).otherwise(0L)).as("n_kept"))
      .orderBy("cell")
  }

  /** Per-vector nearest centroid, its cosine, and the below-`threshold`
    * outlier flag. */
  private[graft] def outlierVerdicts(e: DataFrame, cents: DataFrame, threshold: Double): DataFrame =
    nearestCentroid(e, cents.select(col("cent_id"), col("cemb")))
      .select(col("vec_id"), col("cent_id").as("nearest_cell"), col("csim").as("max_cos"))
      .withColumn("is_outlier", col("max_cos") < threshold)
      .orderBy("vec_id")

  /** Two Lloyd iterations from a fixed-size deterministic seed sample,
    * then a final assignment; output is the trained codebook summary —
    * cell id, member count, and the exact integer squared norm of the
    * trained centroid (the value an IVF probe would rank against). Every
    * corpus-side join is against a broadcast centroid table; the only
    * corpus-keyed shuffles are the per-vector argmax window and the
    * fixed-point mean agg, both linear. The oracle replays the identical
    * two rounds in SQL — centroid drift between engines is impossible
    * because centroid components are exact integers. */
  private val kmeans = Q(
    "q_sim_kmeans",
    (s, d) => {
      val e = normalizedEmbeddings(s, d).cache()
      val c2 = trainedCodebook(e).cache()
      kmeansAssign(e, c2)
        .groupBy("cent_id")
        .agg(count(lit(1)).as("n_members"))
        .join(c2.select(col("cent_id"), col("norm2_micro")), "cent_id")
        .select(col("cent_id").as("cell"), col("n_members"), col("norm2_micro"))
        .orderBy("cell")
    },
    Some(s"""WITH $sqlNormalized,
      dd AS (SELECT unnest(range(1, ${Dim + 1})) AS d),
      ${CentroidSeed.sqlSeedCte("c0")},
      ${sqlLloydRound(0, "c0")},
      ${sqlLloydRound(1, "c1")},
      a2 AS (SELECT vec_id, cent_id FROM (
          SELECT ev.vec_id, c.cent_id,
                 row_number() OVER (PARTITION BY ev.vec_id
                   ORDER BY round(list_dot_product(ev.emb, c.cemb), 6) DESC, c.cent_id) AS rn
          FROM e ev, c2 c) s WHERE rn = 1)
      SELECT a.cent_id AS cell, count(*) AS n_members, c.norm2_micro
      FROM a2 a JOIN c2 c ON a.cent_id = c.cent_id
      GROUP BY a.cent_id, c.norm2_micro ORDER BY cell"""))

  /** IVF ANN over the TRAINED codebook — the upgrade `q_sim_ivf_ann`'s
    * sampled quantizer documents as its scale path: cells come from the two
    * Lloyd rounds above, every vector is assigned in one broadcast pass,
    * and a query probes only its 3 nearest trained cells (equi-join on the
    * cell id; the corpus never meets the queries outside probed cells).
    * Training cost amortizes across every subsequent search; at 100 TB the
    * codebook trains on a sample and the assignment is a single scan. The
    * oracle replays training AND search — the full IVF lifecycle is one
    * hash compare. */
  private val ivfTrained = Q(
    "q_sim_ivf_trained",
    (s, d) => {
      val e = normalizedEmbeddings(s, d).cache()
      val c2 = trainedCodebook(e).cache()
      val assigned = kmeansAssign(e, c2)
        .select(col("vec_id"), col("emb"), col("cent_id").as("cell"))
      cosineTopK(assigned, probeCells(queryVectors(e, 5), c2, 3, "qemb"), 5)
    },
    Some(s"""WITH $sqlNormalized,
      dd AS (SELECT unnest(range(1, ${Dim + 1})) AS d),
      ${CentroidSeed.sqlSeedCte("c0")},
      ${sqlLloydRound(0, "c0")},
      ${sqlLloydRound(1, "c1")},
      assigned AS (SELECT vec_id, emb, cent_id AS cell FROM (
          SELECT ev.vec_id, ev.emb, c.cent_id,
                 row_number() OVER (PARTITION BY ev.vec_id
                   ORDER BY round(list_dot_product(ev.emb, c.cemb), 6) DESC, c.cent_id) AS rn
          FROM e ev, c2 c) s WHERE rn = 1),
      probes AS (SELECT query_id, qemb, cell FROM (
          SELECT q.vec_id AS query_id, q.emb AS qemb, c.cent_id AS cell,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY round(list_dot_product(q.emb, c.cemb), 6) DESC, c.cent_id) AS rn
          FROM e q, c2 c WHERE q.vec_id < 5) s WHERE rn <= 3)
      SELECT query_id, neighbor_id, cos_sim, rn FROM (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               round(list_dot_product(a.emb, p.qemb), 6) AS cos_sim,
               CAST(row_number() OVER (PARTITION BY p.query_id
                 ORDER BY round(list_dot_product(a.emb, p.qemb), 6) DESC, a.vec_id) AS BIGINT) AS rn
        FROM assigned a JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.query_id) sub
      WHERE rn <= 5 ORDER BY query_id, rn"""))

  // ---------------------------------------------------------------------------
  // q_sim_pq_adc — product quantization + asymmetric-distance search
  // ---------------------------------------------------------------------------

  private[graft] val PqM = 8 // subspaces (64 dims / 8 per sub-vector)
  private[graft] val PqSubDim = 8

  /** Corpus in OFFSET-INCLUDED micro fixed point: x -> floor((x+2)*1e6),
    * always positive, so truncating division agrees across engines and L2
    * distances (translation-invariant) are exact BIGINT math end to end. */
  private[graft] def microEmbeddings(s: SparkSession, d: String): DataFrame =
    microEmbeddingRows(t(s, d, "embeddings"))

  /** Row-based twin of [[microEmbeddings]] (see [[normalizedEmbeddingRows]]). */
  private[graft] def microEmbeddingRows(rows: DataFrame): DataFrame =
    normalizedEmbeddingRows(rows).select(
      col("vec_id"),
      transform(col("emb"), x => floor((x + lit(2.0)) * lit(1000000.0)).cast("long")).as("xm"))

  /** One row per (`key`, subspace): the 8-dim micro sub-vector of `xm`. */
  private[graft] def subVectors(e: DataFrame, key: Seq[String] = Seq("vec_id")): DataFrame =
    e.select(
        key.map(col) :+ posexplode(transform(
          sequence(lit(0), lit(PqM - 1)),
          m => slice(col("xm"), m * PqSubDim + 1, lit(PqSubDim)))): _*)
      .toDF(key ++ Seq("m", "sub"): _*)

  /** Exact integer squared L2 between two micro sub-vectors. r19: was the
    * declarative fold `aggregate(zip_with(a,b,(x,y)->(x-y)*(x-y)), 0L, +)` —
    * higher-order functions are CodegenFallback, so each ADC-table row paid
    * an interpreted per-element lambda walk; the codegen'd kernel is one
    * JIT'd loop (both sides are fixed [[PqSubDim]]-wide slices, so
    * zip_with's unequal-length null-padding cannot arise). */
  private[graft] def subDist(a: Column, b: Column) =
    graft.functions.VectorFunctions.l2sqDist(a, b)

  /** Argmin assignment of every (vector, subspace) to its nearest
    * sub-centroid — (dist, cent_id) ordering, broadcast codebook. `dist`
    * (the winning exact integer squared L2) rides along: it is the
    * per-subspace quantization error, which the drift metric aggregates.
    *
    * Plan shape (r18 optimization round): the argmin is a per-row FOLD over
    * the per-subspace centroid list packed into a broadcast 8-row frame —
    * the [[graft.functions.VectorFunctions.nearestCentroid]] pattern. The
    * previous row_number window first exploded every (vec, m) row times
    * NCells through the broadcast join and then shuffled + sorted the
    * blown-up frame to pick rn=1; the fold keeps the corpus rows intact and
    * removes that exchange+sort outright (guide §2.4). Identical output:
    * candidates iterate in cent_id order and only a STRICTLY smaller dist
    * replaces the accumulator, so the winner is min by (dist, cent_id) —
    * exactly the old window's ordering. */
  private[graft] def pqAssign(subs: DataFrame, cents: DataFrame): DataFrame = {
    val packed = cents
      .groupBy("m")
      .agg(sort_array(collect_list(struct(col("cent_id"), col("cm")))).as("__cl"))
    subs.join(broadcast(packed), "m")
      // r19: the r18 higher-order `aggregate` fold here was CodegenFallback
      // — every (vec, m) row paid an interpreted NCells x PqSubDim lambda
      // walk with per-step struct allocation (the verdict's measured 6-31%
      // PQ-family wall regression). VectorOps.pqArgmin is its codegen'd twin: same
      // cent_id-ascending candidate order, same strictly-smaller-dist
      // replacement, same (Long.MaxValue, -1) empty accumulator.
      .withColumn("__best",
        graft.functions.VectorFunctions.pqArgmin(col("sub"), col("__cl")))
      .select(col("vec_id"), col("m"), col("sub"),
        col("__best").getField("c").as("cent_id"),
        col("__best").getField("dist").as("dist"))
  }

  /** Per-(subspace, cell) integer-mean refinement of an assignment. */
  private[graft] def pqStep(assigned: DataFrame): DataFrame =
    assigned.select(col("m"), col("cent_id"), posexplode(col("sub")))
      .toDF("m", "cent_id", "d", "x")
      .groupBy("m", "cent_id", "d")
      .agg(sum("x").as("sm"), count(lit(1)).as("n"))
      .withColumn("c", expr("sm div n"))
      .groupBy("m", "cent_id")
      .agg(transform(
        array_sort(collect_list(struct(col("d"), col("c")))),
        e => e.getField("c")).as("cm"))

  /** Fixed-size deterministic PQ seed sample (same hash rule as
    * [[CentroidSeed]], over the micro frame). */
  private[graft] def pqSeeds(em: DataFrame): DataFrame =
    em.select(col("vec_id"),
        (col("vec_id") % lit(1000003L) * lit(2654435761L) % lit(4294967296L)).as("h"))
      .orderBy("h", "vec_id").limit(graft.queries.CentroidSeed.NCells)
      .select(col("vec_id").as("cent_id"))

  /** One-Lloyd-round trained PQ sub-codebooks (m, cent_id, cm). */
  private[graft] def pqCodebook(subs: DataFrame, em: DataFrame): DataFrame = {
    val seeds = pqSeeds(em)
    val c0 = subs.join(broadcast(seeds), subs("vec_id") === seeds("cent_id"))
      .select(col("m"), col("cent_id"), col("sub").as("cm"))
    pqStep(pqAssign(subs, c0))
  }

  /** Residual micro vectors: `xm` minus the exact micro centroid (`cmm`)
    * of the row's `cell` — exact BIGINT math, output (keep..., xm). */
  private[graft] def residuals(withCell: DataFrame, coarse: DataFrame, keep: String*): DataFrame =
    withCell.join(broadcast(coarse.select(col("cent_id").as("cell"), col("cmm"))), "cell")
      .select(keep.map(col) :+ zip_with(col("xm"), col("cmm"), (x, c) => x - c).as("xm"): _*)

  /** The first `n` vectors' sub-vectors as ADC queries (query_id, m, sub). */
  private[graft] def querySubs(subs: DataFrame, n: Int): DataFrame =
    subs.filter(col("vec_id") < n).select(col("vec_id").as("query_id"), col("m"), col("sub"))

  /** ADC distance table: every query sub-vector's exact integer distance
    * to every sub-centroid of its subspace, keyed by `key` (the query, or
    * the query and a probed cell for residuals). */
  private[graft] def adcTable(qSubs: DataFrame, pqc1: DataFrame, key: String*): DataFrame =
    qSubs.join(broadcast(pqc1), "m")
      .select(key.map(col) ++ Seq(col("m"), col("cent_id"),
        subDist(col("sub"), col("cm")).as("qdist")): _*)

  /** IVF-PQ ADC distances (query_id, neighbor_id, adc_dist): probed-cell
    * candidates read their PQ codes and sum the broadcast table lookups. */
  private[graft] def adcDistances(
      cells: DataFrame, probes: DataFrame, codes: DataFrame,
      qTable: DataFrame, key: String*): DataFrame =
    probedCandidates(cells, probes)
      .select((key :+ "vec_id").map(col): _*)
      .join(codes, "vec_id")
      .join(broadcast(qTable), key ++ Seq("m", "cent_id"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum("qdist").as("adc_dist"))

  /** Plain IVF-PQ (FAISS by_residual=false): one distance table per query
    * from its (query_id, m, sub) rows. */
  private[graft] def ivfPqDistances(
      cells: DataFrame, probes: DataFrame, codes: DataFrame,
      qSubs: DataFrame, pqc1: DataFrame): DataFrame =
    adcDistances(cells, probes, codes, adcTable(qSubs, pqc1, "query_id"), "query_id")

  /** Residual IVF-PQ (FAISS by_residual=true): the query residual differs
    * per probed cell, so each (query, cell) gets its own distance table,
    * built from the query's (query_id, xm) micro vector. */
  private[graft] def ivfPqResidualDistances(
      cells: DataFrame, probes: DataFrame, codes: DataFrame,
      qxm: DataFrame, coarse: DataFrame, pqc1: DataFrame): DataFrame = {
    val key = Seq("query_id", "cell")
    val qSubs = subVectors(residuals(probes.join(qxm, "query_id"), coarse, key: _*), key)
    adcDistances(cells, probes, codes, adcTable(qSubs, pqc1, key: _*), key: _*)
  }

  /** ADC ranking: smallest summed distance first, neighbor-id tiebreak. */
  private[graft] def adcTopK(dists: DataFrame, k: Int): DataFrame =
    topK(dists, k, col("adc_dist"), col("neighbor_id"))

  /** Product quantization + asymmetric-distance (ADC) top-k — the memory
    * layout of every billion-vector index (FAISS IVFPQ's PQ half,
    * Jégou et al., TPAMI 2011): each vector stores only M sub-cell codes
    * (here 8, i.e. 8 small ints instead of 64 doubles), and a query scores
    * candidates by summing M table lookups of its precomputed
    * query-to-sub-centroid distances — no decode, no per-pair float math.
    * Sub-codebooks are one Lloyd round per subspace from the shared
    * fixed-size [[CentroidSeed]] sample (corpus-independent size, like the
    * IVF coarse quantizer). Every quantity is offset-included micro-integer
    * fixed point, so training, encoding, the distance table, and the ADC
    * sums are EXACT integer math — the DuckDB oracle replays the entire
    * train -> encode -> search lifecycle and hash-matches bit for bit.
    * Scale: codebook is M x NCells x 8 ints (broadcast, constant); codes
    * shuffle once keyed on (m, cent_id) against the broadcast query table;
    * the ADC agg is keyed on (query, vector). Composes with the IVF coarse
    * cells of q_sim_ivf_trained (probe cells first, then ADC within). */
  private val pqAdc = Q(
    "q_sim_pq_adc",
    (s, d) => {
      val e = microEmbeddings(s, d)
      val subs = subVectors(e).cache()
      val c1 = pqCodebook(subs, e).cache()
      val codes = pqAssign(subs, c1).select("vec_id", "m", "cent_id")
      adcTopK(
        codes.join(broadcast(adcTable(querySubs(subs, 5), c1, "query_id")), Seq("m", "cent_id"))
          .filter(col("vec_id") =!= col("query_id"))
          .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
          .agg(sum("qdist").as("adc_dist")),
        5)
    },
    Some(s"""WITH $sqlNormalized,
      em AS (SELECT vec_id,
               list_transform(emb, x -> CAST(floor((x + 2) * 1000000) AS BIGINT)) AS xm
             FROM e),
      subs AS (SELECT vec_id, mm.m AS m, xm[mm.m*$PqSubDim+1 : mm.m*$PqSubDim+$PqSubDim] AS sub
               FROM em, (SELECT unnest(range($PqM)) AS m) mm),
      sid AS (SELECT vec_id AS cent_id FROM em
              ORDER BY ((vec_id % 1000003) * 2654435761) % 4294967296, vec_id
              LIMIT ${graft.queries.CentroidSeed.NCells}),
      c0 AS (SELECT s.m, sid.cent_id, s.sub AS cm
             FROM subs s JOIN sid ON s.vec_id = sid.cent_id),
      a0 AS (SELECT vec_id, m, sub, cent_id FROM (
               SELECT s.vec_id, s.m, s.sub, c.cent_id,
                 row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
                   list_reduce(list_transform(range(1, ${PqSubDim + 1}),
                     i -> (s.sub[i]-c.cm[i])*(s.sub[i]-c.cm[i])), (x, y) -> x + y),
                   c.cent_id) AS rn
               FROM subs s JOIN c0 c ON s.m = c.m) WHERE rn = 1),
      g AS (SELECT m, cent_id, dd.d, CAST(sum(sub[dd.d]) AS BIGINT) AS sm, count(*) AS n
            FROM a0, (SELECT unnest(range(1, ${PqSubDim + 1})) AS d) dd
            GROUP BY m, cent_id, dd.d),
      c1 AS (SELECT m, cent_id, list(sm // n ORDER BY d) AS cm FROM g GROUP BY m, cent_id),
      codes AS (SELECT vec_id, m, cent_id FROM (
               SELECT s.vec_id, s.m, c.cent_id,
                 row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
                   list_reduce(list_transform(range(1, ${PqSubDim + 1}),
                     i -> (s.sub[i]-c.cm[i])*(s.sub[i]-c.cm[i])), (x, y) -> x + y),
                   c.cent_id) AS rn
               FROM subs s JOIN c1 c ON s.m = c.m) WHERE rn = 1),
      qt AS (SELECT s.vec_id AS query_id, s.m, c.cent_id,
               list_reduce(list_transform(range(1, ${PqSubDim + 1}),
                 i -> (s.sub[i]-c.cm[i])*(s.sub[i]-c.cm[i])), (x, y) -> x + y) AS qdist
             FROM subs s JOIN c1 c ON s.m = c.m WHERE s.vec_id < 5)
      SELECT query_id, neighbor_id, adc_dist, rn FROM (
        SELECT query_id, neighbor_id, adc_dist,
          CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY adc_dist, neighbor_id) AS BIGINT) AS rn
        FROM (SELECT q.query_id, a.vec_id AS neighbor_id,
                CAST(sum(q.qdist) AS BIGINT) AS adc_dist
              FROM codes a JOIN qt q ON a.m = q.m AND a.cent_id = q.cent_id
                AND a.vec_id <> q.query_id
              GROUP BY q.query_id, a.vec_id) sums) ranked
      WHERE rn <= 5 ORDER BY query_id, rn"""))

  /** IVF + PQ composed — the billion-scale index layout proper (FAISS
    * IVFPQ with by_residual=false): the trained coarse quantizer restricts
    * each query to its nprobe nearest cells, and ONLY vectors in probed
    * cells are ADC-scored from their 8 sub-codes. The corpus is touched
    * twice, both linearly: once to assign cells (broadcast coarse
    * codebook), once to encode PQ codes (broadcast sub-codebooks); a search
    * reads codes for probed cells only and sums broadcast table lookups —
    * at 100 TB that is nprobe/NCells of the corpus per query, in 8 bytes
    * per vector. (Production IVFPQ encodes residuals per cell; the
    * no-residual variant keeps one shared sub-codebook — FAISS's own
    * by_residual=false — and every quantity here stays integer-exact, so
    * the oracle replays coarse training, PQ training, encoding, probing,
    * and ADC end to end in one hash compare.) */
  private val ivfPq = Q(
    "q_sim_ivfpq",
    (s, d) => {
      val e = normalizedEmbeddings(s, d).cache()
      val c2 = trainedCodebook(e).cache()
      val cells = kmeansAssign(e, c2).select(col("vec_id"), col("cent_id").as("cell"))
      val em = microEmbeddings(s, d)
      val subs = subVectors(em).cache()
      val pqc1 = pqCodebook(subs, em).cache()
      val codes = pqAssign(subs, pqc1).select("vec_id", "m", "cent_id")
      adcTopK(
        ivfPqDistances(cells, probeCells(queryVectors(e, 5), c2, 3), codes,
          querySubs(subs, 5), pqc1),
        5)
    },
    Some(s"""WITH $sqlNormalized,
      dd AS (SELECT unnest(range(1, ${Dim + 1})) AS d),
      ${graft.queries.CentroidSeed.sqlSeedCte("c0")},
      ${sqlLloydRound(0, "c0")},
      ${sqlLloydRound(1, "c1")},
      cells AS (SELECT vec_id, cent_id AS cell FROM (
          SELECT ev.vec_id, c.cent_id,
                 row_number() OVER (PARTITION BY ev.vec_id
                   ORDER BY round(list_dot_product(ev.emb, c.cemb), 6) DESC, c.cent_id) AS rn
          FROM e ev, c2 c) s WHERE rn = 1),
      probes AS (SELECT query_id, cell FROM (
          SELECT q.vec_id AS query_id, c.cent_id AS cell,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY round(list_dot_product(q.emb, c.cemb), 6) DESC, c.cent_id) AS rn
          FROM e q, c2 c WHERE q.vec_id < 5) s WHERE rn <= 3),
      em AS (SELECT vec_id,
               list_transform(emb, x -> CAST(floor((x + 2) * 1000000) AS BIGINT)) AS xm
             FROM e),
      subs AS (SELECT vec_id, mm.m AS m, xm[mm.m*$PqSubDim+1 : mm.m*$PqSubDim+$PqSubDim] AS sub
               FROM em, (SELECT unnest(range($PqM)) AS m) mm),
      sid AS (SELECT vec_id AS cent_id FROM em
              ORDER BY ((vec_id % 1000003) * 2654435761) % 4294967296, vec_id
              LIMIT ${graft.queries.CentroidSeed.NCells}),
      pqc0 AS (SELECT s.m, sid.cent_id, s.sub AS cm
             FROM subs s JOIN sid ON s.vec_id = sid.cent_id),
      pqa0 AS (SELECT vec_id, m, sub, cent_id FROM (
               SELECT s.vec_id, s.m, s.sub, c.cent_id,
                 row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
                   list_reduce(list_transform(range(1, ${PqSubDim + 1}),
                     i -> (s.sub[i]-c.cm[i])*(s.sub[i]-c.cm[i])), (x, y) -> x + y),
                   c.cent_id) AS rn
               FROM subs s JOIN pqc0 c ON s.m = c.m) WHERE rn = 1),
      pqg AS (SELECT m, cent_id, pd.d, CAST(sum(sub[pd.d]) AS BIGINT) AS sm, count(*) AS n
            FROM pqa0, (SELECT unnest(range(1, ${PqSubDim + 1})) AS d) pd
            GROUP BY m, cent_id, pd.d),
      pqc1 AS (SELECT m, cent_id, list(sm // n ORDER BY d) AS cm FROM pqg GROUP BY m, cent_id),
      codes AS (SELECT vec_id, m, cent_id FROM (
               SELECT s.vec_id, s.m, c.cent_id,
                 row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
                   list_reduce(list_transform(range(1, ${PqSubDim + 1}),
                     i -> (s.sub[i]-c.cm[i])*(s.sub[i]-c.cm[i])), (x, y) -> x + y),
                   c.cent_id) AS rn
               FROM subs s JOIN pqc1 c ON s.m = c.m) WHERE rn = 1),
      qt AS (SELECT s.vec_id AS query_id, s.m, c.cent_id,
               list_reduce(list_transform(range(1, ${PqSubDim + 1}),
                 i -> (s.sub[i]-c.cm[i])*(s.sub[i]-c.cm[i])), (x, y) -> x + y) AS qdist
             FROM subs s JOIN pqc1 c ON s.m = c.m WHERE s.vec_id < 5)
      SELECT query_id, neighbor_id, adc_dist, rn FROM (
        SELECT query_id, neighbor_id, adc_dist,
          CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY adc_dist, neighbor_id) AS BIGINT) AS rn
        FROM (SELECT p.query_id, cl.vec_id AS neighbor_id,
                CAST(sum(q.qdist) AS BIGINT) AS adc_dist
              FROM cells cl
                JOIN probes p ON cl.cell = p.cell AND cl.vec_id <> p.query_id
                JOIN codes a ON a.vec_id = cl.vec_id
                JOIN qt q ON q.query_id = p.query_id AND q.m = a.m AND q.cent_id = a.cent_id
              GROUP BY p.query_id, cl.vec_id) sums) ranked
      WHERE rn <= 5 ORDER BY query_id, rn"""))

  // ---------------------------------------------------------------------------
  // q_sim_ivfpq_rerank — ADC shortlist + exact re-rank (FAISS IndexRefineFlat)
  // ---------------------------------------------------------------------------

  /** Re-rank shortlist width: k' = 4k. FAISS's refine stage defaults to a
    * small multiple of k; 4x is the conventional recall/cost point. */
  private[graft] val RerankKPrime = 20

  /** The production IVF-PQ search shape: ADC distances are approximate (8
    * codes stand in for 64 doubles), so recall@k is capped by quantization
    * error unless the top-k' ADC candidates are RE-RANKED by exact distance
    * against the raw vectors — FAISS `IndexRefineFlat`. The refine join
    * touches k' x queries raw vectors (a broadcast semi-join against the
    * corpus scan), never the corpus at large: at 100 TB the ADC stage reads
    * 8-byte codes for nprobe/NCells of the corpus and the refine stage reads
    * exactly k' raw vectors per query. The oracle replays both stages —
    * shortlist by integer ADC, then exact cosine over the shortlist — so the
    * two-stage ranking hash-matches end to end. */
  private val ivfPqRerank = Q(
    "q_sim_ivfpq_rerank",
    (s, d) => {
      val e = normalizedEmbeddings(s, d).cache()
      val c2 = trainedCodebook(e).cache()
      val cells = kmeansAssign(e, c2).select(col("vec_id"), col("cent_id").as("cell"))
      val em = microEmbeddings(s, d)
      val subs = subVectors(em).cache()
      val pqc1 = pqCodebook(subs, em).cache()
      val codes = pqAssign(subs, pqc1).select("vec_id", "m", "cent_id")
      // stage 1: ADC shortlist of k' candidates per query
      val wAdc = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
      val shortlist =
        ivfPqDistances(cells, probeCells(queryVectors(e, 5), c2, 3), codes,
            querySubs(subs, 5), pqc1)
          .withColumn("arn", row_number().over(wAdc))
          .filter(col("arn") <= RerankKPrime)
          .select("query_id", "neighbor_id")
      // stage 2: exact re-rank over the shortlisted raw vectors only
      refine(e, shortlist, 5, 5)
    },
    Some(s"""WITH $sqlNormalized,
      dd AS (SELECT unnest(range(1, ${Dim + 1})) AS d),
      ${graft.queries.CentroidSeed.sqlSeedCte("c0")},
      ${sqlLloydRound(0, "c0")},
      ${sqlLloydRound(1, "c1")},
      cells AS (SELECT vec_id, cent_id AS cell FROM (
          SELECT ev.vec_id, c.cent_id,
                 row_number() OVER (PARTITION BY ev.vec_id
                   ORDER BY round(list_dot_product(ev.emb, c.cemb), 6) DESC, c.cent_id) AS rn
          FROM e ev, c2 c) s WHERE rn = 1),
      probes AS (SELECT query_id, cell FROM (
          SELECT q.vec_id AS query_id, c.cent_id AS cell,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY round(list_dot_product(q.emb, c.cemb), 6) DESC, c.cent_id) AS rn
          FROM e q, c2 c WHERE q.vec_id < 5) s WHERE rn <= 3),
      em AS (SELECT vec_id,
               list_transform(emb, x -> CAST(floor((x + 2) * 1000000) AS BIGINT)) AS xm
             FROM e),
      subs AS (SELECT vec_id, mm.m AS m, xm[mm.m*$PqSubDim+1 : mm.m*$PqSubDim+$PqSubDim] AS sub
               FROM em, (SELECT unnest(range($PqM)) AS m) mm),
      sid AS (SELECT vec_id AS cent_id FROM em
              ORDER BY ((vec_id % 1000003) * 2654435761) % 4294967296, vec_id
              LIMIT ${graft.queries.CentroidSeed.NCells}),
      pqc0 AS (SELECT s.m, sid.cent_id, s.sub AS cm
             FROM subs s JOIN sid ON s.vec_id = sid.cent_id),
      pqa0 AS (SELECT vec_id, m, sub, cent_id FROM (
               SELECT s.vec_id, s.m, s.sub, c.cent_id,
                 row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
                   list_reduce(list_transform(range(1, ${PqSubDim + 1}),
                     i -> (s.sub[i]-c.cm[i])*(s.sub[i]-c.cm[i])), (x, y) -> x + y),
                   c.cent_id) AS rn
               FROM subs s JOIN pqc0 c ON s.m = c.m) WHERE rn = 1),
      pqg AS (SELECT m, cent_id, pd.d, CAST(sum(sub[pd.d]) AS BIGINT) AS sm, count(*) AS n
            FROM pqa0, (SELECT unnest(range(1, ${PqSubDim + 1})) AS d) pd
            GROUP BY m, cent_id, pd.d),
      pqc1 AS (SELECT m, cent_id, list(sm // n ORDER BY d) AS cm FROM pqg GROUP BY m, cent_id),
      codes AS (SELECT vec_id, m, cent_id FROM (
               SELECT s.vec_id, s.m, c.cent_id,
                 row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
                   list_reduce(list_transform(range(1, ${PqSubDim + 1}),
                     i -> (s.sub[i]-c.cm[i])*(s.sub[i]-c.cm[i])), (x, y) -> x + y),
                   c.cent_id) AS rn
               FROM subs s JOIN pqc1 c ON s.m = c.m) WHERE rn = 1),
      qt AS (SELECT s.vec_id AS query_id, s.m, c.cent_id,
               list_reduce(list_transform(range(1, ${PqSubDim + 1}),
                 i -> (s.sub[i]-c.cm[i])*(s.sub[i]-c.cm[i])), (x, y) -> x + y) AS qdist
             FROM subs s JOIN pqc1 c ON s.m = c.m WHERE s.vec_id < 5),
      shortlist AS (SELECT query_id, neighbor_id FROM (
        SELECT query_id, neighbor_id,
          row_number() OVER (PARTITION BY query_id
            ORDER BY adc_dist, neighbor_id) AS arn
        FROM (SELECT p.query_id, cl.vec_id AS neighbor_id,
                CAST(sum(q.qdist) AS BIGINT) AS adc_dist
              FROM cells cl
                JOIN probes p ON cl.cell = p.cell AND cl.vec_id <> p.query_id
                JOIN codes a ON a.vec_id = cl.vec_id
                JOIN qt q ON q.query_id = p.query_id AND q.m = a.m AND q.cent_id = a.cent_id
              GROUP BY p.query_id, cl.vec_id) sums) ranked
        WHERE arn <= $RerankKPrime)
      SELECT query_id, neighbor_id, score, rn FROM (
        SELECT sl.query_id, sl.neighbor_id,
               round(list_dot_product(n.emb, q.emb), 6) AS score,
               CAST(row_number() OVER (PARTITION BY sl.query_id
                 ORDER BY round(list_dot_product(n.emb, q.emb), 6) DESC, sl.neighbor_id) AS BIGINT) AS rn
        FROM shortlist sl
          JOIN e n ON n.vec_id = sl.neighbor_id
          JOIN e q ON q.vec_id = sl.query_id) refined
      WHERE rn <= 5 ORDER BY query_id, rn"""))

  // ---------------------------------------------------------------------------
  // q_sim_ivfpq_residual — residual PQ (FAISS by_residual=true, the default)
  // ---------------------------------------------------------------------------

  /** IVF-PQ over RESIDUALS — FAISS's accuracy-critical default
    * (`by_residual=true`): each vector's sub-codes quantize (x - centroid of
    * its coarse cell), not x itself. Residuals have far smaller variance
    * than raw vectors, so the same 8 sub-codes spend their resolution on the
    * within-cell structure — lower quantization error at identical storage
    * (QuantSpec pins the error drop vs the no-residual path). Integer
    * exactness is preserved end to end: the corpus is offset-included micro
    * fixed point (xm in [1e6, 3e6]) and the trained centroid micro
    * components (cmm in [-1e6, 1e6]) are exact BIGINTs, so the residual
    * xm - cmm is an exact NON-NEGATIVE BIGINT (in [0, 4e6]) — truncating
    * division still agrees across engines during PQ training. The query side
    * pays the residual price: its distance table is per PROBED CELL (the
    * query residual differs per cell), i.e. nprobe tables of M x NCells
    * lookups — still a broadcast. The oracle replays coarse training,
    * residual encoding, per-cell tables, and ADC in one hash compare. */
  private val ivfPqResidual = Q(
    "q_sim_ivfpq_residual",
    (s, d) => {
      val e = normalizedEmbeddings(s, d).cache()
      val c2 = trainedCodebook(e).cache()
      // cached: feeds BOTH the residual encode and the probed-cell candidate
      // join — uncached, the argmax window would evaluate once per branch
      val assigned = kmeansAssign(e, c2).select(col("vec_id"), col("cent_id").as("cell")).cache()
      // cached: the micro frame feeds both the corpus-residual branch and
      // the per-probed-cell query-residual branch
      val em = microEmbeddings(s, d).cache()
      // corpus residuals vs the OWN assigned cell's exact micro centroid
      val resid = residuals(em.join(assigned, "vec_id"), c2, "vec_id").cache()
      val subs = subVectors(resid).cache()
      val pqc1 = pqCodebook(subs, resid).cache()
      val codes = pqAssign(subs, pqc1).select("vec_id", "m", "cent_id")
      adcTopK(
        ivfPqResidualDistances(assigned, probeCells(queryVectors(e, 5), c2, 3), codes,
          em.select(col("vec_id").as("query_id"), col("xm")), c2, pqc1),
        5)
    },
    Some(s"""WITH $sqlNormalized,
      dd AS (SELECT unnest(range(1, ${Dim + 1})) AS d),
      ${graft.queries.CentroidSeed.sqlSeedCte("c0")},
      ${sqlLloydRound(0, "c0")},
      ${sqlLloydRound(1, "c1")},
      cells AS (SELECT vec_id, cent_id AS cell FROM (
          SELECT ev.vec_id, c.cent_id,
                 row_number() OVER (PARTITION BY ev.vec_id
                   ORDER BY round(list_dot_product(ev.emb, c.cemb), 6) DESC, c.cent_id) AS rn
          FROM e ev, c2 c) s WHERE rn = 1),
      probes AS (SELECT query_id, cell FROM (
          SELECT q.vec_id AS query_id, c.cent_id AS cell,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY round(list_dot_product(q.emb, c.cemb), 6) DESC, c.cent_id) AS rn
          FROM e q, c2 c WHERE q.vec_id < 5) s WHERE rn <= 3),
      em AS (SELECT vec_id,
               list_transform(emb, x -> CAST(floor((x + 2) * 1000000) AS BIGINT)) AS xm
             FROM e),
      resid AS (SELECT em.vec_id,
                  list_transform(range(1, ${Dim + 1}), i -> em.xm[i] - c.cmm[i]) AS xm
                FROM em JOIN cells cl ON em.vec_id = cl.vec_id
                  JOIN c2 c ON c.cent_id = cl.cell),
      subs AS (SELECT vec_id, mm.m AS m, xm[mm.m*$PqSubDim+1 : mm.m*$PqSubDim+$PqSubDim] AS sub
               FROM resid, (SELECT unnest(range($PqM)) AS m) mm),
      sid AS (SELECT vec_id AS cent_id FROM resid
              ORDER BY ((vec_id % 1000003) * 2654435761) % 4294967296, vec_id
              LIMIT ${graft.queries.CentroidSeed.NCells}),
      pqc0 AS (SELECT s.m, sid.cent_id, s.sub AS cm
             FROM subs s JOIN sid ON s.vec_id = sid.cent_id),
      pqa0 AS (SELECT vec_id, m, sub, cent_id FROM (
               SELECT s.vec_id, s.m, s.sub, c.cent_id,
                 row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
                   list_reduce(list_transform(range(1, ${PqSubDim + 1}),
                     i -> (s.sub[i]-c.cm[i])*(s.sub[i]-c.cm[i])), (x, y) -> x + y),
                   c.cent_id) AS rn
               FROM subs s JOIN pqc0 c ON s.m = c.m) WHERE rn = 1),
      pqg AS (SELECT m, cent_id, pd.d, CAST(sum(sub[pd.d]) AS BIGINT) AS sm, count(*) AS n
            FROM pqa0, (SELECT unnest(range(1, ${PqSubDim + 1})) AS d) pd
            GROUP BY m, cent_id, pd.d),
      pqc1 AS (SELECT m, cent_id, list(sm // n ORDER BY d) AS cm FROM pqg GROUP BY m, cent_id),
      codes AS (SELECT vec_id, m, cent_id FROM (
               SELECT s.vec_id, s.m, c.cent_id,
                 row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
                   list_reduce(list_transform(range(1, ${PqSubDim + 1}),
                     i -> (s.sub[i]-c.cm[i])*(s.sub[i]-c.cm[i])), (x, y) -> x + y),
                   c.cent_id) AS rn
               FROM subs s JOIN pqc1 c ON s.m = c.m) WHERE rn = 1),
      qresid AS (SELECT p.query_id, p.cell,
                   list_transform(range(1, ${Dim + 1}), i -> em.xm[i] - c.cmm[i]) AS xm
                 FROM probes p JOIN em ON em.vec_id = p.query_id
                   JOIN c2 c ON c.cent_id = p.cell),
      qsubs AS (SELECT query_id, cell, mm.m AS m,
                  xm[mm.m*$PqSubDim+1 : mm.m*$PqSubDim+$PqSubDim] AS sub
                FROM qresid, (SELECT unnest(range($PqM)) AS m) mm),
      qt AS (SELECT s.query_id, s.cell, s.m, c.cent_id,
               list_reduce(list_transform(range(1, ${PqSubDim + 1}),
                 i -> (s.sub[i]-c.cm[i])*(s.sub[i]-c.cm[i])), (x, y) -> x + y) AS qdist
             FROM qsubs s JOIN pqc1 c ON s.m = c.m)
      SELECT query_id, neighbor_id, adc_dist, rn FROM (
        SELECT query_id, neighbor_id, adc_dist,
          CAST(row_number() OVER (PARTITION BY query_id
            ORDER BY adc_dist, neighbor_id) AS BIGINT) AS rn
        FROM (SELECT p.query_id, cl.vec_id AS neighbor_id,
                CAST(sum(q.qdist) AS BIGINT) AS adc_dist
              FROM cells cl
                JOIN probes p ON cl.cell = p.cell AND cl.vec_id <> p.query_id
                JOIN codes a ON a.vec_id = cl.vec_id
                JOIN qt q ON q.query_id = p.query_id AND q.cell = cl.cell
                  AND q.m = a.m AND q.cent_id = a.cent_id
              GROUP BY p.query_id, cl.vec_id) sums) ranked
      WHERE rn <= 5 ORDER BY query_id, rn"""))

  // ---------------------------------------------------------------------------
  // q_index_drift — codebook staleness metric (rebuild trigger)
  // ---------------------------------------------------------------------------

  /** The staleness metric behind the append-without-retrain lifecycle
    * ([[graft.operators.VectorIndex.appendIvfPq]]): sub-codebooks trained on
    * the lower half of the corpus encode BOTH halves, and the per-slice mean
    * PQ quantization error (exact integer squared L2 to the assigned
    * sub-centroid, summed over subspaces) is the drift signal — when the
    * delta's mean error pulls away from the training slice's, the codebook
    * no longer fits the incoming distribution and a rebuild is due
    * (VectorIndex.driftRatio applies the documented threshold against a
    * STORED index). Everything is BIGINT: sums of integer squared
    * distances, means by truncating division — one hash compare covers
    * train, encode, and the error accounting. */
  private val indexDrift = Q(
    "q_index_drift",
    (s, d) => {
      val em = microEmbeddings(s, d).cache()
      // deterministic split: codebook trains on the lower half of vec_ids
      val bound = em.agg(max("vec_id")).head().getLong(0) / 2 + 1
      val trainEm = em.filter(col("vec_id") < bound)
      val trainSubs = subVectors(trainEm).cache()
      val pqc1 = pqCodebook(trainSubs, trainEm).cache()
      pqAssign(subVectors(em), pqc1)
        .groupBy("vec_id")
        .agg(sum("dist").as("qerr"))
        .select(
          when(col("vec_id") < bound, lit("train")).otherwise(lit("delta")).as("slice"),
          col("qerr"))
        .groupBy("slice")
        .agg(count(lit(1)).as("n"), sum("qerr").as("total_err"))
        .withColumn("mean_err", expr("total_err div n"))
        .orderBy("slice")
    },
    Some(s"""WITH $sqlNormalized,
      em AS (SELECT vec_id,
               list_transform(emb, x -> CAST(floor((x + 2) * 1000000) AS BIGINT)) AS xm
             FROM e),
      bound AS (SELECT max(vec_id) // 2 + 1 AS b FROM em),
      subs AS (SELECT vec_id, mm.m AS m, xm[mm.m*$PqSubDim+1 : mm.m*$PqSubDim+$PqSubDim] AS sub
               FROM em, (SELECT unnest(range($PqM)) AS m) mm),
      tsubs AS (SELECT s.* FROM subs s, bound WHERE s.vec_id < bound.b),
      sid AS (SELECT vec_id AS cent_id FROM em, bound WHERE vec_id < bound.b
              ORDER BY ((vec_id % 1000003) * 2654435761) % 4294967296, vec_id
              LIMIT ${graft.queries.CentroidSeed.NCells}),
      pqc0 AS (SELECT s.m, sid.cent_id, s.sub AS cm
             FROM tsubs s JOIN sid ON s.vec_id = sid.cent_id),
      pqa0 AS (SELECT vec_id, m, sub, cent_id FROM (
               SELECT s.vec_id, s.m, s.sub, c.cent_id,
                 row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
                   list_reduce(list_transform(range(1, ${PqSubDim + 1}),
                     i -> (s.sub[i]-c.cm[i])*(s.sub[i]-c.cm[i])), (x, y) -> x + y),
                   c.cent_id) AS rn
               FROM tsubs s JOIN pqc0 c ON s.m = c.m) WHERE rn = 1),
      pqg AS (SELECT m, cent_id, pd.d, CAST(sum(sub[pd.d]) AS BIGINT) AS sm, count(*) AS n
            FROM pqa0, (SELECT unnest(range(1, ${PqSubDim + 1})) AS d) pd
            GROUP BY m, cent_id, pd.d),
      pqc1 AS (SELECT m, cent_id, list(sm // n ORDER BY d) AS cm FROM pqg GROUP BY m, cent_id),
      errs AS (SELECT vec_id, CAST(sum(dist) AS BIGINT) AS qerr FROM (
               SELECT s.vec_id, s.m, c.cent_id,
                 list_reduce(list_transform(range(1, ${PqSubDim + 1}),
                   i -> (s.sub[i]-c.cm[i])*(s.sub[i]-c.cm[i])), (x, y) -> x + y) AS dist,
                 row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY
                   list_reduce(list_transform(range(1, ${PqSubDim + 1}),
                     i -> (s.sub[i]-c.cm[i])*(s.sub[i]-c.cm[i])), (x, y) -> x + y),
                   c.cent_id) AS rn
               FROM subs s JOIN pqc1 c ON s.m = c.m) a WHERE rn = 1 GROUP BY vec_id)
      SELECT slice, n, total_err, total_err // n AS mean_err FROM (
        SELECT CASE WHEN e.vec_id < bound.b THEN 'train' ELSE 'delta' END AS slice,
               count(*) AS n, CAST(sum(qerr) AS BIGINT) AS total_err
        FROM errs e, bound GROUP BY 1) g
      ORDER BY slice"""))

  // ---------------------------------------------------------------------------
  // q_sim_range — radius search (FAISS range_search), IVF-probed
  // ---------------------------------------------------------------------------

  /** Radius search — the OTHER half of the ANN API beside top-k (FAISS
    * `range_search`): return every probed-cell vector whose exact cosine to
    * the query clears a fixed threshold, however many or few that is. The
    * shape matters for pipelines that want "all matches above τ" (dedup
    * sweeps, recall-oriented retrieval) where a fixed k either truncates or
    * pads. Same scale story as q_sim_ivf_trained — trained coarse cells,
    * broadcast probes, exact verify only inside probed cells, and NO window
    * at all (a pure filter, cheaper than top-k at 100 TB: no per-query
    * ranking state). The oracle replays training, probing, and threshold
    * end to end. */
  private val rangeSearch = Q(
    "q_sim_range",
    (s, d) => {
      val e = normalizedEmbeddings(s, d).cache()
      val c2 = trainedCodebook(e).cache()
      val assigned = kmeansAssign(e, c2)
        .select(col("vec_id"), col("emb"), col("cent_id").as("cell"))
      radiusSearch(
        probedCandidates(assigned, probeCells(queryVectors(e, 5), c2, 3, "qemb")), 0.3)
    },
    Some(s"""WITH $sqlNormalized,
      dd AS (SELECT unnest(range(1, ${Dim + 1})) AS d),
      ${CentroidSeed.sqlSeedCte("c0")},
      ${sqlLloydRound(0, "c0")},
      ${sqlLloydRound(1, "c1")},
      assigned AS (SELECT vec_id, emb, cent_id AS cell FROM (
          SELECT ev.vec_id, ev.emb, c.cent_id,
                 row_number() OVER (PARTITION BY ev.vec_id
                   ORDER BY round(list_dot_product(ev.emb, c.cemb), 6) DESC, c.cent_id) AS rn
          FROM e ev, c2 c) s WHERE rn = 1),
      probes AS (SELECT query_id, qemb, cell FROM (
          SELECT q.vec_id AS query_id, q.emb AS qemb, c.cent_id AS cell,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY round(list_dot_product(q.emb, c.cemb), 6) DESC, c.cent_id) AS rn
          FROM e q, c2 c WHERE q.vec_id < 5) s WHERE rn <= 3)
      SELECT query_id, neighbor_id, score FROM (
        SELECT p.query_id, a.vec_id AS neighbor_id,
               round(list_dot_product(a.emb, p.qemb), 6) AS score
        FROM assigned a JOIN probes p ON a.cell = p.cell AND a.vec_id <> p.query_id) sub
      WHERE score >= 0.3 ORDER BY query_id, neighbor_id"""))

  // ---------------------------------------------------------------------------
  // q_sim_maxsim — late-interaction multi-vector scoring (ColBERT MaxSim)
  // ---------------------------------------------------------------------------

  /** Late-interaction retrieval scoring (ColBERT's MaxSim, Khattab &
    * Zaharia, SIGIR 2020): the query is a SET of vectors (here the 5 query
    * embeddings) and each candidate "document" is a set too (the corpus's
    * label groups); score(Q, G) = Σ_{q∈Q} max_{v∈G} cos(q, v). This is the
    * scoring shape multi-vector retrievers need and single-vector top-k
    * cannot express — the max rewards a group for covering EACH query
    * vector somewhere, not on average. One broadcast of the query set, one
    * corpus scan computing |Q| cosines per vector (codegen'd dot), then two
    * tiny keyed aggs: max over (group, query) and sum over group — no pair
    * space, linear at any corpus size, and groups shard naturally. Cosines
    * convert to micro-integers BEFORE the aggregates (identical left-fold
    * dot in both engines → identical double → identical floor), so max and
    * sum are exact BIGINT math and the hash compare is airtight. Query
    * vectors themselves are excluded from the corpus side. */
  private val maxSim = Q(
    "q_sim_maxsim",
    (s, d) => {
      val el = t(s, d, "embeddings").select(
        col("vec_id"), col("label"),
        l2Normalize(col("embedding").cast("array<double>")).as("emb"))
      val q = el.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
      val w = Window.orderBy(desc("maxsim_micro"), asc("label"))
      el.filter(col("vec_id") >= 5)
        .crossJoin(broadcast(q))
        .select(col("label"), col("query_id"),
          floor(dot(col("emb"), col("qemb")) * lit(1000000.0) + lit(0.5)).cast("long")
            .as("cos_micro"))
        .groupBy("label", "query_id")
        .agg(max("cos_micro").as("mx"))
        .groupBy("label")
        .agg(sum("mx").as("maxsim_micro"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .orderBy("rn")
    },
    Some(s"""WITH e0 AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS de FROM embeddings),
      el AS (SELECT vec_id, label,
               list_transform(de, x -> x / sqrt(list_reduce(list_transform(de, y -> y*y), (a, b) -> a + b))) AS emb
             FROM e0),
      q AS (SELECT vec_id AS query_id, emb AS qemb FROM el WHERE vec_id < 5),
      scored AS (SELECT c.label, q.query_id,
                   CAST(floor(list_dot_product(c.emb, q.qemb) * 1000000 + 0.5) AS BIGINT) AS cos_micro
                 FROM el c, q WHERE c.vec_id >= 5),
      mx AS (SELECT label, query_id, max(cos_micro) AS mx FROM scored GROUP BY label, query_id),
      gs AS (SELECT label, CAST(sum(mx) AS BIGINT) AS maxsim_micro FROM mx GROUP BY label)
      SELECT label, maxsim_micro,
             CAST(row_number() OVER (ORDER BY maxsim_micro DESC, label) AS BIGINT) AS rn
      FROM gs ORDER BY rn"""))

  // ---------------------------------------------------------------------------
  // q_sample_clusters — cluster-balanced subsampling (embedding-space curation)
  // ---------------------------------------------------------------------------

  /** Cluster-balanced subsampling — the embedding-space twin of
    * `q_lang_balance`'s per-language cap and the selection step of
    * cluster-based curation pipelines (SemDeDup-family): train the coarse
    * codebook, assign every vector, then keep at most `cap` vectors per
    * cell so dense regions of embedding space stop dominating the training
    * mix. The keep choice is the same RNG-free multiplicative id-hash rank
    * the seed sampler uses (reshuffle-stable, reproducible across runs and
    * engines); output is the per-cell accounting a recipe dial consumes.
    * Scale: assignment is the usual broadcast argmax scan; the cap is one
    * window over the cell key (cells are few, members many — the window
    * partitions shard the corpus, never a global sort); the rollup is
    * cell-keyed. The oracle replays training, assignment, hash-rank
    * selection, and the rollup. */
  private val sampleClusters = Q(
    "q_sample_clusters",
    (s, d) => {
      val e = normalizedEmbeddings(s, d).cache()
      val c2 = trainedCodebook(e).cache()
      sampleCells(kmeansAssign(e, c2).select(col("vec_id"), col("cent_id").as("cell")), 40)
    },
    Some(s"""WITH $sqlNormalized,
      dd AS (SELECT unnest(range(1, ${Dim + 1})) AS d),
      ${CentroidSeed.sqlSeedCte("c0")},
      ${sqlLloydRound(0, "c0")},
      ${sqlLloydRound(1, "c1")},
      assigned AS (SELECT vec_id, cent_id AS cell,
                     ((vec_id % 1000003) * 2654435761) % 4294967296 AS h FROM (
          SELECT ev.vec_id, c.cent_id,
                 row_number() OVER (PARTITION BY ev.vec_id
                   ORDER BY round(list_dot_product(ev.emb, c.cemb), 6) DESC, c.cent_id) AS rn
          FROM e ev, c2 c) s WHERE rn = 1),
      ranked AS (SELECT cell,
                   row_number() OVER (PARTITION BY cell ORDER BY h, vec_id) AS rn
                 FROM assigned)
      SELECT cell, count(*) AS n_members,
             CAST(sum(CASE WHEN rn <= 40 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept
      FROM ranked GROUP BY cell ORDER BY cell"""))

  // ---------------------------------------------------------------------------
  // q_sim_binary — 1-bit binary quantization + Hamming shortlist + exact rerank
  // ---------------------------------------------------------------------------

  /** Adds the packed sign words (w0, w1) to any frame carrying an `emb`
    * column — the narrow fold rides whatever scan produced the frame.
    * Sign-bit binary codes: dimension j contributes bit j iff its component
    * is positive, packed into two 32-bit words held in BIGINTs (a single
    * 64-bit word would need 2^63 — an ANSI overflow; two halves keep every
    * partial sum positive). 8 bytes/vector — the 64x compression floor of
    * the quantization family (SQ8 = 64 B, PQ = 8 B codes + codebook). */
  private[graft] def withBinaryWords(df: DataFrame): DataFrame =
    // codegen'd sign-words kernel (r19): the two aggregate folds
    // interpreted 64 lambda steps per row (bit-parity pinned in
    // FunctionsSpec, incl. the strict > 0 test on -0.0)
    df
      .withColumn("sw_", graft.functions.VectorFunctions.signWords(col("emb")))
      .withColumn("w0", element_at(col("sw_"), 1))
      .withColumn("w1", element_at(col("sw_"), 2))
      .drop("sw_")

  private[graft] def binaryCodes(e: DataFrame): DataFrame =
    withBinaryWords(e).select("vec_id", "w0", "w1")

  /** The binary search shared by `q_sim_binary` (codes packed in-query) and
    * `VectorIndex.searchBinary` (codes read from the stored `bits` table):
    * Hamming shortlist over the packed words, exact cosine rerank touching
    * only the shortlisted raw vectors. Row-identical by construction across
    * the two call sites (pinned in QuantSpec). */
  private[graft] def binarySearch(
      codes: DataFrame, e: DataFrame,
      nQueries: Int = 5, shortlistK: Int = 20, k: Int = 5): DataFrame = {
    val q = broadcast(codes.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("w0").as("q0"), col("w1").as("q1")))
    val cand = codes.join(q, col("vec_id") =!= col("query_id"))
      .select(
        col("query_id"), col("vec_id").as("neighbor_id"),
        (expr("bit_count(w0 ^ q0)") + expr("bit_count(w1 ^ q1)")).cast("long").as("hamming"))
    val wh = Window.partitionBy("query_id").orderBy(asc("hamming"), asc("neighbor_id"))
    val short = cand.withColumn("hrn", row_number().over(wh)).filter(col("hrn") <= shortlistK)
    topK(
      broadcast(short)
        .join(e, short("neighbor_id") === e("vec_id"))
        .join(broadcast(queryVectors(e, nQueries)), "query_id")
        .select(col("query_id"), col("neighbor_id"), col("hamming"),
          round(dot(col("emb"), col("qemb")), 6).as("cos_sim")),
      k, desc("cos_sim"), asc("neighbor_id"))
  }

  /** Binary-quantized ANN (the FAISS IndexBinaryFlat + refine shape): top-5
    * neighbors for 5 query vectors, Hamming distance over the packed sign
    * bits (integer-exact: bit_count of the XOR'd words) shortlists k' = 20
    * candidates, and an EXACT cosine rerank over only the shortlisted raw
    * vectors produces the final ranking — rerank cost is per-shortlist, not
    * per-candidate. Query side broadcasts both times; the corpus is scanned
    * once for codes (narrow fold against the scan) and touched again only
    * for the <= 100 shortlisted rows (broadcast equi-join on vec_id). The
    * oracle replays pack → XOR/popcount → rerank with the identical
    * operation sequence. */
  private val binaryAnn = Q(
    "q_sim_binary",
    (s, d) => {
      val e = normalizedEmbeddings(s, d).cache()
      binarySearch(binaryCodes(e), e)
    },
    Some(s"""WITH $sqlNormalized,
      b AS (SELECT vec_id,
              CAST(list_sum(list_transform(range(0, 32),
                j -> CASE WHEN emb[j + 1] > 0 THEN (1::BIGINT << j) ELSE 0::BIGINT END)) AS BIGINT) AS w0,
              CAST(list_sum(list_transform(range(32, 64),
                j -> CASE WHEN emb[j + 1] > 0 THEN (1::BIGINT << (j - 32)) ELSE 0::BIGINT END)) AS BIGINT) AS w1
            FROM e),
      q AS (SELECT vec_id AS query_id, w0 AS q0, w1 AS q1 FROM b WHERE vec_id < 5),
      cand AS (SELECT q.query_id, n.vec_id AS neighbor_id,
                 CAST(bit_count(xor(n.w0, q.q0)) + bit_count(xor(n.w1, q.q1)) AS BIGINT) AS hamming
               FROM b n JOIN q ON n.vec_id <> q.query_id),
      short AS (SELECT * FROM (
                  SELECT *, row_number() OVER (
                    PARTITION BY query_id ORDER BY hamming, neighbor_id) AS hrn
                  FROM cand) sub WHERE hrn <= 20),
      r AS (SELECT s.query_id, s.neighbor_id, s.hamming,
              round(list_dot_product(ne.emb, qe.emb), 6) AS cos_sim
            FROM short s JOIN e ne ON s.neighbor_id = ne.vec_id
                         JOIN e qe ON s.query_id = qe.vec_id)
      SELECT query_id, neighbor_id, hamming, cos_sim, rn FROM (
        SELECT *, CAST(row_number() OVER (
          PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rn
        FROM r) sub
      WHERE rn <= 5 ORDER BY query_id, rn"""))

  // ---------------------------------------------------------------------------
  // q_sim_binary_ivf — coarse cells over binary codes (FAISS IndexBinaryIVF)
  // ---------------------------------------------------------------------------

  /** Binary codes UNDER a coarse quantizer — the FAISS IndexBinaryIVF
    * layout: vectors assign to the fixed `CentroidSeed` cells (the IVF
    * family's corpus-independent codebook), queries probe their nprobe = 4
    * closest cells, and ranking inside the probed cells is pure integer
    * Hamming over the packed sign words. Where `q_sim_binary` scans every
    * code, this touches nprobe/NCells of them — the cell equi-join is the
    * same scale shape as `q_sim_ivf_ann`, with an 8-byte code payload
    * instead of raw vectors. Ranking is FP-free end to end (cell
    * assignment uses the family's rounded-cosine tie-broken top-1, mirrored
    * verbatim), so the oracle is exact. */
  private val binaryIvf = Q(
    "q_sim_binary_ivf",
    (s, d) => {
      val e = normalizedEmbeddings(s, d).cache()
      val centroids = CentroidSeed.seeds(e)
      val packed = withBinaryWords(
        nearestCentroid(e, centroids)
          .select(col("vec_id"), col("emb"), col("cent_id").as("cell")))
        .select("vec_id", "cell", "w0", "w1")
      val queries = withBinaryWords(e.filter(col("vec_id") < 5))
        .select(col("vec_id").as("query_id"), col("emb").as("qemb"),
          col("w0").as("q0"), col("w1").as("q1"))
      topK(
        probedCandidates(packed, probeCells(queries, centroids, 4, "q0", "q1"))
          .select(col("query_id"), col("vec_id").as("neighbor_id"), col("cell"),
            (expr("bit_count(w0 ^ q0)") + expr("bit_count(w1 ^ q1)")).cast("long").as("hamming")),
        5, asc("hamming"), asc("neighbor_id"))
    },
    Some(s"""WITH $sqlNormalized,
      ${CentroidSeed.sqlSeedCte("cent")},
      b AS (SELECT vec_id,
              CAST(list_sum(list_transform(range(0, 32),
                j -> CASE WHEN emb[j + 1] > 0 THEN (1::BIGINT << j) ELSE 0::BIGINT END)) AS BIGINT) AS w0,
              CAST(list_sum(list_transform(range(32, 64),
                j -> CASE WHEN emb[j + 1] > 0 THEN (1::BIGINT << (j - 32)) ELSE 0::BIGINT END)) AS BIGINT) AS w1
            FROM e),
      assigned AS (
        SELECT vec_id, cell FROM (
          SELECT ev.vec_id, c.cent_id AS cell,
                 row_number() OVER (PARTITION BY ev.vec_id
                   ORDER BY round(list_dot_product(ev.emb, c.cemb), 6) DESC, c.cent_id) AS rn
          FROM e ev, cent c) sub WHERE rn = 1),
      ac AS (SELECT a.vec_id, a.cell, b.w0, b.w1 FROM assigned a JOIN b ON a.vec_id = b.vec_id),
      probes AS (
        SELECT query_id, cell FROM (
          SELECT q.vec_id AS query_id, c.cent_id AS cell,
                 row_number() OVER (PARTITION BY q.vec_id
                   ORDER BY round(list_dot_product(q.emb, c.cemb), 6) DESC, c.cent_id) AS rn
          FROM e q, cent c WHERE q.vec_id < 5) sub WHERE rn <= 4),
      pq AS (SELECT p.query_id, p.cell, b.w0 AS q0, b.w1 AS q1
             FROM probes p JOIN b ON p.query_id = b.vec_id)
      SELECT query_id, neighbor_id, cell, hamming, rn FROM (
        SELECT pq.query_id, ac.vec_id AS neighbor_id, ac.cell,
               CAST(bit_count(xor(ac.w0, pq.q0)) + bit_count(xor(ac.w1, pq.q1)) AS BIGINT) AS hamming,
               CAST(row_number() OVER (PARTITION BY pq.query_id
                 ORDER BY bit_count(xor(ac.w0, pq.q0)) + bit_count(xor(ac.w1, pq.q1)),
                          ac.vec_id) AS BIGINT) AS rn
        FROM ac JOIN pq ON ac.cell = pq.cell AND ac.vec_id <> pq.query_id) sub
      WHERE rn <= 5 ORDER BY query_id, rn"""))

  /** Embedding-space outlier filter — the curation step that drops
    * vectors far from EVERY learned mode (the count-only analogue of
    * CLIP-score/centroid-distance filtering: SemDeDup removes the
    * too-close, this removes the too-far — corrupted embeddings, OOD
    * content, mislabeled media). A vector's max cosine to any trained
    * centroid, thresholded; reuses the trained Lloyd codebook, so the
    * scale shape is the pinned kmeans assignment (broadcast centroids,
    * one scan, per-vector argmax — no pairing). The 0.04 cutoff is the
    * operator's dial (the synthetic 64-dim corpus is near-orthogonal to
    * its centroids, max_cos spans 0.015-0.20 — a real embedding corpus
    * sits near 1.0 and dials accordingly); flags ~10% here, pinned in
    * QuantSpec between 1% and 30% so generator drift surfaces. */
  private val outliers = Q(
    "q_sim_outliers",
    (s, d) => {
      val e = normalizedEmbeddings(s, d).cache()
      outlierVerdicts(e, trainedCodebook(e).cache(), 0.04)
    },
    Some(s"""WITH $sqlNormalized,
      dd AS (SELECT unnest(range(1, ${Dim + 1})) AS d),
      ${CentroidSeed.sqlSeedCte("c0")},
      ${sqlLloydRound(0, "c0")},
      ${sqlLloydRound(1, "c1")}
      SELECT vec_id, cent_id AS nearest_cell, csim AS max_cos,
             csim < 0.04 AS is_outlier
      FROM (SELECT ev.vec_id, c.cent_id,
              round(list_dot_product(ev.emb, c.cemb), 6) AS csim,
              row_number() OVER (PARTITION BY ev.vec_id
                ORDER BY round(list_dot_product(ev.emb, c.cemb), 6) DESC, c.cent_id) AS rn
            FROM e ev, c2 c) s
      WHERE rn = 1 ORDER BY vec_id"""))

  // ---------------------------------------------------------------------------
  // q_sim_rank_eval — graded ranking quality (nDCG@5 / first-hit rank)
  // ---------------------------------------------------------------------------

  /** nDCG@5 + MRR-style first-hit rank of the SQ8-quantized ranking against
    * the exact cosine ranking — the eval family's graded-order complement
    * to q_sim_recall_eval/q_sim_recall_lsh (recall counts SET overlap;
    * nDCG scores the ORDER the user actually sees, so quantization damage
    * that reshuffles the top without dropping it becomes visible here and
    * nowhere else). Relevance grades come from the exact top-10 (rel =
    * 11 - exact_rank, 0 outside), the approximate list is SQ8's own top-5
    * ordering, and the ideal DCG is the constant best-case prefix (grades
    * 10..6 at positions 1..5), so ndcg_bp = 10000 exactly when SQ8
    * preserves the exact head order. first_hit_rank is the approx position
    * of the TRUE nearest neighbor (0 = missed) — the integer MRR numerator,
    * kept as a rank so the row stays FP-free where it can be. Audit
    * economics as the other evals: the exact leg is ONE broadcast-query
    * corpus pass (5 queries), the approx leg reuses the SQ8 code pipeline,
    * and the grading joins touch only 5x(5+10) rows. Discount weights are
    * irrational (1/log2(i+1)), so the bp rounding cannot sit on a .5
    * boundary except at the exact 0/10000 endpoints. */
  private val rankEval = Q(
    "q_sim_rank_eval",
    (s, d) => {
      val e = normalizedEmbeddings(s, d)
      val codes = sq8Codes(e.select(col("vec_id"), col("emb").as("de"), col("emb"))).cache()
      val approx = sq8Search(codes)
        .select(col("query_id"), col("neighbor_id"), col("rn").as("arn"))
      val q = broadcast(
        e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("eq"), col("emb").as("qemb")))
      val w = Window.partitionBy("eq").orderBy(desc("score"), asc("en"))
      val exact = e.join(q, col("vec_id") =!= col("eq"))
        .select(col("eq"), col("vec_id").as("en"),
          round(dot(col("emb"), col("qemb")), 6).as("score"))
        .withColumn("ern", row_number().over(w))
        .filter(col("ern") <= 10)
        .select(col("eq"), col("en"), col("ern"))
      val idcg = lit(10.0) / log2(lit(2.0)) + lit(9.0) / log2(lit(3.0)) +
        lit(8.0) / log2(lit(4.0)) + lit(7.0) / log2(lit(5.0)) +
        lit(6.0) / log2(lit(6.0))
      approx
        .join(exact,
          col("query_id") === col("eq") && col("neighbor_id") === col("en"), "left")
        .select(col("query_id"), col("arn"),
          coalesce(lit(11) - col("ern"), lit(0)).as("rel"))
        .groupBy("query_id")
        .agg(
          sum(col("rel").cast("double") / log2(col("arn") + lit(1.0))).as("dcg"),
          count(when(col("rel") > 0, 1)).as("hits10"),
          coalesce(min(when(col("rel") === 10, col("arn"))), lit(0L)).as("fh"))
        .select(col("query_id"),
          round(col("dcg") / idcg * 10000).cast("long").as("ndcg_bp"),
          col("hits10"),
          col("fh").cast("long").as("first_hit_rank"))
        .orderBy("query_id")
    },
    Some(s"""WITH $sqlNormalized,
      dd AS (SELECT unnest(range(1, ${Dim + 1})) AS d),
      dims AS (SELECT d, min(emb[d]) AS mn, max(emb[d]) AS mx FROM e, dd GROUP BY d),
      qv AS (SELECT vec_id,
               list(CASE WHEN mx = mn THEN mn
                         ELSE mn + (least(255, CAST(floor((emb[d] - mn) * 256.0 / (mx - mn)) AS BIGINT)) + 0.5) * (mx - mn) / 256.0
                    END ORDER BY d) AS dq
             FROM e, dims GROUP BY vec_id),
      q AS (SELECT vec_id AS query_id, dq AS qdq FROM qv WHERE vec_id < 5),
      approx AS (
        SELECT query_id, neighbor_id, rn FROM (
          SELECT q.query_id, n.vec_id AS neighbor_id,
                 row_number() OVER (PARTITION BY q.query_id
                   ORDER BY round(list_dot_product(n.dq, q.qdq), 6) DESC, n.vec_id) AS rn
          FROM qv n JOIN q ON n.vec_id <> q.query_id) sub
        WHERE rn <= 5),
      eq AS (SELECT vec_id AS query_id, emb AS qemb FROM e WHERE vec_id < 5),
      exact AS (
        SELECT query_id, neighbor_id, ern FROM (
          SELECT eq.query_id, n.vec_id AS neighbor_id,
                 row_number() OVER (PARTITION BY eq.query_id
                   ORDER BY round(list_dot_product(n.emb, eq.qemb), 6) DESC, n.vec_id) AS ern
          FROM e n JOIN eq ON n.vec_id <> eq.query_id) sub
        WHERE ern <= 10),
      graded AS (
        SELECT a.query_id, a.rn AS arn, coalesce(11 - x.ern, 0) AS rel
        FROM approx a LEFT JOIN exact x
          ON a.query_id = x.query_id AND a.neighbor_id = x.neighbor_id)
      SELECT query_id,
        CAST(round(sum(rel / log2(arn + 1.0))
             / (10.0/log2(2.0) + 9.0/log2(3.0) + 8.0/log2(4.0) + 7.0/log2(5.0) + 6.0/log2(6.0))
             * 10000) AS BIGINT) AS ndcg_bp,
        count(*) FILTER (WHERE rel > 0) AS hits10,
        CAST(coalesce(min(CASE WHEN rel = 10 THEN arn END), 0) AS BIGINT) AS first_hit_rank
      FROM graded GROUP BY query_id ORDER BY query_id"""))

  val all: Seq[Q] = Seq(sq8Ann, kmeans, ivfTrained, pqAdc, ivfPq, ivfPqRerank,
    ivfPqResidual, indexDrift, rangeSearch, maxSim, sampleClusters, binaryAnn,
    binaryIvf, outliers, rankEval)
}
