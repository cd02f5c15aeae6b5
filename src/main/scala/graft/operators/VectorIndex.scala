package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted IVF-PQ index — the build-once / search-many lifecycle that
  * makes index training amortize. `q_sim_ivfpq` retrains inside the query
  * (so the oracle can replay the whole lifecycle); a production deployment
  * trains ONCE and serves every subsequent search from stored tables:
  *
  *   coarse/        trained coarse codebook (cent_id, cemb, norm2_micro)
  *   cells/         corpus coarse assignment (vec_id, cell)
  *   pq_codebook/   trained sub-codebooks (m, cent_id, cm)
  *   codes/         corpus PQ codes (vec_id, m, cent_id) — 8 codes/vector
  *   meta/          one row: train_bound, flavor, base_n, base_total_err
  *   tombstones/    erased vec_ids (present only after a delete)
  *
  * `meta` makes the index self-describing: the effective training boundary
  * (the stable reference point rebuild decisions need after any number of
  * appends), the index FLAVOR ("plain" vs "residual" — byte-identical
  * table layouts otherwise, and FAISS persists by_residual for exactly
  * this reason: appending or searching with the wrong flavor silently
  * corrupts rankings), and the base slice's PQ error stats captured at
  * build time so [[driftRatio]] is O(delta), not O(corpus).
  *
  * At 100 TB the stored footprint is what matters: `codes` + `cells` are a
  * few bytes per vector (vs 512 for raw doubles), the codebooks are
  * constant-size broadcasts, and a search touches nprobe/NCells of the
  * codes. The index publishes ATOMICALLY through [[StoreCommit.publish]]
  * — searchers see the old index or the new one, never a half-written mix
  * (same discipline as the lake maintenance operators). Every search,
  * radius, sampling and outlier operation here calls the same QuantQueries
  * stages as its declared twin (probe, ADC, refine, ...), passing the
  * frames it reads from the stored tables; QuantSpec pins that each is
  * row-identical to the in-query training path. */
object VectorIndex {

  import graft.queries.QuantQueries._

  val FlavorPlain = "plain"
  val FlavorResidual = "residual"
  val FlavorBinary = "binary"
  val FlavorSq8 = "sq8"

  // ---------------------------------------------------------------------
  // meta / tombstones plumbing
  // ---------------------------------------------------------------------

  /** Non-mutating read-side root: the index dir, or its crash aside when a
    * swap died mid-window (see [[StoreCommit.readableRoot]] — a READER must
    * never rename; the writers recover the main dir at their own entry). */
  private def readRootOf(spark: SparkSession, indexDir: String): String = {
    val dir = new Path(indexDir)
    StoreCommit.readableRoot(StoreCommit.fsOf(spark, dir), dir).toString
  }

  private def readMetaOpt(spark: SparkSession, indexDir: String): Option[Row] = {
    val meta = new Path(readRootOf(spark, indexDir), "meta")
    if (!StoreCommit.fsOf(spark, meta).exists(meta)) None
    else spark.read.parquet(meta.toString).collect().headOption
  }

  private def metaLongOpt(r: Row, name: String): Option[Long] = {
    val i = r.schema.fieldNames.indexOf(name)
    if (i < 0 || r.isNullAt(i)) None else Some(r.getLong(i))
  }

  /** The effective training boundary recorded at build time, if this index
    * has one — `None` on indexes built before `meta` existed or whose
    * recorded bound is null (empty train slice). Every vec_id at or past
    * the bound was encoded with codebooks that never saw it. */
  def trainBoundOpt(spark: SparkSession, indexDir: String): Option[Long] =
    readMetaOpt(spark, indexDir).flatMap(metaLongOpt(_, "train_bound"))

  /** Strict variant of [[trainBoundOpt]] for callers that require a
    * recorded boundary (fails with a diagnosable message, not an
    * AnalysisException/NPE, on legacy or degenerate indexes). */
  def trainBoundOf(spark: SparkSession, indexDir: String): Long =
    trainBoundOpt(spark, indexDir).getOrElse(throw new IllegalStateException(
      s"vector index $indexDir has no recorded training boundary " +
        "(built before meta existed, or with an empty train slice) — " +
        "rebuild it to record one"))

  /** The index flavor recorded at build time; indexes that predate the
    * flavor field were only ever built plain. */
  def flavorOf(spark: SparkSession, indexDir: String): String =
    readMetaOpt(spark, indexDir).flatMap { r =>
      val i = r.schema.fieldNames.indexOf("flavor")
      if (i < 0 || r.isNullAt(i)) None else Some(r.getString(i))
    }.getOrElse(FlavorPlain)

  /** The recorded flavor, if it is one of `expected`; otherwise fails
    * with a message naming both. */
  private def requireFlavor(
      spark: SparkSession, indexDir: String, op: String, expected: String*): String = {
    val actual = flavorOf(spark, indexDir)
    require(expected.contains(actual),
      s"$op on $indexDir: index flavor is '$actual', expected " +
        expected.map(f => s"'$f'").mkString(" or ") + " — " +
        "plain and residual indexes are byte-indistinguishable on disk, and " +
        "mixing them silently corrupts rankings (use the matching build/search)")
    actual
  }

  /** The operations that read the IVF-PQ tables (coarse, cells,
    * pq_codebook, codes), which only plain and residual indexes have. */
  private def requireIvf(spark: SparkSession, indexDir: String, op: String): String =
    requireFlavor(spark, indexDir, op, FlavorPlain, FlavorResidual)

  /** Copy table `name` of the index into a staging dir. */
  private def copyTable(spark: SparkSession, indexDir: String, tmp: Path, name: String): Unit =
    spark.read.parquet(s"$indexDir/$name").write.mode(SaveMode.Overwrite).parquet(s"$tmp/$name")

  /** [[copyTable]] for the tables an index may lack: `meta` (absent on
    * indexes built before meta existed) and `tombstones` (absent until a
    * delete). */
  private def copyIfPresent(
      spark: SparkSession, fs: FileSystem, indexDir: String, tmp: Path, name: String): Unit =
    if (fs.exists(new Path(s"$indexDir/$name"))) copyTable(spark, indexDir, tmp, name)

  /** Erased vec_ids persisted in the index so later appends/rebuilds cannot
    * resurrect them (GDPR deletes must stick even if the corpus row is
    * purged on a different cadence). Empty frame when none recorded. */
  private def tombstonesOf(spark: SparkSession, indexDir: String): DataFrame = {
    val t0 = new Path(s"$indexDir/tombstones")
    val t = StoreCommit.readableRoot(StoreCommit.fsOf(spark, t0), t0) // non-mutating
    if (StoreCommit.fsOf(spark, t).exists(t)) spark.read.parquet(t.toString)
    else spark.range(0).select(col("id").as("vec_id"))
  }

  /** Record erase requests as tombstones WITHOUT touching the data tables —
    * the nDead==0 path of the delete entry points. An erasure can arrive for
    * a vector whose corpus row exists but is not yet indexed (corpus ingest
    * and index maintenance run on different cadences); dropping the request
    * because no index row matches would let a later append/rebuild index it,
    * reopening the resurrection window tombstones exist to close. Publishes
    * through a tombstones-scoped [[StoreCommit.publish]], so searchers never
    * see a partial table. */
  private def persistTombstoneRequests(
      spark: SparkSession, fs: FileSystem, indexDir: String,
      requested: DataFrame): Unit = {
    StoreCommit.publish(fs, new Path(s"$indexDir/tombstones"))(tsTmp =>
      tombstonesOf(spark, indexDir).select("vec_id")
        .unionByName(requested.select("vec_id")).distinct()
        .write.mode(SaveMode.Overwrite).parquet(tsTmp.toString))
  }

  /** Drop tombstoned ids from a (vec_id, ...) frame. The tombstone set is
    * small by construction (targeted erasures), so this is a broadcast
    * anti-join inside the same stage — free at any corpus size. */
  private def notTombstoned(df: DataFrame, tombstones: DataFrame): DataFrame =
    df.join(broadcast(tombstones.select("vec_id")), Seq("vec_id"), "left_anti")

  // ---------------------------------------------------------------------
  // build
  // ---------------------------------------------------------------------

  /** Train on vectors with `vec_id < trainBound` and atomically publish the
    * index under `indexDir` (default: the whole corpus). The `meta` row
    * records the EFFECTIVE training boundary (min(trainBound, max indexed
    * id + 1), 0 when the train slice is empty), the flavor, and the base
    * slice's PQ error stats (row count + total integer squared error) so
    * later [[driftRatio]] calls never have to re-encode the base. A rebuild
    * over an existing index carries its tombstones forward and excludes
    * them — an erased vector stays erased even when the corpus row has not
    * been purged yet. */
  def buildIvfPq(
      spark: SparkSession, sfDir: String, indexDir: String,
      trainBound: Long = Long.MaxValue): Unit = {
    val dir = new Path(indexDir)
    val fs = StoreCommit.fsOf(spark, dir)
    StoreCommit.publish(fs, dir) { tmp =>
      val tombstones = tombstonesOf(spark, indexDir).cache()

      val e = notTombstoned(
        normalizedEmbeddings(spark, sfDir).filter(col("vec_id") < trainBound),
        tombstones).cache()
      val c2 = trainedCodebook(e).cache()
      val em = notTombstoned(
        microEmbeddings(spark, sfDir).filter(col("vec_id") < trainBound), tombstones)
      val subs = subVectors(em).cache()
      val pqc1 = pqCodebook(subs, em).cache()
      val assigned = pqAssign(subs, pqc1).cache()

      c2.write.mode(SaveMode.Overwrite).parquet(s"$tmp/coarse")
      kmeansAssign(e, c2).select(col("vec_id"), col("cent_id").as("cell"))
        .write.mode(SaveMode.Overwrite).parquet(s"$tmp/cells")
      pqc1.write.mode(SaveMode.Overwrite).parquet(s"$tmp/pq_codebook")
      assigned.select("vec_id", "m", "cent_id")
        .write.mode(SaveMode.Overwrite).parquet(s"$tmp/codes")
      writeIndexMeta(spark, tmp, assigned, trainBound, FlavorPlain)
      writeTombstonesIfAny(spark, fs, tmp, tombstones)
      Seq(e, c2, subs, pqc1, assigned, tombstones).foreach(_.unpersist())
    }
  }

  /** Residual-PQ index build (FAISS `by_residual=true`, its default): same
    * stored tables as [[buildIvfPq]], but `pq_codebook`/`codes` quantize
    * (x - assigned coarse centroid) instead of x — lower quantization error
    * at identical storage (pinned in QuantSpec against the no-residual
    * path). The coarse table's exact integer micro components (`cmm`) make
    * the residual computation exact BIGINT math at build AND serve time.
    * `meta` records flavor "residual" so every downstream operation
    * (append, search, drift, auto-rebuild) encodes the matching way. */
  def buildIvfPqResidual(
      spark: SparkSession, sfDir: String, indexDir: String,
      trainBound: Long = Long.MaxValue): Unit = {
    val dir = new Path(indexDir)
    val fs = StoreCommit.fsOf(spark, dir)
    StoreCommit.publish(fs, dir) { tmp =>
      val tombstones = tombstonesOf(spark, indexDir).cache()

      val e = notTombstoned(
        normalizedEmbeddings(spark, sfDir).filter(col("vec_id") < trainBound),
        tombstones).cache()
      val c2 = trainedCodebook(e).cache()
      val cells = kmeansAssign(e, c2).select(col("vec_id"), col("cent_id").as("cell")).cache()
      val em = notTombstoned(
        microEmbeddings(spark, sfDir).filter(col("vec_id") < trainBound), tombstones)
      val resid = residuals(em.join(cells, "vec_id"), c2, "vec_id").cache()
      val subs = subVectors(resid).cache()
      val pqc1 = pqCodebook(subs, resid).cache()
      val assigned = pqAssign(subs, pqc1).cache()

      c2.write.mode(SaveMode.Overwrite).parquet(s"$tmp/coarse")
      cells.write.mode(SaveMode.Overwrite).parquet(s"$tmp/cells")
      pqc1.write.mode(SaveMode.Overwrite).parquet(s"$tmp/pq_codebook")
      assigned.select("vec_id", "m", "cent_id")
        .write.mode(SaveMode.Overwrite).parquet(s"$tmp/codes")
      writeIndexMeta(spark, tmp, assigned, trainBound, FlavorResidual)
      writeTombstonesIfAny(spark, fs, tmp, tombstones)
      Seq(e, c2, cells, resid, subs, pqc1, assigned, tombstones).foreach(_.unpersist())
    }
  }

  /** One bounded collect over the already-cached encoded slice: the
    * effective training boundary and, where the encoding records a
    * quantization error (the PQ assignment's `dist`), the base slice's
    * error stats (row count + total error), written as the one-row meta
    * table; binary and SQ8 codes record none, so their stats are 0. Guards
    * the empty-train-slice case (null max → bound 0, stats 0) instead of
    * writing a null row. */
  private def writeIndexMeta(
      spark: SparkSession, tmp: Path, encoded: DataFrame,
      trainBound: Long, flavor: String): Unit = {
    val hasErr = encoded.columns.contains("dist")
    val s = encoded.agg(
      coalesce(least(lit(trainBound), max(col("vec_id")) + 1L), lit(0L)),
      if (hasErr) count(lit(1)) else lit(0L),
      if (hasErr) coalesce(sum(col("dist")), lit(0L)) else lit(0L)).head()
    spark.range(1).select(
        lit(s.getLong(0)).as("train_bound"),
        lit(flavor).as("flavor"),
        lit(s.getLong(1)).as("base_n"),
        lit(s.getLong(2)).as("base_total_err"))
      .write.mode(SaveMode.Overwrite).parquet(s"$tmp/meta")
  }

  private def writeTombstonesIfAny(
      spark: SparkSession, fs: FileSystem, tmp: Path, tombstones: DataFrame): Unit =
    if (!tombstones.isEmpty)
      tombstones.write.mode(SaveMode.Overwrite).parquet(s"$tmp/tombstones")

  // ---------------------------------------------------------------------
  // append
  // ---------------------------------------------------------------------

  /** Append vectors with `vec_id >= minVecId` to a published index WITHOUT
    * retraining: the delta is assigned and encoded with the STORED
    * codebooks — production semantics, where appends run continuously and
    * codebooks go stale gradually until a scheduled rebuild — and the
    * extended index publishes through the same hidden-dir + rename swap,
    * so searchers see the old index or the extended one, never a mix.
    * Flavor-aware: on a residual index the delta is encoded as residuals
    * against the stored coarse centroids (encoding raw sub-vectors against
    * residual codebooks would silently corrupt every ranking the delta
    * touches). Tombstoned ids are excluded, so a GDPR-deleted vector is
    * not resurrected by a replayed or overlapping append. Delta work is
    * O(delta x codebook): the existing corpus is copied through (at 100 TB
    * the copy becomes a metadata move in a table format; the
    * training/encoding cost — the expensive part — is delta-only either
    * way). */
  def appendIvfPq(
      spark: SparkSession, sfDir: String, indexDir: String, minVecId: Long): Unit =
    appendIvfPqRows(spark,
      graft.queries.Tables.t(spark, sfDir, "embeddings"), indexDir, minVecId)

  /** DataFrame-based core of [[appendIvfPq]]: `rows` carries the
    * embeddings TABLE shape (vec_id, embedding). This is the entry point
    * the STREAMING index-maintenance twin
    * ([[graft.streaming.StreamingIngest.startIndexMaintenanceStream]]) feeds
    * micro-batches into — same replay discipline as the batch form: the
    * old side keeps only rows below `minVecId`, so an at-least-once
    * foreachBatch replay of a monotonic append-only feed re-derives the
    * identical delta instead of doubling it. */
  def appendIvfPqRows(
      spark: SparkSession, rows: DataFrame, indexDir: String, minVecId: Long): Unit = {
    val flavor = requireIvf(spark, indexDir, "appendIvfPq")
    val dir = new Path(indexDir)
    val fs = StoreCommit.fsOf(spark, dir)
    StoreCommit.publish(fs, dir) { tmp =>
      val tombstones = tombstonesOf(spark, indexDir).cache()
      val coarse = spark.read.parquet(s"$indexDir/coarse").cache()
      val pqc1 = spark.read.parquet(s"$indexDir/pq_codebook").cache()
      // idempotent replay guard: if a crash landed AFTER the publish but before
      // the caller observed it, re-running the same append must not union the
      // delta's rows in twice (duplicate codes double ADC sums and corrupt
      // rankings) — the old side keeps only rows below the delta boundary
      val oldCells = spark.read.parquet(s"$indexDir/cells").filter(col("vec_id") < minVecId)
      val oldCodes = spark.read.parquet(s"$indexDir/codes").filter(col("vec_id") < minVecId)

      val e = notTombstoned(
        normalizedEmbeddingRows(rows).filter(col("vec_id") >= minVecId), tombstones)
      val newCells =
        kmeansAssign(e, coarse).select(col("vec_id"), col("cent_id").as("cell")).cache()
      val em = notTombstoned(
        microEmbeddingRows(rows).filter(col("vec_id") >= minVecId), tombstones)
      val subs = flavor match {
        case FlavorResidual => subVectors(residuals(em.join(newCells, "vec_id"), coarse, "vec_id"))
        case _ => subVectors(em)
      }
      val newCodes = pqAssign(subs, pqc1).select("vec_id", "m", "cent_id")

      coarse.write.mode(SaveMode.Overwrite).parquet(s"$tmp/coarse")
      pqc1.write.mode(SaveMode.Overwrite).parquet(s"$tmp/pq_codebook")
      oldCells.unionByName(newCells).write.mode(SaveMode.Overwrite).parquet(s"$tmp/cells")
      oldCodes.unionByName(newCodes).write.mode(SaveMode.Overwrite).parquet(s"$tmp/codes")
      copyIfPresent(spark, fs, indexDir, tmp, "meta")
      copyIfPresent(spark, fs, indexDir, tmp, "tombstones")
      Seq(coarse, pqc1, newCells, tombstones).foreach(_.unpersist())
    }
  }

  // ---------------------------------------------------------------------
  // search
  // ---------------------------------------------------------------------

  /** Serve an IVF-PQ search for query vectors `vec_id < nQueries` entirely
    * from the stored index (plus one scan of the query vectors themselves).
    * Identical ranking semantics to `q_sim_ivfpq`. Refuses to serve a
    * residual-flavor index — its codes are meaningless under plain ADC. */
  def searchIvfPq(
      spark: SparkSession,
      sfDir: String,
      indexDir: String,
      nQueries: Int = 5,
      nprobe: Int = 3,
      k: Int = 5): DataFrame = {
    requireFlavor(spark, indexDir, "searchIvfPq", FlavorPlain)
    val idx = readRootOf(spark, indexDir)
    adcTopK(
      ivfPqDistances(
        spark.read.parquet(s"$idx/cells"), storedProbes(spark, sfDir, idx, nQueries, nprobe),
        spark.read.parquet(s"$idx/codes"),
        querySubs(subVectors(microEmbeddings(spark, sfDir)), nQueries),
        spark.read.parquet(s"$idx/pq_codebook")),
      k)
  }

  /** The first `nQueries` corpus vectors' `nprobe` nearest cells of the
    * stored coarse codebook under read root `idx`. */
  private def storedProbes(
      spark: SparkSession, sfDir: String, idx: String, nQueries: Int, nprobe: Int,
      carry: String*): DataFrame =
    probeCells(queryVectors(normalizedEmbeddings(spark, sfDir), nQueries),
      spark.read.parquet(s"$idx/coarse"), nprobe, carry: _*)

  /** Serve a residual-PQ search from an index built by
    * [[buildIvfPqResidual]] — identical ranking semantics to
    * `q_sim_ivfpq_residual` (per-probed-cell query residual tables,
    * integer ADC). Refuses to serve a plain-flavor index. */
  def searchIvfPqResidual(
      spark: SparkSession,
      sfDir: String,
      indexDir: String,
      nQueries: Int = 5,
      nprobe: Int = 3,
      k: Int = 5): DataFrame = {
    requireFlavor(spark, indexDir, "searchIvfPqResidual", FlavorResidual)
    val idx = readRootOf(spark, indexDir)
    adcTopK(
      ivfPqResidualDistances(
        spark.read.parquet(s"$idx/cells"), storedProbes(spark, sfDir, idx, nQueries, nprobe),
        spark.read.parquet(s"$idx/codes"),
        microEmbeddings(spark, sfDir).filter(col("vec_id") < nQueries)
          .select(col("vec_id").as("query_id"), col("xm")),
        spark.read.parquet(s"$idx/coarse"), spark.read.parquet(s"$idx/pq_codebook")),
      k)
  }

  /** Two-stage stored-index search: ADC shortlist of `kPrime`, then exact
    * cosine re-rank to `k` (FAISS `IndexRefineFlat`) — the recall fix every
    * production IVF-PQ deployment runs, since ADC alone caps recall@k at the
    * quantization error. The refine stage reads exactly kPrime raw vectors
    * per query (shortlist broadcasts into one corpus scan); identical
    * ranking semantics to `q_sim_ivfpq_rerank`. */
  def searchIvfPqRerank(
      spark: SparkSession,
      sfDir: String,
      indexDir: String,
      nQueries: Int = 5,
      nprobe: Int = 3,
      k: Int = 5,
      kPrime: Int = graft.queries.QuantQueries.RerankKPrime): DataFrame =
    refine(normalizedEmbeddings(spark, sfDir),
      searchIvfPq(spark, sfDir, indexDir, nQueries, nprobe, kPrime)
        .select(col("query_id"), col("neighbor_id")), nQueries, k)

  /** The full FAISS-default serving stack: residual ADC shortlist
    * ([[searchIvfPqResidual]] over a [[buildIvfPqResidual]] index) refined
    * by exact distance — by_residual=true + IndexRefineFlat composed. */
  def searchIvfPqResidualRerank(
      spark: SparkSession,
      sfDir: String,
      indexDir: String,
      nQueries: Int = 5,
      nprobe: Int = 3,
      k: Int = 5,
      kPrime: Int = graft.queries.QuantQueries.RerankKPrime): DataFrame =
    refine(normalizedEmbeddings(spark, sfDir),
      searchIvfPqResidual(spark, sfDir, indexDir, nQueries, nprobe, kPrime)
        .select(col("query_id"), col("neighbor_id")), nQueries, k)

  /** Radius search served from the stored index (FAISS `range_search` over
    * a persisted IVF): every probed-cell vector whose exact cosine to the
    * query clears `threshold` — row-identical to `q_sim_range`, which
    * trains inline so the oracle can replay the lifecycle. Works on both
    * IVF flavors (plain and residual): radius search verifies with exact
    * cosines against raw vectors, so the PQ codes (the only
    * flavor-dependent tables) are never touched — only `coarse` for
    * probing and `cells` for candidate selection. Scale shape: probes
    * broadcast, candidates are the probed nprobe/NCells slice of `cells`,
    * and the raw-vector join keys on vec_id — linear in candidates, no
    * window at all (a pure filter, cheaper than top-k: no per-query
    * ranking state). */
  def rangeSearchIndex(
      spark: SparkSession,
      sfDir: String,
      indexDir: String,
      nQueries: Int = 5,
      nprobe: Int = 3,
      threshold: Double = 0.3): DataFrame = {
    requireIvf(spark, indexDir, "rangeSearchIndex")
    val idx = readRootOf(spark, indexDir)
    radiusSearch(
      probedCandidates(spark.read.parquet(s"$idx/cells"),
          storedProbes(spark, sfDir, idx, nQueries, nprobe, "qemb"))
        .join(normalizedEmbeddings(spark, sfDir).select(col("vec_id"), col("emb")), "vec_id"),
      threshold)
  }

  /** Cluster-balanced subsampling served from the stored index — the
    * `q_sample_clusters` selection (keep at most `cap` vectors per coarse
    * cell, RNG-free multiplicative id-hash rank, reshuffle-stable) without
    * retraining or re-assigning: the stored `cells` table IS the
    * assignment, so the whole operation is one window over the cell key
    * plus the cell-keyed rollup. Flavor-independent for the same reason as
    * [[rangeSearchIndex]]. */
  def sampleFromIndex(
      spark: SparkSession, indexDir: String, cap: Int = 40): DataFrame = {
    requireIvf(spark, indexDir, "sampleFromIndex")
    sampleCells(spark.read.parquet(s"${readRootOf(spark, indexDir)}/cells"), cap)
  }

  /** Distribution-outlier filter served from the stored index — the
    * `q_sim_outliers` verdicts (per-vector nearest coarse centroid, its
    * cosine, and the below-threshold flag that marks junk/off-distribution
    * embeddings for training-data triage) WITHOUT retraining: the stored
    * `coarse` codebook IS the trained density model, so the whole operation
    * is one broadcast of the codebook riding the corpus scan plus a
    * per-vector top-1 window — no shuffle of the embeddings beyond the
    * window's vec_id partitioning. Completes the lifecycle symmetry the
    * range/sampling queries have: train once ([[buildIvfPq]]), score every
    * crawl snapshot against the same codebook. */
  def outliersFromIndex(
      spark: SparkSession, sfDir: String, indexDir: String,
      threshold: Double = 0.04): DataFrame = {
    requireIvf(spark, indexDir, "outliersFromIndex")
    outlierVerdicts(normalizedEmbeddings(spark, sfDir),
      spark.read.parquet(s"${readRootOf(spark, indexDir)}/coarse"), threshold)
  }

  // ---------------------------------------------------------------------
  // delete / vacuum
  // ---------------------------------------------------------------------

  /** Targeted vector erasure — the index half of a GDPR delete (the table
    * half is [[Merge.deletePartitioned]]; an erased user's embedding must
    * stop being FINDABLE, not merely stop being stored): drop the ids'
    * rows from `cells` and `codes` via broadcast anti-joins (the tombstone
    * set is small; the corpus tables rewrite in one linear pass), persist
    * the ids in the `tombstones` table so a later [[appendIvfPq]] replay or
    * [[buildIvfPq]] rebuild whose boundary covers them cannot resurrect
    * them (the corpus row may be purged on a different cadence), and
    * republish through the same aside + rename + rollback swap — searchers
    * see the old index or the purged one, never a mix. Codebooks are
    * UNCHANGED: a handful of erasures does not shift the trained
    * distribution (that is [[driftRatio]]'s job to notice over time).
    * Idempotent by construction — absent ids anti-join to nothing.
    * Returns the number of vectors actually removed. */
  def deleteFromIndex(
      spark: SparkSession, indexDir: String, vecIds: Seq[Long]): Long = {
    requireIvf(spark, indexDir, "deleteFromIndex")
    deleteRows(spark, indexDir, vecIds,
      data = Seq("cells", "codes"), copied = Seq("coarse", "pq_codebook"))
  }

  /** The delete steps every index kind shares: recover a crashed swap,
    * count the requested ids present in the first `data` table, record
    * tombstones only when none is (see [[persistTombstoneRequests]]), else
    * republish with the ids anti-joined out of every `data` table, the
    * `copied` tables (codebooks, calibration) and meta carried through,
    * and the ids added to the tombstones. Returns the number removed. */
  private def deleteRows(
      spark: SparkSession, indexDir: String, vecIds: Seq[Long],
      data: Seq[String], copied: Seq[String]): Long = {
    import spark.implicits._
    val dir = new Path(indexDir)
    val fs = StoreCommit.fsOf(spark, dir)
    StoreCommit.recover(fs, dir) // before the nDead read and the tombstone-only path
    val requested = vecIds.toDF("vec_id")
    def survivors(t: String) =
      spark.read.parquet(s"$indexDir/$t").join(broadcast(requested), Seq("vec_id"), "left_anti")
    val nDead = spark.read.parquet(s"$indexDir/${data.head}")
      .join(broadcast(requested), Seq("vec_id"), "left_semi").count()
    if (nDead == 0L) { persistTombstoneRequests(spark, fs, indexDir, requested); return 0L }
    StoreCommit.publish(fs, dir) { tmp =>
      copied.foreach(copyTable(spark, indexDir, tmp, _))
      data.foreach(t => survivors(t).write.mode(SaveMode.Overwrite).parquet(s"$tmp/$t"))
      copyIfPresent(spark, fs, indexDir, tmp, "meta")
      tombstonesOf(spark, indexDir).select("vec_id").unionByName(requested)
        .distinct()
        .write.mode(SaveMode.Overwrite).parquet(s"$tmp/tombstones")
    }
    nDead
  }

  /** Index small-file compaction — the [[Compaction]] analogue for the
    * index: every [[appendIvfPq]] (and each streaming maintenance batch)
    * rewrites `cells`/`codes` as a fresh file set, so a long-lived index
    * accumulates small files and pays listing + open overhead on every
    * search. Rewrites the two data tables coalesced to `targetFiles`
    * (codebooks copied through — they are constant-size) and republishes
    * through the same aside + rename + rollback swap; rows are untouched,
    * so searches before and after are identical. Run it on the same cadence
    * as table compaction. */
  def vacuumIndex(spark: SparkSession, indexDir: String, targetFiles: Int = 4): Unit = {
    requireIvf(spark, indexDir, "vacuumIndex")
    val dir = new Path(indexDir)
    val fs = StoreCommit.fsOf(spark, dir)
    StoreCommit.publish(fs, dir) { tmp =>
      copyTable(spark, indexDir, tmp, "coarse")
      copyTable(spark, indexDir, tmp, "pq_codebook")
      spark.read.parquet(s"$indexDir/cells").repartition(targetFiles)
        .write.mode(SaveMode.Overwrite).parquet(s"$tmp/cells")
      spark.read.parquet(s"$indexDir/codes").repartition(targetFiles)
        .write.mode(SaveMode.Overwrite).parquet(s"$tmp/codes")
      copyIfPresent(spark, fs, indexDir, tmp, "meta")
      copyIfPresent(spark, fs, indexDir, tmp, "tombstones")
    }
  }

  // ---------------------------------------------------------------------
  // drift
  // ---------------------------------------------------------------------

  /** Rebuild trigger: when the appended delta's mean PQ quantization error
    * exceeds this multiple of the base slice's, the stored codebooks no
    * longer fit the incoming distribution — schedule [[buildIvfPq]]. 1.5x is
    * a loose production default: iid appends sit near 1.0, a genuine
    * distribution shift (new embedding model, new domain) jumps well past
    * 2x, so the threshold separates the two regimes with margin. */
  val DriftRebuildThreshold = 1.5

  /** Sub-vector frame of the corpus slice matching `pred`, encoded the way
    * this index's flavor encodes (plain micro sub-vectors, or residuals
    * against the stored coarse centroids). */
  private def sliceSubs(
      spark: SparkSession, sfDir: String, indexDir: String,
      flavor: String, pred: Column): DataFrame = {
    val em = microEmbeddings(spark, sfDir).filter(pred)
    flavor match {
      case FlavorResidual =>
        val coarse = spark.read.parquet(s"${readRootOf(spark, indexDir)}/coarse")
        val e = normalizedEmbeddings(spark, sfDir).filter(pred)
        val cells = kmeansAssign(e, coarse).select(col("vec_id"), col("cent_id").as("cell"))
        subVectors(residuals(em.join(cells, "vec_id"), coarse, "vec_id"))
      case _ => subVectors(em)
    }
  }

  /** Mean PQ quantization error (exact integer squared L2 to the assigned
    * sub-centroid) of the delta (`vec_id >= minVecId`) encoded with the
    * STORED codebooks, as a ratio over the base slice's — the staleness
    * signal for appendIvfPq's stale-until-rebuild semantics (the drift
    * accounting itself is the `q_index_drift` oracle query). O(delta): the
    * base slice's stats were captured once at build time into the index
    * `meta`, so only the delta is scanned and encoded — the property that
    * lets the streaming maintenance loop poll this per micro-batch without
    * paying a full-corpus encode each time. Falls back to the two-slice
    * full pass only on legacy indexes whose meta predates the stats.
    * Returns 1.0 when there is no delta. */
  def driftRatio(
      spark: SparkSession, sfDir: String, indexDir: String, minVecId: Long): Double = {
    val flavor = requireIvf(spark, indexDir, "driftRatio")
    val pqc1 = spark.read.parquet(s"${readRootOf(spark, indexDir)}/pq_codebook")
    val baseStats = readMetaOpt(spark, indexDir).flatMap { r =>
      for (n <- metaLongOpt(r, "base_n"); err <- metaLongOpt(r, "base_total_err"))
        yield (n, err)
    }
    baseStats match {
      case Some((baseN, baseErr)) if baseN > 0 && baseErr > 0 =>
        val d = pqAssign(
            sliceSubs(spark, sfDir, indexDir, flavor, col("vec_id") >= minVecId), pqc1)
          .agg(count(lit(1)), coalesce(sum("dist"), lit(0L))).head()
        if (d.getLong(0) == 0L) 1.0
        else (d.getLong(1).toDouble / d.getLong(0)) / (baseErr.toDouble / baseN)
      case _ =>
        // legacy index without recorded stats: one full pass, both slices
        val bySlice = pqAssign(
            sliceSubs(spark, sfDir, indexDir, flavor, lit(true)), pqc1)
          .groupBy((col("vec_id") >= minVecId).as("is_delta"))
          .agg(sum("dist").as("total_err"), count(lit(1)).as("n"))
          .collect()
          .map(r => r.getBoolean(0) -> r.getLong(1).toDouble / r.getLong(2)).toMap
        require(bySlice.contains(false), s"driftRatio: no base rows below vec_id $minVecId")
        bySlice.get(true).map(_ / bySlice(false)).getOrElse(1.0)
    }
  }

  def needsRebuild(
      spark: SparkSession, sfDir: String, indexDir: String, minVecId: Long): Boolean =
    driftRatio(spark, sfDir, indexDir, minVecId) > DriftRebuildThreshold

  // ---------------------------------------------------------------------
  // binary (sign-bit) index — the 8-byte/vector end of the family
  // ---------------------------------------------------------------------

  /** Stored binary index: one `bits` table (vec_id, w0, w1 — the packed
    * sign words `q_sim_binary` searches) plus the standard meta/tombstones.
    * There is NO trained codebook: a vector's code depends only on the
    * vector, so appends can never go stale and [[driftRatio]] has nothing
    * to measure — the one index in the family whose maintenance loop needs
    * no rebuild trigger (meta records base stats 0 and flavor "binary";
    * the IVF-PQ searches refuse to serve it and vice versa). */
  def buildBinary(
      spark: SparkSession, sfDir: String, indexDir: String,
      bound: Long = Long.MaxValue): Unit = {
    val dir = new Path(indexDir)
    val fs = StoreCommit.fsOf(spark, dir)
    StoreCommit.publish(fs, dir) { tmp =>
      val tombstones = tombstonesOf(spark, indexDir).cache()

      val bits = binaryCodes(notTombstoned(
        normalizedEmbeddings(spark, sfDir).filter(col("vec_id") < bound), tombstones)).cache()
      bits.write.mode(SaveMode.Overwrite).parquet(s"$tmp/bits")
      writeIndexMeta(spark, tmp, bits, bound, FlavorBinary)
      writeTombstonesIfAny(spark, fs, tmp, tombstones)
      Seq(bits, tombstones).foreach(_.unpersist())
    }
  }

  /** Append vectors `vec_id >= minVecId` to a binary index: pack the delta
    * (codebook-free — no staleness to inherit), keep the old side below the
    * boundary (the same idempotent-replay guard as [[appendIvfPq]]), and
    * republish atomically. Tombstoned ids stay excluded. */
  def appendBinary(
      spark: SparkSession, sfDir: String, indexDir: String, minVecId: Long): Unit =
    appendBinaryRows(spark,
      graft.queries.Tables.t(spark, sfDir, "embeddings"), indexDir, minVecId)

  /** DataFrame-based core of [[appendBinary]] (see [[appendIvfPqRows]]):
    * the streaming twin's O(delta) path — encode the batch's own rows
    * instead of re-scanning the corpus directory per micro-batch. */
  def appendBinaryRows(
      spark: SparkSession, rows: DataFrame, indexDir: String, minVecId: Long): Unit = {
    requireFlavor(spark, indexDir, "appendBinary", FlavorBinary)
    val dir = new Path(indexDir)
    val fs = StoreCommit.fsOf(spark, dir)
    StoreCommit.publish(fs, dir) { tmp =>
      val tombstones = tombstonesOf(spark, indexDir).cache()
      val oldBits = spark.read.parquet(s"$indexDir/bits").filter(col("vec_id") < minVecId)
      val newBits = binaryCodes(notTombstoned(
        normalizedEmbeddingRows(rows).filter(col("vec_id") >= minVecId), tombstones))
      oldBits.unionByName(newBits).write.mode(SaveMode.Overwrite).parquet(s"$tmp/bits")
      copyIfPresent(spark, fs, indexDir, tmp, "meta")
      writeTombstonesIfAny(spark, fs, tmp, tombstones)
      tombstones.unpersist()
    }
  }

  /** Serve a binary search from the stored `bits` table — row-identical to
    * `q_sim_binary` (same shared search: Hamming shortlist + exact rerank
    * over only the shortlisted raw vectors, read from the corpus parquet
    * the way [[searchIvfPqRerank]] reads its refine vectors). */
  def searchBinary(
      spark: SparkSession, sfDir: String, indexDir: String,
      nQueries: Int = 5, shortlistK: Int = 20, k: Int = 5): DataFrame = {
    requireFlavor(spark, indexDir, "searchBinary", FlavorBinary)
    binarySearch(
      spark.read.parquet(s"${readRootOf(spark, indexDir)}/bits"),
      normalizedEmbeddings(spark, sfDir),
      nQueries, shortlistK, k)
  }

  // ---------------------------------------------------------------------
  // SQ8 (int8 scalar quantization) stored index — FAISS IndexScalarQuantizer
  // ---------------------------------------------------------------------

  /** Build a persisted SQ8 index from vectors with `vec_id < bound`:
    *   calib/   one row: the per-dimension min/max trained at build time
    *   codes/   (vec_id, qe) — 64 int8 codes/vector, 8x smaller than f64
    * Unlike the binary index the calibration IS a trained artifact, so
    * appends inherit it (FAISS SQ semantics: train once, out-of-range
    * components clamp) and a drifted corpus eventually wants a rebuild —
    * but unlike PQ there is no per-vector quantization error stored, so
    * meta carries base stats 0 and the drift loop treats sq8 like binary
    * (no metered rebuild trigger; re-train on an explicit schedule). */
  def buildSq8(
      spark: SparkSession, sfDir: String, indexDir: String,
      bound: Long = Long.MaxValue): Unit = {
    val dir = new Path(indexDir)
    val fs = StoreCommit.fsOf(spark, dir)
    StoreCommit.publish(fs, dir) { tmp =>
      val tombstones = tombstonesOf(spark, indexDir).cache()

      val e = notTombstoned(
        normalizedEmbeddings(spark, sfDir).filter(col("vec_id") < bound), tombstones)
        .select(col("vec_id"), col("emb").as("de"))
      val calib = sq8Calibration(e.select(col("vec_id"), col("de"), col("de").as("emb")))
      calib.write.mode(SaveMode.Overwrite).parquet(s"$tmp/calib")
      val codes = sq8Encode(e, spark.read.parquet(s"$tmp/calib"))
        .select("vec_id", "qe").cache()
      codes.write.mode(SaveMode.Overwrite).parquet(s"$tmp/codes")
      writeIndexMeta(spark, tmp, codes, bound, FlavorSq8)
      writeTombstonesIfAny(spark, fs, tmp, tombstones)
      Seq(codes, tombstones).foreach(_.unpersist())
    }
  }

  /** Append vectors `vec_id >= minVecId` to an SQ8 index, encoding them
    * with the STORED calibration (never retrained — the semantics FAISS
    * persists an SQ's trained range for); the old side below the boundary
    * is kept as-is (idempotent-replay guard), tombstones stay excluded,
    * and the index republishes atomically. */
  def appendSq8(
      spark: SparkSession, sfDir: String, indexDir: String, minVecId: Long): Unit =
    appendSq8Rows(spark,
      graft.queries.Tables.t(spark, sfDir, "embeddings"), indexDir, minVecId)

  /** DataFrame-based core of [[appendSq8]] (see [[appendIvfPqRows]]):
    * the streaming twin's O(delta) path — encode the batch's own rows
    * instead of re-scanning the corpus directory per micro-batch. */
  def appendSq8Rows(
      spark: SparkSession, rows: DataFrame, indexDir: String, minVecId: Long): Unit = {
    requireFlavor(spark, indexDir, "appendSq8", FlavorSq8)
    val dir = new Path(indexDir)
    val fs = StoreCommit.fsOf(spark, dir)
    StoreCommit.publish(fs, dir) { tmp =>
      val tombstones = tombstonesOf(spark, indexDir).cache()
      val calib = spark.read.parquet(s"$indexDir/calib")
      val oldCodes = spark.read.parquet(s"$indexDir/codes").filter(col("vec_id") < minVecId)
      val newCodes = sq8Encode(
        notTombstoned(
          normalizedEmbeddingRows(rows).filter(col("vec_id") >= minVecId), tombstones)
          .select(col("vec_id"), col("emb").as("de")),
        calib).select("vec_id", "qe")
      oldCodes.unionByName(newCodes).write.mode(SaveMode.Overwrite).parquet(s"$tmp/codes")
      calib.write.mode(SaveMode.Overwrite).parquet(s"$tmp/calib")
      copyIfPresent(spark, fs, indexDir, tmp, "meta")
      writeTombstonesIfAny(spark, fs, tmp, tombstones)
      tombstones.unpersist()
    }
  }

  /** Serve an SQ8 search from the stored tables — row-identical to
    * `q_sim_sq8` when the index was built over the full corpus (the
    * shared scoring block dequantizes stored codes against the stored
    * calibration; pinned in QuantSpec). */
  def searchSq8(
      spark: SparkSession, indexDir: String,
      nQueries: Int = 5, k: Int = 5): DataFrame = {
    requireFlavor(spark, indexDir, "searchSq8", FlavorSq8)
    // NOT cached: the query side's vec_id filter pushes to the codes scan
    // (no corpus-wide agg feeds both sides here, unlike the in-query path),
    // and a cache would serve stale rows after delete/append republishes —
    // the logical plan is identical across calls, so the CacheManager
    // cannot tell the old index from the new one
    val withDq = sq8WithDq(
      spark.read.parquet(s"${readRootOf(spark, indexDir)}/codes")
        .crossJoin(broadcast(
          spark.read.parquet(s"${readRootOf(spark, indexDir)}/calib"))))
    sq8Search(withDq, nQueries, k)
  }

  /** GDPR delete on an SQ8 index: drop the code rows and persist the
    * tombstones so a replayed [[appendSq8]] cannot resurrect them.
    * Returns the number of vectors actually removed. */
  def deleteFromSq8(
      spark: SparkSession, indexDir: String, vecIds: Seq[Long]): Long = {
    requireFlavor(spark, indexDir, "deleteFromSq8", FlavorSq8)
    deleteRows(spark, indexDir, vecIds, data = Seq("codes"), copied = Seq("calib"))
  }

  /** GDPR delete on a binary index: drop the packed rows and persist the
    * tombstones so a replayed [[appendBinary]] cannot resurrect them.
    * Returns the number of vectors actually removed. */
  def deleteFromBinary(
      spark: SparkSession, indexDir: String, vecIds: Seq[Long]): Long = {
    requireFlavor(spark, indexDir, "deleteFromBinary", FlavorBinary)
    deleteRows(spark, indexDir, vecIds, data = Seq("bits"), copied = Nil)
  }
}
