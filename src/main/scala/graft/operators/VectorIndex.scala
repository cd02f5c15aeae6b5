package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, Row, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
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
  * (same discipline as the lake maintenance operators). QuantSpec pins
  * that a search served from the stored index is row-identical to the
  * in-query training path. */
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

  private def requireFlavor(
      spark: SparkSession, indexDir: String, expected: String, op: String): Unit = {
    val actual = flavorOf(spark, indexDir)
    require(actual == expected,
      s"$op on $indexDir: index flavor is '$actual', expected '$expected' — " +
        "plain and residual indexes are byte-indistinguishable on disk, and " +
        "mixing them silently corrupts rankings (use the matching build/search)")
  }

  /** Copy the one-row `meta` table into a staging dir (absent on indexes
    * built before meta existed — tolerated). */
  private def copyMetaIfPresent(
      spark: SparkSession, fs: FileSystem, indexDir: String, tmp: Path): Unit = {
    val meta = new Path(s"$indexDir/meta")
    if (fs.exists(meta))
      spark.read.parquet(meta.toString)
        .write.mode(SaveMode.Overwrite).parquet(s"$tmp/meta")
  }

  /** Erased vec_ids persisted in the index so later appends/rebuilds cannot
    * resurrect them (GDPR deletes must stick even if the corpus row is
    * purged on a different cadence). Empty frame when none recorded. */
  private def tombstonesOf(spark: SparkSession, indexDir: String): DataFrame = {
    val t0 = new Path(s"$indexDir/tombstones")
    val t = StoreCommit.readableRoot(StoreCommit.fsOf(spark, t0), t0) // non-mutating
    if (StoreCommit.fsOf(spark, t).exists(t)) spark.read.parquet(t.toString)
    else spark.range(0).select(col("id").as("vec_id"))
  }

  private def copyTombstonesIfPresent(
      spark: SparkSession, fs: FileSystem, indexDir: String, tmp: Path): Unit = {
    val t = new Path(s"$indexDir/tombstones")
    if (fs.exists(t))
      spark.read.parquet(t.toString)
        .write.mode(SaveMode.Overwrite).parquet(s"$tmp/tombstones")
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
      val resid = em.join(cells, "vec_id")
        .join(broadcast(c2.select(col("cent_id").as("cell"), col("cmm"))), "cell")
        .select(col("vec_id"), zip_with(col("xm"), col("cmm"), (x, c) => x - c).as("xm"))
        .cache()
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

  /** One bounded collect over the already-cached code assignment: the
    * effective training boundary and the base slice's error stats, written
    * as the one-row meta table. Guards the empty-train-slice case (null
    * max → bound 0, stats 0) instead of writing a null row. */
  private def writeIndexMeta(
      spark: SparkSession, tmp: Path, assigned: DataFrame,
      trainBound: Long, flavor: String): Unit = {
    val s = assigned.agg(
      coalesce(least(lit(trainBound), max(col("vec_id")) + 1L), lit(0L)),
      count(lit(1)),
      coalesce(sum(col("dist")), lit(0L))).head()
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
    val dir = new Path(indexDir)
    val fs = StoreCommit.fsOf(spark, dir)
    StoreCommit.publish(fs, dir) { tmp =>
      val flavor = flavorOf(spark, indexDir)
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
        case FlavorResidual =>
          subVectors(em.join(newCells, "vec_id")
            .join(broadcast(coarse.select(col("cent_id").as("cell"), col("cmm"))), "cell")
            .select(col("vec_id"), zip_with(col("xm"), col("cmm"), (x, c) => x - c).as("xm")))
        case _ => subVectors(em)
      }
      val newCodes = pqAssign(subs, pqc1).select("vec_id", "m", "cent_id")

      coarse.write.mode(SaveMode.Overwrite).parquet(s"$tmp/coarse")
      pqc1.write.mode(SaveMode.Overwrite).parquet(s"$tmp/pq_codebook")
      oldCells.unionByName(newCells).write.mode(SaveMode.Overwrite).parquet(s"$tmp/cells")
      oldCodes.unionByName(newCodes).write.mode(SaveMode.Overwrite).parquet(s"$tmp/codes")
      copyMetaIfPresent(spark, fs, indexDir, tmp)
      copyTombstonesIfPresent(spark, fs, indexDir, tmp)
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
    requireFlavor(spark, indexDir, FlavorPlain, "searchIvfPq")
    val idx = readRootOf(spark, indexDir)
    val coarse = spark.read.parquet(s"$idx/coarse")
    val cells = spark.read.parquet(s"$idx/cells")
    val pqc1 = spark.read.parquet(s"$idx/pq_codebook")
    val codes = spark.read.parquet(s"$idx/codes")

    val wProbe = Window.partitionBy("query_id").orderBy(desc("csim"), asc("cent_id"))
    val probes = normalizedEmbeddings(spark, sfDir).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
      .crossJoin(broadcast(coarse.select(col("cent_id"), col("cemb"))))
      .select(col("query_id"), col("cent_id"),
        round(graft.functions.VectorFunctions.dot(col("qemb"), col("cemb")), 6).as("csim"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("cent_id").as("cell"))
    val qTable = subVectors(microEmbeddings(spark, sfDir))
      .filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("m"), col("sub"))
      .join(broadcast(pqc1), "m")
      .select(col("query_id"), col("m"), col("cent_id"),
        subDist(col("sub"), col("cm")).as("qdist"))
    val w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    cells.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "vec_id")
      .join(codes, "vec_id")
      .join(broadcast(qTable), Seq("query_id", "m", "cent_id"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum("qdist").as("adc_dist"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .orderBy("query_id", "rn")
  }

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
    requireFlavor(spark, indexDir, FlavorResidual, "searchIvfPqResidual")
    val idx = readRootOf(spark, indexDir)
    val coarse = spark.read.parquet(s"$idx/coarse")
    val cells = spark.read.parquet(s"$idx/cells")
    val pqc1 = spark.read.parquet(s"$idx/pq_codebook")
    val codes = spark.read.parquet(s"$idx/codes")

    val wProbe = Window.partitionBy("query_id").orderBy(desc("csim"), asc("cent_id"))
    val probes = normalizedEmbeddings(spark, sfDir).filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
      .crossJoin(broadcast(coarse.select(col("cent_id"), col("cemb"))))
      .select(col("query_id"), col("cent_id"),
        round(graft.functions.VectorFunctions.dot(col("qemb"), col("cemb")), 6).as("csim"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("cent_id").as("cell"))
    val qResid = probes
      .join(microEmbeddings(spark, sfDir).filter(col("vec_id") < nQueries)
        .select(col("vec_id").as("query_id"), col("xm").as("qxm")), "query_id")
      .join(broadcast(coarse.select(col("cent_id").as("cell"), col("cmm"))), "cell")
      .select(col("query_id"), col("cell"),
        zip_with(col("qxm"), col("cmm"), (x, c) => x - c).as("xm"))
    val qSubs = qResid.select(
        col("query_id"), col("cell"),
        posexplode(transform(
          sequence(lit(0), lit(PqM - 1)),
          m => slice(col("xm"), m * PqSubDim + 1, lit(PqSubDim)))))
      .toDF("query_id", "cell", "m", "sub")
    val qTable = qSubs.join(broadcast(pqc1), "m")
      .select(col("query_id"), col("cell"), col("m"), col("cent_id"),
        subDist(col("sub"), col("cm")).as("qdist"))
    val w = Window.partitionBy("query_id").orderBy("adc_dist", "neighbor_id")
    cells.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .select("query_id", "cell", "vec_id")
      .join(codes, "vec_id")
      .join(broadcast(qTable), Seq("query_id", "cell", "m", "cent_id"))
      .groupBy(col("query_id"), col("vec_id").as("neighbor_id"))
      .agg(sum("qdist").as("adc_dist"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .orderBy("query_id", "rn")
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
    refine(spark, sfDir,
      searchIvfPq(spark, sfDir, indexDir, nQueries, nprobe, kPrime), nQueries, k)

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
    refine(spark, sfDir,
      searchIvfPqResidual(spark, sfDir, indexDir, nQueries, nprobe, kPrime), nQueries, k)

  /** Exact re-rank of an ADC shortlist: the (k' x queries)-row shortlist
    * broadcasts into one pass over the raw vectors; only shortlisted
    * vectors are ever decoded. */
  private def refine(
      spark: SparkSession, sfDir: String, shortlistRanked: DataFrame,
      nQueries: Int, k: Int): DataFrame = {
    val shortlist = shortlistRanked.select(col("query_id"), col("neighbor_id"))
    val e = normalizedEmbeddings(spark, sfDir)
    val qv = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
    val w = Window.partitionBy("query_id").orderBy(desc("score"), asc("neighbor_id"))
    e.select(col("vec_id").as("neighbor_id"), col("emb"))
      .join(broadcast(shortlist), "neighbor_id")
      .join(broadcast(qv), "query_id")
      .select(col("query_id"), col("neighbor_id"),
        round(graft.functions.VectorFunctions.dot(col("emb"), col("qemb")), 6).as("score"))
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= k)
      .orderBy("query_id", "rn")
  }

  /** Radius search served from the stored index (FAISS `range_search` over
    * a persisted IVF): every probed-cell vector whose exact cosine to the
    * query clears `threshold` — row-identical to `q_sim_range`, which
    * trains inline so the oracle can replay the lifecycle. Works on BOTH
    * flavors: radius search verifies with exact cosines against raw
    * vectors, so the PQ codes (the only flavor-dependent tables) are never
    * touched — only `coarse` for probing and `cells` for candidate
    * selection. Scale shape: probes broadcast, candidates are the probed
    * nprobe/NCells slice of `cells`, and the raw-vector join keys on
    * vec_id — linear in candidates, no window at all (a pure filter,
    * cheaper than top-k: no per-query ranking state). */
  def rangeSearchIndex(
      spark: SparkSession,
      sfDir: String,
      indexDir: String,
      nQueries: Int = 5,
      nprobe: Int = 3,
      threshold: Double = 0.3): DataFrame = {
    val idx = readRootOf(spark, indexDir)
    val coarse = spark.read.parquet(s"$idx/coarse")
    val cells = spark.read.parquet(s"$idx/cells")
    val e = normalizedEmbeddings(spark, sfDir)
    val wProbe = Window.partitionBy("query_id").orderBy(desc("csim"), asc("cent_id"))
    val probes = e.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("query_id"), col("emb").as("qemb"))
      .crossJoin(broadcast(coarse.select(col("cent_id"), col("cemb"))))
      .select(col("query_id"), col("qemb"), col("cent_id"),
        round(graft.functions.VectorFunctions.dot(col("qemb"), col("cemb")), 6).as("csim"))
      .withColumn("rn", row_number().over(wProbe))
      .filter(col("rn") <= nprobe)
      .select(col("query_id"), col("qemb"), col("cent_id").as("cell"))
    cells.join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("query_id"))
      .join(e.select(col("vec_id"), col("emb")), "vec_id")
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(graft.functions.VectorFunctions.dot(col("emb"), col("qemb")), 6).as("score"))
      .filter(col("score") >= threshold)
      .orderBy("query_id", "neighbor_id")
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
    val cells = spark.read.parquet(s"${readRootOf(spark, indexDir)}/cells")
    val w = Window.partitionBy("cell").orderBy("h", "vec_id")
    cells
      .withColumn("h",
        col("vec_id") % lit(1000003L) * lit(2654435761L) % lit(4294967296L))
      .withColumn("rn", row_number().over(w))
      .groupBy("cell")
      .agg(
        count(lit(1)).as("n_members"),
        sum(when(col("rn") <= cap, 1L).otherwise(0L)).as("n_kept"))
      .orderBy("cell")
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
    val coarse = spark.read.parquet(s"${readRootOf(spark, indexDir)}/coarse")
    val e = normalizedEmbeddings(spark, sfDir)
    graft.functions.VectorFunctions
      .nearestCentroid(e, coarse.select(col("cent_id"), col("cemb")))
      .select(col("vec_id"), col("cent_id").as("nearest_cell"),
        col("csim").as("max_cos"))
      .withColumn("is_outlier", col("max_cos") < threshold)
      .orderBy("vec_id")
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
    import spark.implicits._
    val dir = new Path(indexDir)
    val fs = StoreCommit.fsOf(spark, dir)
    StoreCommit.recover(fs, dir) // before the nDead read and the tombstone-only path
    val requested = vecIds.toDF("vec_id")
    val oldCells = spark.read.parquet(s"$indexDir/cells")
    val nDead = oldCells.join(broadcast(requested), Seq("vec_id"), "left_semi").count()
    if (nDead == 0L) { persistTombstoneRequests(spark, fs, indexDir, requested); return 0L }
    StoreCommit.publish(fs, dir) { tmp =>
      spark.read.parquet(s"$indexDir/coarse")
        .write.mode(SaveMode.Overwrite).parquet(s"$tmp/coarse")
      spark.read.parquet(s"$indexDir/pq_codebook")
        .write.mode(SaveMode.Overwrite).parquet(s"$tmp/pq_codebook")
      oldCells.join(broadcast(requested), Seq("vec_id"), "left_anti")
        .write.mode(SaveMode.Overwrite).parquet(s"$tmp/cells")
      spark.read.parquet(s"$indexDir/codes")
        .join(broadcast(requested), Seq("vec_id"), "left_anti")
        .write.mode(SaveMode.Overwrite).parquet(s"$tmp/codes")
      copyMetaIfPresent(spark, fs, indexDir, tmp)
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
    val dir = new Path(indexDir)
    val fs = StoreCommit.fsOf(spark, dir)
    StoreCommit.publish(fs, dir) { tmp =>
      spark.read.parquet(s"$indexDir/coarse")
        .write.mode(SaveMode.Overwrite).parquet(s"$tmp/coarse")
      spark.read.parquet(s"$indexDir/pq_codebook")
        .write.mode(SaveMode.Overwrite).parquet(s"$tmp/pq_codebook")
      spark.read.parquet(s"$indexDir/cells").repartition(targetFiles)
        .write.mode(SaveMode.Overwrite).parquet(s"$tmp/cells")
      spark.read.parquet(s"$indexDir/codes").repartition(targetFiles)
        .write.mode(SaveMode.Overwrite).parquet(s"$tmp/codes")
      copyMetaIfPresent(spark, fs, indexDir, tmp)
      copyTombstonesIfPresent(spark, fs, indexDir, tmp)
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
        subVectors(em.join(cells, "vec_id")
          .join(broadcast(coarse.select(col("cent_id").as("cell"), col("cmm"))), "cell")
          .select(col("vec_id"), zip_with(col("xm"), col("cmm"), (x, c) => x - c).as("xm")))
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
    val flavor = flavorOf(spark, indexDir)
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
      val effBound = bits.agg(coalesce(max(col("vec_id")) + 1L, lit(0L))).head().getLong(0)
      spark.range(1).select(
          lit(effBound).as("train_bound"),
          lit(FlavorBinary).as("flavor"),
          lit(0L).as("base_n"),
          lit(0L).as("base_total_err"))
        .write.mode(SaveMode.Overwrite).parquet(s"$tmp/meta")
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
    requireFlavor(spark, indexDir, FlavorBinary, "appendBinary")
    val dir = new Path(indexDir)
    val fs = StoreCommit.fsOf(spark, dir)
    StoreCommit.publish(fs, dir) { tmp =>
      val tombstones = tombstonesOf(spark, indexDir).cache()
      val oldBits = spark.read.parquet(s"$indexDir/bits").filter(col("vec_id") < minVecId)
      val newBits = binaryCodes(notTombstoned(
        normalizedEmbeddingRows(rows).filter(col("vec_id") >= minVecId), tombstones))
      oldBits.unionByName(newBits).write.mode(SaveMode.Overwrite).parquet(s"$tmp/bits")
      copyMetaIfPresent(spark, fs, indexDir, tmp)
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
    requireFlavor(spark, indexDir, FlavorBinary, "searchBinary")
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
      val effBound = codes.agg(coalesce(max(col("vec_id")) + 1L, lit(0L))).head().getLong(0)
      spark.range(1).select(
          lit(effBound).as("train_bound"),
          lit(FlavorSq8).as("flavor"),
          lit(0L).as("base_n"),
          lit(0L).as("base_total_err"))
        .write.mode(SaveMode.Overwrite).parquet(s"$tmp/meta")
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
    requireFlavor(spark, indexDir, FlavorSq8, "appendSq8")
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
      copyMetaIfPresent(spark, fs, indexDir, tmp)
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
    requireFlavor(spark, indexDir, FlavorSq8, "searchSq8")
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
    requireFlavor(spark, indexDir, FlavorSq8, "deleteFromSq8")
    import spark.implicits._
    val dir = new Path(indexDir)
    val fs = StoreCommit.fsOf(spark, dir)
    StoreCommit.recover(fs, dir) // before the nDead read and the tombstone-only path
    val requested = vecIds.toDF("vec_id")
    val oldCodes = spark.read.parquet(s"$indexDir/codes")
    val nDead = oldCodes.join(broadcast(requested), Seq("vec_id"), "left_semi").count()
    if (nDead == 0L) { persistTombstoneRequests(spark, fs, indexDir, requested); return 0L }
    StoreCommit.publish(fs, dir) { tmp =>
      oldCodes.join(broadcast(requested), Seq("vec_id"), "left_anti")
        .write.mode(SaveMode.Overwrite).parquet(s"$tmp/codes")
      spark.read.parquet(s"$indexDir/calib")
        .write.mode(SaveMode.Overwrite).parquet(s"$tmp/calib")
      copyMetaIfPresent(spark, fs, indexDir, tmp)
      tombstonesOf(spark, indexDir).select("vec_id").unionByName(requested)
        .distinct()
        .write.mode(SaveMode.Overwrite).parquet(s"$tmp/tombstones")
    }
    nDead
  }

  /** GDPR delete on a binary index: drop the packed rows and persist the
    * tombstones so a replayed [[appendBinary]] cannot resurrect them.
    * Returns the number of vectors actually removed. */
  def deleteFromBinary(
      spark: SparkSession, indexDir: String, vecIds: Seq[Long]): Long = {
    requireFlavor(spark, indexDir, FlavorBinary, "deleteFromBinary")
    import spark.implicits._
    val dir = new Path(indexDir)
    val fs = StoreCommit.fsOf(spark, dir)
    StoreCommit.recover(fs, dir) // before the nDead read and the tombstone-only path
    val requested = vecIds.toDF("vec_id")
    val oldBits = spark.read.parquet(s"$indexDir/bits")
    val nDead = oldBits.join(broadcast(requested), Seq("vec_id"), "left_semi").count()
    if (nDead == 0L) { persistTombstoneRequests(spark, fs, indexDir, requested); return 0L }
    StoreCommit.publish(fs, dir) { tmp =>
      oldBits.join(broadcast(requested), Seq("vec_id"), "left_anti")
        .write.mode(SaveMode.Overwrite).parquet(s"$tmp/bits")
      copyMetaIfPresent(spark, fs, indexDir, tmp)
      tombstonesOf(spark, indexDir).select("vec_id").unionByName(requested)
        .distinct()
        .write.mode(SaveMode.Overwrite).parquet(s"$tmp/tombstones")
    }
    nDead
  }
}
