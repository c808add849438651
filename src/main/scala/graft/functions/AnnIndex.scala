package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.{QueryDef, Stores, Tables}

/** Staged ANN index — the production shape of [[Similarity.knnIvf]] and
  * [[Similarity.pqKnn]]: train ONCE per corpus, persist the index to
  * storage, and serve every subsequent search from the stored artifacts
  * with zero training lineage in the search plan. A real 100 TB pipeline
  * never retrains centroids inside a query — it amortizes the index build
  * exactly like [[graft.operators.Scale.writeBucketed]] amortizes the
  * shuffle layout; the inline-training qkeys (knn_ivf, pq_knn) remain the
  * self-contained oracle twins.
  *
  * Index layout, one directory per (sf-dir, geometry) fingerprint under
  * the warehouse:
  *  - `ivf_centroids`  (cell, cv)            — numCells × dim floats
  *  - `ivf_postings`   (vec_id, embedding), hive-partitioned BY cell —
  *    the inverted lists; a cell-probe join prunes non-probed cells via
  *    dynamic partition pruning at FILE level, so an nprobe/numCells
  *    fraction of the corpus is read, which is the entire point of IVF
  *  - `pq_codebook`    (m, code, cv)         — numSub × numCodes floats
  *  - `pq_codes`       (vec_id, m, code)     — 8 one-byte codes/vector
  * All four are deterministic (quantized-integer Lloyd, float
  * round-trips), so the staged searches hash-match the same DuckDB
  * oracles that pin the inline paths — the oracle retrains in SQL, the
  * engine reads the store, and both must agree bit-for-bit.
  *
  * Training runs `Iters` = 3 Lloyd iterations (the inline gate twins pin
  * iters = 1): a staged index is built once, so better training is free
  * at query time. What more iterations buy is spec-pinned honestly in
  * DedupSimilaritySpec: reconstruction MSE strictly improves per
  * subspace, recall on CLUSTERED data (the real-encoder regime) does not
  * drop, and the staged search equals inline same-iters training
  * bit-for-bit. On the uniform synthetic corpus same-nprobe recall can
  * shift either way as Lloyd rebalances cells (0.85 → 0.75 at sf0.01) —
  * a property of uniform noise, not of the index.
  */
object AnnIndex {
  val NumCells = 16
  val Nprobe = 2
  val NumSub = 8
  val NumCodes = 16
  val Dim = 64
  val Iters = 3
  private val SubDim = Dim / NumSub

  /** Hive-partitioned postings write, clustered by the partition column
    * FIRST: without the repartition every write task touches every cell
    * dir — tasks × cells output files (97 869 in the sf100 auto store,
    * measured; file listing then dominates serve latency). Hash-clustered
    * on `cell`, each cell lands in exactly one task → one file per cell.
    */
  private def writePostings(assigned: DataFrame, path: String): Unit =
    assigned
      .withColumn("cell", col("cell").cast("int"))
      .repartition(col("cell"))
      .write.mode("overwrite").partitionBy("cell").parquet(path)

  /** Build-once staging through [[Stores.stage]], one directory per
    * (sf-dir, geometry) fingerprint: the store is published only once
    * all four artifacts are written, so a geometry change or an
    * interrupted build can never serve a stale or partial index.
    * Returns the index directory.
    */
  def stageOnce(spark: SparkSession, dir: String): String =
    // r2: layout revision — r2 added the residual-PQ (IVF-PQ) artifacts;
    // bumping the suffix orphans pre-revision dirs instead of serving an
    // index that lacks the new artifacts behind a valid marker
    Stores.stage(spark, dir, "ann", s"c${NumCells}s${NumSub}x${NumCodes}i${Iters}r2") { base =>
    val emb = Tables.embeddings(spark, dir)
    val cent = Similarity.ivfCentroids(emb, "vec_id", "embedding", NumCells, Iters)
    cent.write.mode("overwrite").parquet(s"$base/ivf_centroids")
    // assignments derive from the STORED centroids so the index is
    // internally consistent even if training lineage were ever to change
    val centStored = Tables.parquet(spark, s"$base/ivf_centroids")
    writePostings(Similarity.assignCells(emb, centStored, "vec_id", "embedding"),
      s"$base/ivf_postings")
    val (sub, cb) = Similarity.pqTrain(emb, "vec_id", "embedding", NumSub, NumCodes, Dim, Iters)
    cb.write.mode("overwrite").parquet(s"$base/pq_codebook")
    val cbStored = Tables.parquet(spark, s"$base/pq_codebook")
    Similarity.pqAssign(sub, cbStored, "vec_id")
      .write.mode("overwrite").parquet(s"$base/pq_codes")
    sub.unpersist()
    // IVF-PQ residual artifacts: codebooks train on (vector − stored
    // centroid) residuals, codes carry the cell so search can key the
    // candidate join on (cell, m, code)
    val resid = IvfPq.residuals(emb, centStored, "vec_id", "embedding").persist()
    val (rsub, rcb) = Similarity.pqTrain(resid, "vec_id", "rv", NumSub, NumCodes, Dim, Iters)
    rcb.write.mode("overwrite").parquet(s"$base/ivfpq_codebook")
    val rcbStored = Tables.parquet(spark, s"$base/ivfpq_codebook")
    Similarity.pqAssign(rsub, rcbStored, "vec_id")
      .join(resid.select(col("vec_id"), col("cell")), Seq("vec_id"))
      .select(col("vec_id"), col("cell").cast("int").as("cell"), col("m"), col("code"))
      .write.mode("overwrite").parquet(s"$base/ivfpq_codes")
    rsub.unpersist()
    resid.unpersist()
  }

  /** The incremental-index slice convention, mirroring the inline
    * incremental family ([[Similarity.knnIvfIncremental]],
    * [[Similarity.pqCodesIncremental]]): the staged corpus is
    * `vec_id % IncrMod != 0`, the ingest batch `vec_id % IncrMod == 0`.
    */
  val IncrMod = 5
  def incrTrainPred: Column = col("vec_id") % IncrMod =!= 0
  def incrNewPred: Column = col("vec_id") % IncrMod === 0

  /** Incremental-store base: same four IVF/PQ artifacts as [[stageOnce]]
    * but trained on — and holding postings/codes for — ONLY the staged
    * corpus slice, so ingest batches can later be appended by pure
    * encode-against-store ([[appendToIndex]]). Own fingerprint directory
    * (the `mN_incr` suffix) so the full-corpus store can never be
    * mistaken for the sliced one.
    */
  def stageIncrBase(spark: SparkSession, dir: String): String =
    Stores.stage(spark, dir, "ann",
        s"c${NumCells}s${NumSub}x${NumCodes}i${Iters}m${IncrMod}_incr_r1") { base =>
    val emb = Tables.embeddings(spark, dir).filter(incrTrainPred)
    val cent = Similarity.ivfCentroids(emb, "vec_id", "embedding", NumCells, Iters)
    cent.write.mode("overwrite").parquet(s"$base/ivf_centroids")
    val centStored = Tables.parquet(spark, s"$base/ivf_centroids")
    writePostings(Similarity.assignCells(emb, centStored, "vec_id", "embedding"),
      s"$base/ivf_postings")
    val (sub, cb) = Similarity.pqTrain(emb, "vec_id", "embedding", NumSub, NumCodes, Dim, Iters)
    cb.write.mode("overwrite").parquet(s"$base/pq_codebook")
    val cbStored = Tables.parquet(spark, s"$base/pq_codebook")
    Similarity.pqAssign(sub, cbStored, "vec_id")
      .write.mode("overwrite").parquet(s"$base/pq_codes")
    sub.unpersist()
  }

  /** The serve manifest: which ingest batches a staged-incremental serve
    * reads on top of the base. The default is the single canonical
    * ingest batch of the incremental-slice convention; specs and
    * multi-batch deployments pass their own list.
    */
  def defaultBatches: Seq[(Column, String)] = Seq((incrNewPred, "b1"))

  /** Append an ingest batch to the staged incremental index WITHOUT
    * touching the stored base: the batch is encoded against the STORED
    * centroids and codebook (pure per-row assignment — zero retraining,
    * zero reshuffle of the existing corpus, the
    * [[Similarity.knnIvfIncremental]] contract applied to the store) and
    * written as a self-contained delta segment
    * `delta_<batchTag>_<predFp>/{ivf_postings,pq_codes}` published on
    * its own ([[Stores.stageSegment]]) — an interrupted append rebuilds
    * only its delta, never the base (the segment model every production
    * index store uses: immutable base plus append-only revisions). The
    * batch PREDICATE is fingerprinted into the name alongside the human
    * tag, so re-running an append with a different predicate under the
    * same tag lands in a fresh directory instead of serving the stale
    * segment.
    * Serving reads base ∪ the manifest's deltas
    * ([[knnIvfStagedIncr]]/[[pqKnnStagedIncr]]); both sides stay
    * hive-partitioned by cell, so file-level pruning on probed cells
    * covers the deltas too. Returns the DELTA directory (the base is
    * recoverable via [[stageIncrBase]], which is idempotent).
    */
  def appendToIndex(spark: SparkSession, dir: String, batchPred: Column,
                    batchTag: String = "b1"): String = {
    val base = stageIncrBase(spark, dir)
    Stores.stageSegment(spark, base, s"delta_$batchTag", batchPred.toString) { delta =>
      val batch = Tables.embeddings(spark, dir).filter(batchPred)
      val centStored = Tables.parquet(spark, s"$base/ivf_centroids")
      writePostings(Similarity.assignCells(batch, centStored, "vec_id", "embedding"),
        s"$delta/ivf_postings")
      val cbStored = Tables.parquet(spark, s"$base/pq_codebook")
      val sub = Similarity.pqSubVectors(batch, "vec_id", "embedding", NumSub, SubDim)
      Similarity.pqAssign(sub, cbStored, "vec_id")
        .write.mode("overwrite").parquet(s"$delta/pq_codes")
    }
  }

  /** Append every batch in the manifest and return the stored artifact
    * under `sub` unioned across base + all delta segments — the shared
    * merge step of the incremental serves. An explicit manifest (not a
    * `delta_*` directory glob) is deliberate: the serve set is exactly
    * what the caller declares, so abandoned or experimental segments
    * left in the warehouse can never leak into a query's corpus.
    */
  private def mergedArtifact(spark: SparkSession, dir: String, sub: String,
                             batches: Seq[(Column, String)]): DataFrame = {
    val base = stageIncrBase(spark, dir)
    val deltas = batches.map { case (pred, tag) => appendToIndex(spark, dir, pred, tag) }
    deltas.foldLeft(Tables.parquet(spark, s"$base/$sub")) { (acc, d) =>
      acc.unionByName(Tables.parquet(spark, s"$d/$sub"))
    }
  }

  /** IVF top-k over the MERGED incremental store (base postings ∪ the
    * appended delta segment) — the serve that proves the
    * build→serve→ingest→monitor lifecycle closes: the batch appended by
    * [[appendToIndex]] is searchable with zero retraining, and the plan
    * reads only stored artifacts (PlanAuditSpec-asserted Lloyd-free).
    * Equals [[Similarity.knnIvfIncremental]] at the same iteration count
    * bit-for-bit (spec-asserted): base ∪ delta IS the full-corpus
    * assignment to the slice-trained centroids.
    */
  def knnIvfStagedIncr(spark: SparkSession, dir: String, queryPred: Column, k: Int,
                       nprobe: Int = Nprobe,
                       batches: Seq[(Column, String)] = defaultBatches): DataFrame = {
    val base = stageIncrBase(spark, dir)
    Similarity.ivfSearchAssigned(members(mergedArtifact(spark, dir, "ivf_postings", batches)),
      Tables.embeddings(spark, dir).filter(queryPred),
      Tables.parquet(spark, s"$base/ivf_centroids"), "vec_id", "embedding", k, nprobe)
  }

  /** ADC top-k over the MERGED incremental code store (base codes ∪ the
    * appended delta segment) — [[knnIvfStagedIncr]]'s PQ twin: the
    * ingest batch exists at search time purely as its appended 8-byte
    * codes, encoded against the codebook the base trained.
    */
  def pqKnnStagedIncr(spark: SparkSession, dir: String, queryPred: Column, k: Int,
                      batches: Seq[(Column, String)] = defaultBatches): DataFrame = {
    val base = stageIncrBase(spark, dir)
    Similarity.adcSearch(candidates(mergedArtifact(spark, dir, "pq_codes", batches)),
      querySlices(spark, dir, queryPred),
      Tables.parquet(spark, s"$base/pq_codebook"), Seq("m", "code"), k)
  }

  /** Index drift monitor over the STORED incremental index — the
    * production form of [[Similarity.ivfDriftReport]], which retrains
    * centroids inline on every call: here the centroids AND the
    * assignments come straight from the store (base postings = staged
    * corpus, delta postings = ingest batch — their union is exactly the
    * full-corpus assignment to the slice-trained centroids), so the
    * monitoring plan carries no Lloyd lineage at all
    * (PlanAuditSpec-asserted) and its cost is one broadcast join plus a
    * numCells-row aggregate over data already on disk.
    */
  def ivfDriftReportStaged(spark: SparkSession, dir: String,
                           batches: Seq[(Column, String)] = defaultBatches): DataFrame = {
    val base = stageIncrBase(spark, dir)
    val cent = Tables.parquet(spark, s"$base/ivf_centroids")
    val assigned = mergedArtifact(spark, dir, "ivf_postings", batches)
      .withColumn("cell", col("cell").cast("long"))
    // "new" = member of ANY served ingest batch — derived from the same
    // manifest the merge reads, so a custom batch list keeps the report
    // consistent with what is actually being served
    val newPred = batches.map(_._1).reduce(_ || _)
    Similarity.driftAggregate(assigned, cent, newPred, "vec_id", "embedding")
  }

  /** IVF top-k search against the STORED index: read centroids, probe the
    * `nprobe` nearest cells per query, score only those cells' postings.
    * No Lloyd lineage anywhere in this plan (PlanAuditSpec-asserted) —
    * the training constants (floor(v·10⁶)) and the corpus-wide
    * posexplode exist only at staging time. The postings scan is joined
    * on the hive-partition column, so dynamic partition pruning can skip
    * non-probed cells' files entirely.
    */
  def knnIvfStaged(spark: SparkSession, dir: String, queryPred: Column, k: Int,
                   nprobe: Int = Nprobe): DataFrame = {
    val base = stageOnce(spark, dir)
    Similarity.ivfSearchAssigned(members(Tables.parquet(spark, s"$base/ivf_postings")),
      Tables.embeddings(spark, dir).filter(queryPred),
      Tables.parquet(spark, s"$base/ivf_centroids"), "vec_id", "embedding", k, nprobe)
  }

  /** Hard-negative mining served from the STORED IVF index — the
    * production shape of [[Similarity.hardNegatives]] at corpus scale:
    * instead of scoring every query against the whole corpus, each query
    * probes its `nprobe` nearest stored cells and ranks only those
    * postings, with the label-mismatch predicate fused BEFORE the rank
    * window (Catalyst filters candidates before they are sorted). Labels
    * attach from the base embedding table by id — the store holds
    * vectors, the base table holds metadata — so the index needs no
    * rebuild when labels are revised. Zero training lineage in the plan;
    * the oracle retrains the same index in SQL
    * ([[Similarity.hardNegativesIvfSqlFor]] at the store's iters).
    *
    * Contrastive mining runs per training batch: at 100 TB this turns
    * each batch's mining from a corpus scan into `|batch| × nprobe`
    * posting-cell reads against an index built once per corpus revision.
    */
  def hardNegativesStaged(spark: SparkSession, dir: String, queryPred: Column,
                          k: Int, nprobe: Int = Nprobe): DataFrame = {
    val base = stageOnce(spark, dir)
    val labels = Tables.embeddings(spark, dir).select(col("vec_id"), col("label"))
    // cell cast to long before the probe meets it: pruning still applies,
    // through a cast of the partition column
    Similarity.ivfSearchAssigned(
      members(Tables.parquet(spark, s"$base/ivf_postings")
        .withColumn("cell", col("cell").cast("long"))).join(labels, Seq("vec_id")),
      Tables.embeddings(spark, dir).filter(queryPred),
      Tables.parquet(spark, s"$base/ivf_centroids"), "vec_id", "embedding", k, nprobe,
      pairFilter = Some(col("n_label") =!= col("q_label")))
  }

  /** Stored postings (vec_id, embedding, cell) as the cell members
    * [[Similarity.ivfSearchAssigned]] scores.
    */
  private def members(postings: DataFrame): DataFrame =
    Similarity.withNorm(postings, "vec_id", "embedding", passthrough = Seq("cell"))

  /** Stored PQ codes (vec_id, m, code) as [[Similarity.adcSearch]]
    * candidates.
    */
  private def candidates(codes: DataFrame): DataFrame =
    codes.select(col("vec_id").as("n_id"), col("m"), col("code"))

  /** The queried vectors' PQ slices (q_id, m, sv) for
    * [[Similarity.adcSearch]].
    */
  private def querySlices(spark: SparkSession, dir: String, queryPred: Column): DataFrame =
    Similarity.pqSubVectors(
      Tables.embeddings(spark, dir).filter(queryPred), "vec_id", "embedding", NumSub, SubDim)
      .select(col("vec_id").as("q_id"), col("m"), col("sv"))

  /** PQ ADC top-k search against the STORED index: the corpus exists in
    * this plan ONLY as 8-byte codes; full-precision vectors are touched
    * solely on the (small, filtered) query side, to build each query's
    * numSub × numCodes distance table. The search is
    * [[Similarity.adcSearch]], which [[Similarity.pqKnn]] runs over
    * inline-trained codes; here with zero training lineage.
    */
  def pqKnnStaged(spark: SparkSession, dir: String, queryPred: Column, k: Int): DataFrame = {
    val base = stageOnce(spark, dir)
    Similarity.adcSearch(candidates(Tables.parquet(spark, s"$base/pq_codes")),
      querySlices(spark, dir, queryPred),
      Tables.parquet(spark, s"$base/pq_codebook"), Seq("m", "code"), k)
  }

  /** PQ reconstruction-error QA over the stored index — pins PQ quality
    * the way dedup_qa_report pins LSH quality: per subspace, the mean
    * squared L2 between each vector's slice and its assigned codebook
    * entry. Distances quantize to floor(d2·10⁹) integers before the sum
    * (merge-order independent), so the ratio is engine-portable and the
    * oracle (which retrains in SQL) must agree exactly. Spec-asserted
    * bound in DedupSimilaritySpec: the iters=3 MSE is no worse than the
    * iters=1 MSE that the inline twins train with.
    */
  def pqReconError(spark: SparkSession, dir: String): DataFrame = {
    val base = stageOnce(spark, dir)
    val cb = Tables.parquet(spark, s"$base/pq_codebook")
    val codes = Tables.parquet(spark, s"$base/pq_codes")
    val sub = Similarity.pqSubVectors(
      Tables.embeddings(spark, dir), "vec_id", "embedding", NumSub, SubDim)
    pqMse(sub, codes, cb)
  }

  /** Inline-trained twin of [[pqReconError]] at an arbitrary iteration
    * count — no staging, no store. Exists so DedupSimilaritySpec can
    * assert the staged index's iters=3 MSE is no worse than the iters=1
    * MSE the inline gate twins train with (more Lloyd steps can only
    * shrink within-cell variance on a fixed assignment rule).
    */
  def pqReconErrorInline(emb: DataFrame, iters: Int): DataFrame = {
    val (sub, cb) = Similarity.pqTrain(emb, "vec_id", "embedding", NumSub, NumCodes, Dim, iters)
    pqMse(sub, Similarity.pqAssign(sub, cb, "vec_id"), cb)
  }

  /** Per-subspace mean squared reconstruction error over quantized
    * floor(d2·10⁹) integers — shared by the staged and inline variants.
    */
  private def pqMse(sub: DataFrame, codes: DataFrame, cb: DataFrame): DataFrame = {
    val d2 = Similarity.sqL2(col("sv"), col("cv"))
    sub.join(codes.select(col("vec_id"), col("m"), col("code")), Seq("vec_id", "m"))
      .join(broadcast(cb), Seq("m", "code"))
      .select(col("m"), floor(d2 * lit(1e9)).cast("long").as("d2q"))
      .groupBy(col("m"))
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(col("d2q")).cast("double") / (lit(1e9) * count(lit(1))), 6).as("mse"))
      .select(col("m").cast("int").as("m"), col("n_vecs"), col("mse"))
  }

  /** The production two-stage search against the STORED index — the
    * shape a 100 TB deployment actually serves: stage 1 scans the corpus
    * as 8-byte codes from the store ([[pqKnnStaged]], `shortlist`
    * candidates per query), stage 2 re-ranks ONLY the shortlist with
    * full-precision squared-L2 (quantized floor(d2·10⁹), engine-
    * portable). Full vectors are read for `shortlist` rows per query,
    * never corpus-wide; zero training lineage in the plan.
    */
  def pqKnnRerankStaged(spark: SparkSession, dir: String, queryPred: Column, k: Int,
                        shortlist: Int = 40): DataFrame =
    Similarity.exactRerank(pqKnnStaged(spark, dir, queryPred, shortlist),
      Tables.embeddings(spark, dir), "vec_id", "embedding", k)

  /** The same two-stage serve over the composed IVF-PQ store: shortlist
    * from [[ivfPqKnnStaged]] (cell-probed ADC over stored residual
    * codes), exact re-rank touching only shortlist-many full vectors per
    * query. Cell-probing caps ADC recall at IVF's cell recall, and ADC
    * quantization error coarsens the shortlist ORDER — the re-rank
    * repairs the latter for free, which is why production IVFADC always
    * serves shortlist+rerank, never raw ADC ranks.
    */
  def ivfPqKnnRerankStaged(spark: SparkSession, dir: String, queryPred: Column, k: Int,
                           shortlist: Int = 40): DataFrame =
    Similarity.exactRerank(ivfPqKnnStaged(spark, dir, queryPred, shortlist),
      Tables.embeddings(spark, dir), "vec_id", "embedding", k)

  /** Residual (IVF-PQ) reconstruction-error QA over the stored index —
    * the quantitative case for encoding residuals instead of raw
    * vectors: per subspace, the mean squared L2 between each vector's
    * RESIDUAL slice and its assigned residual-codebook entry, on the
    * same quantized floor(d2·10⁹) integers as [[pqReconError]] so the
    * two are directly comparable (DedupSimilaritySpec asserts the
    * residual MSE beats the raw MSE — the whole point of IVFADC).
    * Residuals rebuild from the stored postings (cell already assigned)
    * joined to the stored centroids — no training lineage.
    */
  def ivfPqReconError(spark: SparkSession, dir: String): DataFrame = {
    val base = stageOnce(spark, dir)
    val postings = Tables.parquet(spark, s"$base/ivf_postings")
    val cent = Tables.parquet(spark, s"$base/ivf_centroids")
    val resid = postings.join(broadcast(cent), Seq("cell"))
      .select(col("vec_id"), IvfPq.residual(col("embedding")).as("rv"))
    val rsub = Similarity.pqSubVectors(resid, "vec_id", "rv", NumSub, SubDim)
    val rcodes = Tables.parquet(spark, s"$base/ivfpq_codes")
    val rcb = Tables.parquet(spark, s"$base/ivfpq_codebook")
    pqMse(rsub, rcodes, rcb)
  }

  /** DuckDB twin of [[ivfPqReconError]]: both trainings unrolled, then
    * the per-subspace quantized-integer MSE over residual space.
    */
  def ivfPqReconErrorSqlFor(iters: Int): String =
    s"""${IvfPq.sqlPrefix(NumCells, NumSub, NumCodes, Dim, iters)},
       |err AS (
       |  SELECT s.m,
       |         ${Similarity.d2qSql("s.sv", "c.cv")}
       |  FROM rsub s
       |    JOIN rcodes co ON co.vec_id = s.vec_id AND co.m = s.m
       |    JOIN rcb c ON c.m = co.m AND c.code = co.code)
       |SELECT CAST(m AS INT) AS m, count(*) AS n_vecs,
       |       round(CAST(CAST(sum(d2q) AS BIGINT) AS DOUBLE) / (1000000000.0 * count(*)), 6) AS mse
       |FROM err GROUP BY 1""".stripMargin

  /** IVF index-health QA over the stored postings — the inverted-list
    * balance report every production ANN deployment watches: per cell,
    * the posting count (a skewed cell means probe cost variance — the
    * IVF analogue of a hot shuffle key) and the mean vector norm
    * (quantized floor(nrm·10⁹) integers — the ADC-table quantizer, NOT
    * training's 10⁶ Lloyd fingerprint — merge-order independent →
    * engine-portable). Reads ONLY the staged index plus nothing else —
    * no training lineage (PlanAuditSpec-asserted); the oracle retrains
    * in SQL and must agree exactly.
    */
  def ivfCellStats(spark: SparkSession, dir: String): DataFrame = {
    val base = stageOnce(spark, dir)
    val postings = Tables.parquet(spark, s"$base/ivf_postings")
    Similarity.withNorm(postings, "vec_id", "embedding", passthrough = Seq("cell"))
      .groupBy(col("cell").cast("int").as("cell"))
      .agg(count(lit(1)).as("n_vecs"),
        round(sum(floor(col("nrm") * lit(1e9)).cast("long")).cast("double")
          / (lit(1e9) * count(lit(1))), 6).as("mean_norm"))
  }

  /** IVF-PQ top-k search against the STORED index — the full production
    * serving shape; [[IvfPq.ivfPqKnn]] runs the same search over
    * inline-trained artifacts: probe `nprobe` cells against the stored
    * centroids, rebuild each query's per-probed-cell residual, ADC-score
    * ONLY the probed cells' stored residual codes. The corpus appears in
    * this plan exclusively as (cell, 8-byte code) rows; no Lloyd lineage
    * anywhere (PlanAuditSpec-asserted).
    */
  def ivfPqKnnStaged(spark: SparkSession, dir: String, queryPred: Column, k: Int,
                     nprobe: Int = Nprobe): DataFrame = {
    val base = stageOnce(spark, dir)
    val cand = Tables.parquet(spark, s"$base/ivfpq_codes")
      .select(col("vec_id").as("n_id"), col("cell").cast("long").as("cell"),
        col("m"), col("code"))
    Similarity.adcSearch(cand,
      IvfPq.querySlices(Tables.embeddings(spark, dir).filter(queryPred),
        Tables.parquet(spark, s"$base/ivf_centroids"), "vec_id", "embedding",
        nprobe, NumSub, SubDim),
      Tables.parquet(spark, s"$base/ivfpq_codebook"), Seq("cell", "m", "code"), k)
  }

  /** SemDeDup-style semantic dedup over the STORED IVF cells: candidate
    * pairs are generated within a cell only (the clustering IS the
    * blocking structure — two embeddings in different Voronoi cells are
    * far by construction), then scored exactly; pairs at cosine ≥
    * `threshold` are the semantic near-duplicates a curation pass prunes
    * (keep-lowest-id is the usual rule; the pair list is the auditable
    * artifact). This is the embedding-space analogue of the minhash band
    * join: Σ|cell|² candidate pairs, never n².
    *
    * Scale shape: reads only the staged postings (no training lineage —
    * PlanAuditSpec-asserted), and the self-join keys on the hive
    * partition column. At 100 TB the cell count grows with the corpus
    * (numCells ≈ √n is the standard rule, making candidate work ~n^1.5
    * with the `maxCellSize` cap as the skew guard); the fixed 16-cell
    * geometry here is the oracle gate configuration, same as the inline
    * ANN twins.
    *
    * `maxCellSize`: a hot cell makes the within-cell self-join
    * Θ(|cell|²), the IVF analogue of a skewed shuffle key. When set, it
    * is a STRICT cap: members rank by xxhash64(vec_id) within their cell
    * (vec_id tie-break) and only the first `cap` survive — a
    * deterministic uniform-ish sample, so no cell can ever exceed the
    * cap (spec-asserted in DedupSimilaritySpec) and the capped pair set
    * is a reproducible subset of the full one. The rank is one window
    * over the cell partitioning the join already shuffles by — no extra
    * exchange. The oracle qkey pins cap = None (exact gate); production
    * sets the cap to its skew budget.
    */
  def semDedup(spark: SparkSession, dir: String, threshold: Double = 0.4,
               maxCellSize: Option[Int] = None): DataFrame = {
    val base = stageOnce(spark, dir)
    semDedupPairsOf(Tables.parquet(spark, s"$base/ivf_postings"), threshold, maxCellSize)
  }

  /** The within-cell exact-cosine pair scan over any (vec_id, embedding,
    * cell) frame — shared by the staged-store [[semDedup]] and the
    * corpus-sized [[semDedupAuto]].
    */
  private def semDedupPairsOf(postings: DataFrame, threshold: Double,
                              maxCellSize: Option[Int]): DataFrame = {
    val full = Similarity.withNorm(postings, "vec_id", "embedding", passthrough = Seq("cell"))
    val n = maxCellSize match {
      case None => full
      case Some(cap) =>
        require(cap >= 1, s"semDedup: maxCellSize must be >= 1, got $cap")
        full.withColumn("rnk", row_number().over(
            Window.partitionBy(col("cell"))
              .orderBy(xxhash64(col("vec_id")).asc, col("vec_id").asc)))
          .filter(col("rnk") <= cap)
          .drop("rnk")
    }
    val a = n.select(col("cell"), col("vec_id").as("a_id"), col("v").as("va"), col("nrm").as("na"))
    val b = n.select(col("cell").as("cell_b"), col("vec_id").as("b_id"),
      col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, col("cell") === col("cell_b") && col("a_id") < col("b_id"))
      .withColumn("cs", Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cs") >= threshold)
      .select(col("cell").cast("int").as("cell"), col("a_id"), col("b_id"),
        round(col("cs"), 4).as("cos_sim"))
  }

  /** [[semDedup]] with corpus-sized cells — the production geometry the
    * staged qkey's scaladoc promises: cells ≈ √n ([[Similarity.ivfCellsFor]],
    * one job-free footer row count at plan time, [[Tables.rowCount]])
    * bounds candidate work at Σ|cell|² ≈ n·√n instead of the
    * fixed-16-cell n²/16. Trains inline at iters = 1 (the inline-twin
    * convention — the oracle unrolls the same training in SQL); the gate
    * fixtures ship 500 embeddings at both oracle scales, so the rule
    * lands on ceil(√500) = 23 cells at both and the oracle pins that
    * constant, exactly like `dedup_embedding_lsh_auto`'s band geometry.
    */
  def semDedupAuto(spark: SparkSession, dir: String, threshold: Double = 0.4,
                   maxCellSize: Option[Int] = None): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val n = Tables.rowCount(spark, dir, "embeddings")
    val cells = Similarity.ivfCellsFor(n)
    // sampled Lloyd (mod = 1 at gate scales — see ivfTrainSampleModFor)
    val cent = Similarity.ivfCentroids(
      Similarity.ivfTrainSlice(emb, "vec_id", Similarity.ivfTrainSampleModFor(n, cells)),
      "vec_id", "embedding", cells, iters = 1).persist()
    // assignment mirrors stageAuto's decade rule: flat exact argmax below
    // HierAssignMinCells (every oracle gate — 23 cells — takes this path,
    // unchanged), hierarchical above it. The r18 sf100 artifact measured
    // the inline twin at 324.5 s — the flat n×√n argmax (2 M × 1414
    // cells) that stageAuto's build already stopped paying in round 17;
    // the within-cell pair scan itself serves in ~18 s at the same scale.
    val assigned =
      if (cells >= HierAssignMinCells)
        Similarity.assignCellsHier(emb, cent, "vec_id", "embedding",
          Similarity.hierBranchesFor(cells), HierBranchProbe)
      else Similarity.assignCells(emb, cent, "vec_id", "embedding")
    semDedupPairsOf(assigned, threshold, maxCellSize)
  }

  /** Below this cell count the final assignment pass stays the flat
    * exact argmax ([[Similarity.assignCells]] — n × cells is cheap and
    * the store fingerprint format is unchanged, so existing gate/sf1
    * stores keep serving); at or above it the pass goes HIERARCHICAL
    * ([[Similarity.assignCellsHier]]) — the fourth-decade fix for the
    * one n·√n term the sf10 audit flagged. The rule first activates at
    * sf10 (447 cells), exactly like the training-sample modulus.
    */
  val HierAssignMinCells = 256

  /** Branches probed per vector by the hierarchical assignment: 8 of
    * ~√cells branches probes a bounded slice of centroid space while
    * keeping per-vector work at (1 + 8)·√cells sims. At gate geometry
    * (23 cells → 5 branches) 8 >= branches, so the probe is exhaustive
    * and provably equal to the flat argmax — but the gate never takes
    * this path anyway ([[HierAssignMinCells]]).
    */
  val HierBranchProbe = 8

  /** Build-once staging at CORPUS-SIZED geometry — [[stageOnce]]'s IVF
    * half at cells ≈ √n: the store every production ANN/semantic-dedup
    * deployment actually maintains (fixed 16-cell geometry is the oracle
    * gate configuration; this one grows with the corpus). The cell count
    * is part of the directory fingerprint, so a corpus growth that
    * changes the derived geometry triggers a fresh build instead of
    * serving a stale one. Only the IVF artifacts are staged (centroids +
    * hive-partitioned postings); trains at [[Iters]] = 3 like
    * [[stageOnce]] — a one-time build earns better training. Returns
    * (index dir, cells).
    */
  def stageAuto(spark: SparkSession, dir: String): (String, Int) = {
    val emb = Tables.embeddings(spark, dir)
    val n = Tables.rowCount(spark, dir, "embeddings")
    val cells = Similarity.ivfCellsFor(n)
    // sampled Lloyd: training cost stays LINEAR in the corpus (the sf10
    // staging point measured the full-corpus √n-cell build super-linear —
    // 13.3 s → 417 s on 10× data); only the final assignment pass below
    // touches every vector — hierarchically above HierAssignMinCells.
    // mod = 1 (full corpus, unchanged oracle) at every gate scale and
    // sf1; the mod — and the hierarchical-assignment geometry — live in
    // the directory fingerprint so a corpus crossing a sampling or
    // assignment boundary rebuilds instead of serving stale artifacts.
    val mod = Similarity.ivfTrainSampleModFor(n, cells)
    val hier = cells >= HierAssignMinCells
    val geom = if (hier)
      s"auto_c${cells}i${Iters}m${mod}h${Similarity.hierBranchesFor(cells)}p${HierBranchProbe}r1"
    else s"auto_c${cells}i${Iters}m${mod}r1"
    val path = Stores.stage(spark, dir, "ann", geom) { base =>
      val cent = Similarity.ivfCentroids(
        Similarity.ivfTrainSlice(emb, "vec_id", mod), "vec_id", "embedding", cells, Iters)
      cent.write.mode("overwrite").parquet(s"$base/ivf_centroids")
      val centStored = Tables.parquet(spark, s"$base/ivf_centroids")
      if (hier) {
        // the postings write is the ONE action consuming the assignment —
        // release the hier probe's internal persist immediately instead
        // of leaving an n-row cache for the runner's releaseAll
        val (assigned, handle) = Similarity.assignCellsHierWithHandle(
          emb, centStored, "vec_id", "embedding",
          Similarity.hierBranchesFor(cells), HierBranchProbe)
        writePostings(assigned, s"$base/ivf_postings")
        handle.unpersist(blocking = false)
      } else {
        writePostings(
          Similarity.assignCells(emb, centStored, "vec_id", "embedding"),
          s"$base/ivf_postings")
      }
    }
    (path, cells)
  }

  /** IVF top-k against the CORPUS-SIZED store — the terminal production
    * shape of the search family: geometry grows with the corpus
    * ([[stageAuto]]), nprobe holds the scan fraction constant
    * ([[Similarity.ivfNprobeFor]]), and the serve plan reads only stored
    * artifacts (no Lloyd lineage — PlanAuditSpec-asserted).
    */
  def knnIvfAutoStaged(spark: SparkSession, dir: String, queryPred: Column,
                       k: Int): DataFrame = {
    val (base, cells) = stageAuto(spark, dir)
    Similarity.ivfSearchAssigned(members(Tables.parquet(spark, s"$base/ivf_postings")),
      Tables.embeddings(spark, dir).filter(queryPred),
      Tables.parquet(spark, s"$base/ivf_centroids"), "vec_id", "embedding",
      k, Similarity.ivfNprobeFor(cells))
  }

  /** SemDeDup over the CORPUS-SIZED store — [[semDedup]]'s blocking at
    * √n cells with zero training in the plan: the within-cell pair scan
    * costs Σ|cell|² ≈ n^1.5 AND pays no inline Lloyd, which is exactly
    * how a production semantic-dedup pass runs daily against a
    * maintained index.
    */
  def semDedupAutoStaged(spark: SparkSession, dir: String, threshold: Double = 0.4,
                         maxCellSize: Option[Int] = None): DataFrame = {
    val (base, _) = stageAuto(spark, dir)
    semDedupPairsOf(Tables.parquet(spark, s"$base/ivf_postings"), threshold, maxCellSize)
  }

  /** DuckDB twin of [[semDedup]]: unrolled IVF training + assignment,
    * then the within-cell exact-cosine pair scan. The threshold compares
    * the UNROUNDED cosine (both engines), rounding only the output.
    */
  def semDedupSqlFor(numCells: Int, iters: Int, threshold: Double): String =
    s"""${Similarity.ivfAssignSqlPrefix(numCells, iters)},
       |p AS (SELECT a.vec_id, a.cell, n.v, n.nrm FROM assign a JOIN n USING (vec_id))
       |SELECT CAST(x.cell AS INT) AS cell, x.vec_id AS a_id, y.vec_id AS b_id,
       |       round(list_inner_product(x.v, y.v) / (x.nrm * y.nrm), 4) AS cos_sim
       |FROM p x JOIN p y ON y.cell = x.cell AND x.vec_id < y.vec_id
       |WHERE list_inner_product(x.v, y.v) / (x.nrm * y.nrm) >= $threshold""".stripMargin

  /** DuckDB twin of [[ivfCellStats]]: unrolled IVF training + full-corpus
    * assignment, then the per-cell quantized-norm aggregate.
    */
  def ivfCellStatsSqlFor(numCells: Int, iters: Int): String =
    s"""${Similarity.ivfAssignSqlPrefix(numCells, iters)}
       |SELECT CAST(a.cell AS INT) AS cell, count(*) AS n_vecs,
       |       round(CAST(CAST(sum(floor(n.nrm * 1000000000.0)) AS BIGINT) AS DOUBLE)
       |             / (1000000000.0 * count(*)), 6) AS mean_norm
       |FROM assign a JOIN n USING (vec_id)
       |GROUP BY 1""".stripMargin

  /** DuckDB twin of [[pqReconError]]: the unrolled-training prefix, then
    * the per-subspace quantized-integer MSE.
    */
  def pqReconErrorSqlFor(iters: Int): String =
    s"""${Similarity.pqSqlPrefix(NumSub, NumCodes, Dim, iters)},
       |err AS (
       |  SELECT s.m,
       |         ${Similarity.d2qSql("s.sv", "c.cv")}
       |  FROM sub s
       |    JOIN codes co ON co.vec_id = s.vec_id AND co.m = s.m
       |    JOIN cb c ON c.m = co.m AND c.code = co.code)
       |SELECT CAST(m AS INT) AS m, count(*) AS n_vecs,
       |       round(CAST(CAST(sum(d2q) AS BIGINT) AS DOUBLE) / (1000000000.0 * count(*)), 6) AS mse
       |FROM err GROUP BY 1""".stripMargin

  /** ANN recall QA as a first-class operator — the monitored artifact a
    * production deployment alerts on, not a test constant: each staged
    * method's top-k is joined against the exact brute-force-cosine top-k
    * (the [[Similarity.knnBrute]] ground truth, same query batch), and
    * recall@k = |approx ∩ exact| / (|queries| · k) is emitted per method.
    * The denominator is the TRUE query-batch size times k — counted from
    * the query predicate itself, never from what the method returned —
    * so a method that retrieves fewer than k rows (or drops a query
    * entirely) earns proportionally LOWER recall, not inflated recall
    * (spec-asserted with a sparse nprobe=1 probe in
    * DedupSimilaritySpec). Both sides are deterministic, so unlike most
    * recall metrics this one is EXACTLY reproducible — the oracle
    * recomputes identical numbers (the spec-asserted 0.90 IVF figure
    * becomes a hash-checked row).
    *
    * Scale shape: the three top-k frames are |queries| · k rows each —
    * the report costs its inputs, the joins and the per-method aggregate
    * are noise; at 100 TB this runs on a sampled query batch exactly as
    * it does here.
    */
  def annRecallReport(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    val qPred = col("vec_id") < 8
    annRecallReportFor(spark, dir, qPred, k, Seq(
      "knn_ivf_staged" -> knnIvfStaged(spark, dir, qPred, k),
      "ivfpq_knn_rerank_staged" -> ivfPqKnnRerankStaged(spark, dir, qPred, k),
      "knn_ivf_auto_staged" -> knnIvfAutoStaged(spark, dir, qPred, k)))
  }

  /** [[annRecallReport]] over an arbitrary (queryPred, k, methods) set —
    * the same join/aggregate with the |queries|·k denominator, exposed
    * so specs and deployments can score their own method panels.
    */
  def annRecallReportFor(spark: SparkSession, dir: String, queryPred: Column, k: Int,
                         methods: Seq[(String, DataFrame)]): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val brute = Similarity.knnBrute(emb, emb.filter(queryPred), "vec_id", "embedding", k)
      .select(col("q_id"), col("n_id"), lit(1L).as("hit"))
    // the true batch size, from the predicate — NOT countDistinct over
    // method output, which would silently forgive dropped queries
    val nq = emb.filter(queryPred).agg(count(lit(1)).as("n_queries"))
    val all = methods.map { case (m, df) =>
      df.select(lit(m).as("method"), col("q_id"), col("n_id"))
    }.reduce(_ unionByName _)
    all.join(brute, Seq("q_id", "n_id"), "left")
      .groupBy(col("method"))
      .agg(count(lit(1)).as("n_retrieved"),
        sum(coalesce(col("hit"), lit(0L))).as("n_hits"))
      .crossJoin(broadcast(nq))
      .withColumn("recall",
        round(col("n_hits").cast("double") / (col("n_queries") * lit(k)), 4))
      .select(col("method"), col("n_queries"), col("n_retrieved"),
        col("n_hits"), col("recall"))
  }

  /** DuckDB twin of [[annRecallReport]]: the brute, staged-IVF, and
    * staged-rerank top-k queries as CTEs (each retrained/recomputed in
    * SQL), then the same membership join and per-method aggregate.
    */
  val annRecallReportSql: String =
    s"""WITH brute AS (SELECT q_id, n_id FROM (${Similarity.knnBruteSql})),
       |ivf AS (SELECT q_id, n_id FROM (
       |${Similarity.knnIvfSqlFor(NumCells, Nprobe, 5, "vec_id < 8", Iters)})),
       |rer AS (SELECT q_id, n_id FROM (
       |${IvfPq.ivfPqKnnRerankSqlFor(NumCells, Nprobe, NumSub, NumCodes, Dim, 5, 40,
            "vec_id < 8", Iters)})),
       |aut AS (SELECT q_id, n_id FROM (
       |${Similarity.knnIvfSqlFor(Similarity.ivfCellsFor(500),
            Similarity.ivfNprobeFor(Similarity.ivfCellsFor(500)), 5, "vec_id < 8", Iters)})),
       |allm AS (
       |  SELECT 'knn_ivf_staged' AS method, q_id, n_id FROM ivf
       |  UNION ALL
       |  SELECT 'ivfpq_knn_rerank_staged' AS method, q_id, n_id FROM rer
       |  UNION ALL
       |  SELECT 'knn_ivf_auto_staged' AS method, q_id, n_id FROM aut),
       |mk AS (
       |  SELECT a.method, a.q_id, a.n_id,
       |         CASE WHEN b.q_id IS NOT NULL THEN 1 ELSE 0 END AS hit
       |  FROM allm a LEFT JOIN brute b ON b.q_id = a.q_id AND b.n_id = a.n_id)
       |SELECT method,
       |       (SELECT count(*) FROM embeddings WHERE vec_id < 8) AS n_queries,
       |       count(*) AS n_retrieved, CAST(sum(hit) AS BIGINT) AS n_hits,
       |       round(CAST(sum(hit) AS DOUBLE)
       |             / ((SELECT count(*) FROM embeddings WHERE vec_id < 8) * 5), 4) AS recall
       |FROM mk GROUP BY 1""".stripMargin

  /** Same oracles as the inline twins, at the staged index's iters=3 —
    * the index contents are deterministic, so "train in SQL, search the
    * store in Spark" must produce identical bytes.
    */
  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "knn_ivf_staged",
      (s, dir) => knnIvfStaged(s, dir, col("vec_id") < 8, 5),
      Some(Similarity.knnIvfSqlFor(NumCells, Nprobe, 5, "vec_id < 8", Iters))),
    QueryDef(
      "hard_negatives_staged",
      (s, dir) => hardNegativesStaged(s, dir, col("vec_id") < 8, 5),
      Some(Similarity.hardNegativesIvfSqlFor(NumCells, Nprobe, 5, "vec_id < 8", Iters))),
    QueryDef(
      "pq_knn_staged",
      (s, dir) => pqKnnStaged(s, dir, col("vec_id") < 8, 5),
      Some(Similarity.pqKnnSqlFor(NumSub, NumCodes, Dim, 5, "vec_id < 8", Iters))),
    QueryDef(
      "pq_recon_error",
      (s, dir) => pqReconError(s, dir),
      Some(pqReconErrorSqlFor(Iters))),
    QueryDef(
      "ivf_cell_stats",
      (s, dir) => ivfCellStats(s, dir),
      Some(ivfCellStatsSqlFor(NumCells, Iters))),
    QueryDef(
      "pq_knn_rerank_staged",
      (s, dir) => pqKnnRerankStaged(s, dir, col("vec_id") < 8, 5),
      Some(Similarity.pqKnnRerankSqlFor(NumSub, NumCodes, Dim, 5, 40, "vec_id < 8", Iters))),
    QueryDef(
      "semdedup_pairs",
      (s, dir) => semDedup(s, dir, threshold = 0.4),
      Some(semDedupSqlFor(NumCells, Iters, 0.4))),
    QueryDef(
      "semdedup_auto",
      // corpus-sized cells (≈ √n): candidate work Σ|cell|² ≈ n^1.5, the
      // geometry a 100 TB semantic-dedup pass actually runs; both oracle
      // fixtures ship 500 embeddings → the rule derives 23 cells at both
      // gate scales and the oracle pins that derived constant
      (s, dir) => semDedupAuto(s, dir, threshold = 0.4),
      Some(semDedupSqlFor(Similarity.ivfCellsFor(500), 1, 0.4))),
    QueryDef(
      "knn_ivf_auto_staged",
      // the terminal production shape: corpus-sized store + lineage-free
      // serve; oracle retrains at the gate-derived geometry (23 cells,
      // nprobe 2) at the store's iters = 3
      (s, dir) => knnIvfAutoStaged(s, dir, col("vec_id") < 8, 5),
      Some(Similarity.knnIvfSqlFor(Similarity.ivfCellsFor(500),
        Similarity.ivfNprobeFor(Similarity.ivfCellsFor(500)), 5, "vec_id < 8", Iters))),
    QueryDef(
      "semdedup_auto_staged",
      (s, dir) => semDedupAutoStaged(s, dir, threshold = 0.4),
      Some(semDedupSqlFor(Similarity.ivfCellsFor(500), Iters, 0.4))),
    QueryDef(
      "ivfpq_knn_staged",
      (s, dir) => ivfPqKnnStaged(s, dir, col("vec_id") < 8, 5),
      Some(IvfPq.ivfPqKnnSqlFor(NumCells, Nprobe, NumSub, NumCodes, Dim, 5,
        "vec_id < 8", Iters))),
    QueryDef(
      "ivfpq_recon_error",
      (s, dir) => ivfPqReconError(s, dir),
      Some(ivfPqReconErrorSqlFor(Iters))),
    QueryDef(
      "ivfpq_knn_rerank_staged",
      (s, dir) => ivfPqKnnRerankStaged(s, dir, col("vec_id") < 8, 5),
      Some(IvfPq.ivfPqKnnRerankSqlFor(NumCells, Nprobe, NumSub, NumCodes, Dim, 5, 40,
        "vec_id < 8", Iters))),
    QueryDef(
      "knn_ivf_staged_incr",
      // base trained on vec_id % 5 != 0, the % 5 == 0 batch appended by
      // encode-against-store; queries are the first 8 new-batch vectors —
      // the oracle trains on the slice in SQL and searches the union
      (s, dir) => knnIvfStagedIncr(s, dir, incrNewPred && col("vec_id") < 40, 5),
      Some(Similarity.knnIvfSqlFor(NumCells, Nprobe, 5,
        "vec_id % 5 = 0 AND vec_id < 40", Iters, Some("vec_id % 5 <> 0")))),
    QueryDef(
      "pq_knn_staged_incr",
      (s, dir) => pqKnnStagedIncr(s, dir, incrNewPred && col("vec_id") < 40, 5),
      Some(Similarity.pqKnnSqlFor(NumSub, NumCodes, Dim, 5,
        "vec_id % 5 = 0 AND vec_id < 40", Iters, Some("vec_id % 5 <> 0")))),
    QueryDef(
      "ivf_drift_report_staged",
      (s, dir) => ivfDriftReportStaged(s, dir),
      Some(Similarity.ivfDriftReportSqlFor(NumCells, Iters,
        "vec_id % 5 <> 0", "vec_id % 5 = 0"))),
    QueryDef(
      "ann_recall_report",
      (s, dir) => annRecallReport(s, dir),
      Some(annRecallReportSql)),
  )
}
