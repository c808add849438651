package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.engine.{QueryDef, Tables}

/** IVF-PQ — the composed index every production-scale vector deployment
  * actually runs (the FAISS "IVFADC" shape): a coarse IVF quantizer
  * partitions the corpus into Voronoi cells, and product quantization
  * encodes each vector's RESIDUAL (vector − its cell centroid) instead
  * of the raw vector. Residuals are centered near zero with far less
  * variance than raw vectors, so the same 8-byte code budget quantizes
  * them with lower reconstruction error — and search composes both
  * prunings: probe `nprobe` cells (IVF skips (numCells−nprobe)/numCells
  * of the corpus), then ADC-score only the probed cells' codes against a
  * per-(query, cell) distance table built from the query's own residual
  * in that cell.
  *
  * Scale shape at 100 TB: the corpus exists at search time as
  * (cell, 8-byte code) rows — never full vectors; the broadcast sides
  * are the centroid table (numCells × dim) and the residual codebook
  * (numSub × numCodes), both constructionally tiny; the candidate scan
  * is an equi-join on (cell, m, code). Everything here trains inline
  * (training lineage in-plan, like knn_ivf / pq_knn);
  * [[AnnIndex.ivfPqKnnStaged]] runs the same search ([[querySlices]],
  * [[Similarity.adcSearch]]) over the train-once store.
  *
  * Determinism: residuals are double subtractions of float-valued
  * doubles — an exactly-specified IEEE op both engines perform
  * identically — feeding the same quantized-integer Lloyd machinery as
  * the raw-space twins, so the whole composed index is
  * DuckDB-oracle-checkable ([[sqlPrefix]] trains both stages in SQL).
  */
object IvfPq {

  /** Per-vector residual against its assigned cell centroid:
    * (idCol, cell, rv DOUBLE[]). The centroid join is a broadcast of the
    * numCells × dim table; the subtraction is a per-row zip_with.
    */
  private[functions] def residuals(emb: DataFrame, cent: DataFrame,
                                   idCol: String, vecCol: String): DataFrame = {
    val assigned = Similarity.assignCells(emb, cent, idCol, vecCol)
    assigned.join(broadcast(cent.select(col("cell"), col("cv"))), Seq("cell"))
      .select(col(idCol), col("cell"), residual(col(vecCol)).as("rv"))
  }

  /** `v` − the row's centroid `cv`, element-wise in double. */
  private[functions] def residual(v: Column): Column =
    zip_with(v, col("cv"), (x, y) => x.cast("double") - y.cast("double"))

  /** The IVF-PQ query side, inline or staged: each query's residual
    * against each of its `nprobe` probed centroids, cut into PQ slices —
    * (q_id, cell, m, sv) rows for [[Similarity.adcSearch]].
    */
  private[functions] def querySlices(queries: DataFrame, cent: DataFrame, idCol: String,
                                     vecCol: String, nprobe: Int, numSub: Int,
                                     subDim: Int): DataFrame =
    Similarity.pqSubVectors(
      Similarity.probeCells(Similarity.withNorm(queries, idCol, vecCol), cent, idCol, nprobe,
        residual(col("v")).as("rv")),
      "q_id", "rv", numSub, subDim, passthrough = Seq("cell"))

  /** IVF-PQ top-k search, inline-trained: IVF centroids and the residual
    * PQ codebook both train inside the query (the oracle-twin shape).
    * Probe rule matches [[Similarity.knnIvf]] (cosine argmax, `nprobe`
    * cells, cell-asc tie-break); scoring is ADC over floor(d2·10⁹)
    * integer table entries like [[Similarity.pqKnn]], except the
    * distance table is per (query, probed cell) — the query's residual
    * differs per cell — and the candidate join carries the cell key, so
    * only probed cells' members are ever scored.
    */
  def ivfPqKnn(emb: DataFrame, queryPred: Column, idCol: String, vecCol: String,
               k: Int, numCells: Int = 16, nprobe: Int = 2, numSub: Int = 8,
               numCodes: Int = 16, dim: Int = 64, iters: Int = 1): DataFrame = {
    val cent = Similarity.ivfCentroids(emb, idCol, vecCol, numCells, iters).persist()
    val resid = residuals(emb, cent, idCol, vecCol).persist()
    val (rsub, rcb) = Similarity.pqTrain(resid, idCol, "rv", numSub, numCodes, dim, iters)
    val cand = Similarity.pqAssign(rsub, rcb, idCol)
      .join(resid.select(col(idCol), col("cell")), Seq(idCol))
      .select(col(idCol).as("n_id"), col("cell"), col("m"), col("code"))
    Similarity.adcSearch(cand,
      querySlices(emb.filter(queryPred), cent, idCol, vecCol, nprobe, numSub, dim / numSub),
      rcb, Seq("cell", "m", "code"), k)
  }

  /** Oracle CTE prefix: the IVF chain ([[Similarity.ivfAssignSqlPrefix]]:
    * e, n, cn, assign), the residual table `r`, then the full PQ chain
    * over `r` with r-prefixed names (rsub … rcb, rcodes) via
    * [[Similarity.pqCtes]] — two Lloyd trainings in one statement.
    */
  private[functions] def sqlPrefix(numCells: Int, numSub: Int, numCodes: Int,
                                   dim: Int, iters: Int): String =
    s"""${Similarity.ivfAssignSqlPrefix(numCells, iters)},
       |r AS (
       |  SELECT a.vec_id, a.cell,
       |         list_transform(generate_series(1, $dim), i -> n.v[i] - c.cv[i]) AS v
       |  FROM assign a JOIN n USING (vec_id) JOIN cn c USING (cell)),
       |${Similarity.pqCtes("r", "r", numSub, numCodes, dim / numSub, iters)}""".stripMargin

  /** DuckDB twin of [[ivfPqKnn]]: both trainings unrolled, per-(query,
    * probed-cell) residual distance tables, candidate join keyed on
    * (cell, m, code), quantized-integer ADC sums, pinned tie-breaks.
    */
  def ivfPqKnnSqlFor(numCells: Int, nprobe: Int, numSub: Int, numCodes: Int,
                     dim: Int, k: Int, queryPredSql: String, iters: Int = 1): String = {
    val subDim = dim / numSub
    // residual codes keyed by their cell
    val candidates =
      """rcodes co
        |    JOIN assign a ON a.vec_id = co.vec_id
        |    JOIN dtab d ON d.cell = a.cell AND d.m = co.m AND d.code = co.code""".stripMargin
    s"""${sqlPrefix(numCells, numSub, numCodes, dim, iters)},
       |${Similarity.probeSql(queryPredSql, nprobe)}
       |qres AS (
       |  SELECT q.q_id, qc.cell,
       |         list_transform(generate_series(1, $dim), i -> q.v[i] - c.cv[i]) AS v
       |  FROM q JOIN qc USING (q_id) JOIN cn c ON c.cell = qc.cell),
       |qsub AS (
       |  SELECT q_id, cell, m, list_slice(v, m * $subDim + 1, m * $subDim + $subDim) AS sv
       |  FROM qres CROSS JOIN (SELECT unnest(generate_series(0, ${numSub - 1})) AS m) mm),
       |${Similarity.adcSql("s.cell, ", "rcb", candidates, k)}""".stripMargin
  }

  /** DuckDB twin of [[AnnIndex.ivfPqKnnRerankStaged]]: the full IVF-PQ
    * search as a derived-table shortlist, then the exact full-precision
    * re-rank over only shortlist rows (same tail as
    * [[Similarity.pqKnnRerankSqlFor]]).
    */
  def ivfPqKnnRerankSqlFor(numCells: Int, nprobe: Int, numSub: Int, numCodes: Int,
                           dim: Int, k: Int, shortlist: Int, queryPredSql: String,
                           iters: Int = 1): String =
    Similarity.rerankSql(
      ivfPqKnnSqlFor(numCells, nprobe, numSub, numCodes, dim, shortlist, queryPredSql, iters), k)

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "ivfpq_knn",
      (s, dir) => ivfPqKnn(Tables.embeddings(s, dir), col("vec_id") < 8,
        "vec_id", "embedding", 5),
      Some(ivfPqKnnSqlFor(16, 2, 8, 16, 64, 5, "vec_id < 8"))),
  )
}
