package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
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
  * is an equi-join on (cell, m, code). Everything here is the inline
  * oracle twin (training lineage in-plan, like knn_ivf / pq_knn);
  * [[AnnIndex.ivfPqKnnStaged]] is the train-once production shape.
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
      .select(col(idCol), col("cell"),
        zip_with(col(vecCol), col("cv"),
          (x, y) => x.cast("double") - y.cast("double")).as("rv"))
  }

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
    val subDim = dim / numSub
    val cent = Similarity.ivfCentroids(emb, idCol, vecCol, numCells, iters).persist()
    val resid = residuals(emb, cent, idCol, vecCol).persist()
    val (rsub, rcb) = Similarity.pqTrain(resid, idCol, "rv", numSub, numCodes, dim, iters)
    val cand = Similarity.pqAssign(rsub, rcb, idCol)
      .join(resid.select(col(idCol), col("cell")), Seq(idCol))
      .select(col(idCol).as("n_id"), col("cell"), col("m"), col("code"))
    // query side: probe cells, then residual-per-probed-cell
    val qn = Similarity.withNorm(emb.filter(queryPred), idCol, vecCol)
    val cn = cent.withColumn("cnrm", sqrt(Similarity.dot(col("cv"), col("cv"))))
    val qc = qn.crossJoin(broadcast(cn))
      .withColumn("sim", Similarity.dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("sim").desc, col("cell").asc)))
      .filter(col("rn") <= nprobe)
      .select(col(idCol).as("q_id"), col("cell"),
        zip_with(col("v"), col("cv"),
          (x, y) => x.cast("double") - y.cast("double")).as("rv"))
    val qsub = qc.select(col("q_id"), col("cell"),
      posexplode(array((0 until numSub).map(m => slice(col("rv"), m * subDim + 1, subDim)): _*))
        .as(Seq("m", "sv")))
    val d2 = Similarity.dot(col("sv"), col("sv")) -
      lit(2.0) * Similarity.dot(col("sv"), col("cv")) +
      Similarity.dot(col("cv"), col("cv"))
    val dtab = qsub.join(broadcast(rcb), Seq("m"))
      .select(col("q_id"), col("cell"), col("m"), col("code"),
        floor(d2 * lit(1e9)).cast("long").as("d2q"))
    val scored = cand.join(broadcast(dtab), Seq("cell", "m", "code"))
      .filter(col("n_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("n_id"))
      .agg((sum(col("d2q")).cast("double") / lit(1e9)).as("adist"))
    val w = Window.partitionBy(col("q_id")).orderBy(col("adist").asc, col("n_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("n_id"), round(col("adist"), 4).as("adist"), col("rank"))
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
    s"""${sqlPrefix(numCells, numSub, numCodes, dim, iters)},
       |q AS (SELECT vec_id AS q_id, v, nrm FROM n WHERE $queryPredSql),
       |qc AS (
       |  SELECT q_id, cell FROM (
       |    SELECT q.q_id, c.cell,
       |           row_number() OVER (PARTITION BY q.q_id
       |             ORDER BY list_inner_product(q.v, c.cv) / (q.nrm * c.cnrm) DESC,
       |                      c.cell ASC) AS rn
       |    FROM q CROSS JOIN cn c) WHERE rn <= $nprobe),
       |qres AS (
       |  SELECT q.q_id, qc.cell,
       |         list_transform(generate_series(1, $dim), i -> q.v[i] - c.cv[i]) AS v
       |  FROM q JOIN qc USING (q_id) JOIN cn c ON c.cell = qc.cell),
       |qsub AS (
       |  SELECT q_id, cell, m, list_slice(v, m * $subDim + 1, m * $subDim + $subDim) AS sv
       |  FROM qres CROSS JOIN (SELECT unnest(generate_series(0, ${numSub - 1})) AS m) mm),
       |dtab AS (
       |  SELECT s.q_id, s.cell, c.m, c.code,
       |         CAST(floor((list_inner_product(s.sv, s.sv)
       |                     - 2 * list_inner_product(s.sv, c.cv)
       |                     + list_inner_product(c.cv, c.cv)) * 1000000000.0) AS BIGINT) AS d2q
       |  FROM qsub s JOIN rcb c ON c.m = s.m),
       |scored AS (
       |  SELECT d.q_id, co.vec_id AS n_id,
       |         CAST(sum(d.d2q) AS DOUBLE) / 1000000000.0 AS adist
       |  FROM rcodes co
       |    JOIN assign a ON a.vec_id = co.vec_id
       |    JOIN dtab d ON d.cell = a.cell AND d.m = co.m AND d.code = co.code
       |  WHERE co.vec_id <> d.q_id
       |  GROUP BY 1, 2)
       |SELECT q_id, n_id, round(adist, 4) AS adist, CAST(rn AS INT) AS rank
       |FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adist ASC, n_id ASC) AS rn
       |      FROM scored)
       |WHERE rn <= $k""".stripMargin
  }

  /** DuckDB twin of [[AnnIndex.ivfPqKnnRerankStaged]]: the full IVF-PQ
    * search as a derived-table shortlist, then the exact full-precision
    * re-rank over only shortlist rows (same tail as
    * [[Similarity.pqKnnRerankSqlFor]]).
    */
  def ivfPqKnnRerankSqlFor(numCells: Int, nprobe: Int, numSub: Int, numCodes: Int,
                           dim: Int, k: Int, shortlist: Int, queryPredSql: String,
                           iters: Int = 1): String =
    s"""WITH shortlist AS (
       |  SELECT q_id, n_id FROM (${ivfPqKnnSqlFor(numCells, nprobe, numSub, numCodes, dim, shortlist, queryPredSql, iters)})),
       |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |exact AS (
       |  SELECT s.q_id, s.n_id,
       |         CAST(floor((list_inner_product(q.v, q.v)
       |                     - 2 * list_inner_product(q.v, x.v)
       |                     + list_inner_product(x.v, x.v)) * 1000000000.0) AS BIGINT) AS d2q
       |  FROM shortlist s
       |    JOIN ev q ON q.vec_id = s.q_id
       |    JOIN ev x ON x.vec_id = s.n_id)
       |SELECT q_id, n_id, round(CAST(d2q AS DOUBLE) / 1000000000.0, 4) AS dist,
       |       CAST(rn AS INT) AS rank
       |FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY d2q ASC, n_id ASC) AS rn
       |      FROM exact)
       |WHERE rn <= $k""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "ivfpq_knn",
      (s, dir) => ivfPqKnn(Tables.embeddings(s, dir), col("vec_id") < 8,
        "vec_id", "embedding", 5),
      Some(ivfPqKnnSqlFor(16, 2, 8, 16, 64, 5, "vec_id < 8"))),
  )
}
