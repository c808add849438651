package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.{QueryDef, Tables}

/** Similarity search over an embedding column (`Array[Float]`).
  *
  * Beyond the reference's operator set (SURVEY.md §7.3 P7). Two tiers:
  *  - [[knnBrute]]: exact top-k by cosine — the correctness baseline. The
  *    query side is broadcast, so the big side streams through a map-only
  *    stage followed by a per-query top-k (TakeOrdered-style aggregation,
  *    no global sort). Cost is |queries| × |corpus|: fine for small query
  *    batches at any corpus size, not for all-pairs.
  *  - [[knnLsh]]: sign-random-projection LSH — corpus and queries are
  *    bucketed by the sign bits of `numPlanes` pseudo-random hyperplanes
  *    (derived deterministically from a seeded string hash, so no RNG
  *    state and perfectly reproducible across runs/executors). Candidates
  *    come from an equi-join on bucket, scoring only touches candidates.
  *    This is the 100 TB path: shuffle is bounded by bucket sizes, and
  *    multi-probe (flipping one bit) trades recall for cost without code
  *    changes.
  *
  * Dot products are fold-left `aggregate` over `zip_with`, per-element cast
  * to double — codegen'd, deterministic, and bit-identical to the DuckDB
  * oracle's `list_inner_product` on double lists.
  */
object Similarity {

  /** Fold-left dot product in double over float vectors — the custom
    * codegen [[VectorDotProduct]] expression (the HOF
    * `aggregate(zip_with(...))` formulation computes the identical value
    * but is interpreted per row; ~20× slower on all-pairs workloads).
    */
  def dot(a: Column, b: Column): Column = VectorExpressions.vectorDot(a, b)

  def norm(v: Column): Column = sqrt(dot(v, v))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Re-shard `derived` to the session's shuffle width when `source`'s
    * SCAN plans narrower — the small-corpus parallelism cliff
    * ([[hardNegatives]], ARCHITECTURE.md round-10 wave 5), which also
    * bit the centroid-assignment passes at the sf100 staging point: a
    * 2 M × 64-float embedding table compacts into ~4 parquet splits, and
    * every per-vector × per-centroid scoring pipeline downstream of the
    * scan (broadcast joins preserve partitioning) inherited that width —
    * the full-corpus assignment ran near single-threaded on a 32-core
    * session. The width is read off `source` (the raw input) so derived
    * projection lineage is not physically planned per call (ADVICE r11);
    * a corpus big enough to have real splits keeps its layout and pays
    * no shuffle.
    */
  private[graft] def widenToSession(derived: DataFrame, source: DataFrame): DataFrame = {
    val parts = source.sparkSession.sessionState.conf.numShufflePartitions
    // Only a SCAN-ROOTED source can plan narrower than the session width
    // in the way this guard exists to fix (few parquet splits), and only
    // a scan-rooted plan can answer `.rdd.getNumPartitions` for free:
    // under AQE, `.rdd` on a join/agg-rooted frame eagerly EXECUTES its
    // shuffle stages just to learn a partition count — and again when
    // the frame is consumed (ADVICE r13: assignCellsHier's anti-join
    // totality fallback paid two extra passes during the sf100 build).
    // A shuffle-rooted frame is already at session/AQE width, so the
    // correct answer there is also the cheap one: leave it alone.
    // ROOT-walk, not exists-anywhere (ADVICE r14): a source that merely
    // CONTAINS a join somewhere under a scan-rooted projection is still
    // scan-partitioned at its root, and an exists() over the whole plan
    // would wrongly skip widening it. Walk from the root through the
    // partitioning-PRESERVING unary nodes (project/filter/limit-local);
    // the first partitioning-DETERMINING node decides. A broadcast-join
    // root preserves its probe side's (possibly narrow) layout, but that
    // cannot be told apart from a shuffle join in the logical plan
    // without paying exactly the AQE eager-execution this guard avoids —
    // accepted and documented: such callers widen explicitly.
    val shuffleRooted = {
      import org.apache.spark.sql.catalyst.plans.{logical => lg}
      @annotation.tailrec
      def walk(p: lg.LogicalPlan): Boolean = p match {
        case _: lg.Join | _: lg.Aggregate | _: lg.Window | _: lg.Sort |
             _: lg.Deduplicate | _: lg.RepartitionOperation | _: lg.GlobalLimit => true
        case u: lg.Project => walk(u.child)
        case u: lg.Filter => walk(u.child)
        case u: lg.LocalLimit => walk(u.child)
        case _ => false
      }
      walk(source.queryExecution.optimizedPlan)
    }
    if (!shuffleRooted && source.rdd.getNumPartitions < parts)
      derived.repartition(parts)
    else derived
  }

  /** Attach the vector and its L2 norm (computed once); `passthrough`
    * keeps extra columns (bucket/cell ids) so callers don't need a
    * re-attach self-join.
    */
  def withNorm(emb: DataFrame, idCol: String, vecCol: String,
               passthrough: Seq[String] = Nil): DataFrame = {
    emb.select(col(idCol) +: col(vecCol).as("v") +: passthrough.map(col): _*)
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
  }

  /** Exact top-k cosine neighbors for each query vector (self excluded).
    *
    * Scale shape: the scoring pass (corpus ⋈ broadcast queries) is
    * embarrassingly parallel, but a bare window over `q_id` would then
    * shuffle ALL |corpus|·|queries| scored rows into |queries| window
    * partitions — at sf100 that is 16 M rows sorting in 8 tasks, and on
    * a 1000-executor cluster parallelism would be capped at the query
    * count no matter the corpus (the round-14 `ann_recall_report` tail,
    * 43 s/6.8× per decade). So (long-id path) each SCAN partition first
    * reduces to its local top-k per query with a bounded in-task heap —
    * k·|queries| rows per partition, exact by the same
    * (cs desc, id asc) comparator — and only partitions·k·|queries|
    * rows reach the global window. Top-k of a union of per-partition
    * top-ks IS the global top-k, so results are bit-for-bit unchanged
    * (the comparator is total — no float ties can reorder).
    */
  def knnBrute(emb: DataFrame, queries: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val corpus = withNorm(emb, idCol, vecCol)
      .select(col(idCol).as("n_id"), col("v").as("vn"), col("nrm").as("nn"))
    val qs = withNorm(queries, idCol, vecCol)
      .select(col(idCol).as("q_id"), col("v").as("vq"), col("nrm").as("nq"))
    val scored = corpus.crossJoin(broadcast(qs))
      .filter(col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"),
        (dot(col("vq"), col("vn")) / (col("nq") * col("nn"))).as("cs"))
      // a zero-norm vector makes cs = 0/0 = NaN, and the two paths below
      // rank NaN OPPOSITELY (Spark's desc sorts NaN first; the heap's
      // negated-key Scala ordering prunes it as worst) — drop such rows
      // before EITHER path so pruned and unpruned results stay identical.
      // Cosine against the zero vector is undefined, so exclusion is the
      // semantics, not a shortcut.
      .filter(!isnan(col("cs")))
    val idIsLong = Seq(emb.schema(idCol), queries.schema(idCol))
      .forall(_.dataType == org.apache.spark.sql.types.LongType)
    val pruned = if (!idIsLong) scored else {
      val spark = scored.sparkSession
      import spark.implicits._
      scored.as[(Long, Long, Double)].mapPartitions { it =>
        // better-first total order: higher cs, then lower neighbor id
        val ord = Ordering.by[(Double, Long), (Double, Long)](t => (-t._1, t._2))
        val heaps = new java.util.HashMap[Long, scala.collection.mutable.TreeSet[(Double, Long)]]()
        it.foreach { case (q, n, cs) =>
          val h = heaps.computeIfAbsent(q, _ => scala.collection.mutable.TreeSet.empty(ord))
          if (h.size < k) h.add((cs, n))
          else if (ord.lt((cs, n), h.last)) { h.add((cs, n)); h.remove(h.last); () }
        }
        val out = Iterator.newBuilder[(Long, Long, Double)]
        heaps.forEach((q, h) => h.foreach { case (cs, n) => out += ((q, n, cs)) })
        out.result()
      }.toDF("q_id", "n_id", "cs")
    }
    topKPerQuery(pruned, k, col("cs").desc, col("n_id").asc)
      .select(col("q_id"), col("n_id"), round(col("cs"), 4).as("cos_sim"), col("rank"))
  }

  val knnBruteSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      |s AS (
      |  SELECT q.vec_id AS q_id, x.vec_id AS n_id,
      |         list_inner_product(q.v, x.v) / (q.nrm * x.nrm) AS cs
      |  FROM n q JOIN n x ON x.vec_id != q.vec_id
      |  WHERE q.vec_id < 8)
      |SELECT q_id, n_id, round(cs, 4) AS cos_sim, CAST(rn AS INT) AS rank
      |FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, n_id ASC) AS rn FROM s)
      |WHERE rn <= 5""".stripMargin

  /** Matryoshka-truncation recall report: how much exact-kNN quality
    * survives keeping only the first `d` embedding dimensions, for each
    * `d` in `dims`. For every truncation the report runs the SAME brute
    * top-k as [[knnBrute]] on prefix-sliced vectors and counts overlap
    * with the full-dimension top-k; one row per dim with recall@k =
    * hits / (|queries|·k). The storage-sizing QA a pipeline runs before
    * committing to a truncated (MRL-style) index: pick the smallest
    * prefix whose recall clears the product bar, then build the ANN
    * index at that width — a 4× narrower store scans 4× faster at equal
    * recall if the curve is flat.
    *
    * Scale shape: each truncation is the knnBrute plan (broadcast query
    * batch, corpus streamed, bounded per-query window) on a NARROWER
    * vector — strictly cheaper than the full search; the hit join is
    * |queries|·k rows against |queries|·k rows. Prefix slicing is
    * zero-shuffle map work; at 100 TB the truncated scan reads fewer
    * bytes in direct proportion to the dim cut.
    */
  def mrlRecallReport(emb: DataFrame, idCol: String, vecCol: String,
                      queryPred: Column, k: Int, dims: Seq[Int]): DataFrame = {
    require(dims.nonEmpty, "mrlRecallReport: no truncation dims")
    val queries = emb.filter(queryPred)
    // the full-dim truth set feeds every dim's hit join → persist
    val full = knnBrute(emb, queries, idCol, vecCol, k)
      .select(col("q_id"), col("n_id")).persist()
    val nq = queries.agg(count(lit(1)).as("n_q"))
    dims.map { d =>
      val trunc = emb.select(col(idCol), slice(col(vecCol), 1, d).as(vecCol))
      val topd = knnBrute(trunc, trunc.filter(queryPred), idCol, vecCol, k)
        .select(col("q_id"), col("n_id"))
      topd.join(full, Seq("q_id", "n_id")).agg(count(lit(1)).as("n_hit"))
        .crossJoin(broadcast(nq))
        .select(lit(d).as("trunc_dim"), col("n_hit"),
          when(col("n_q") === 0, lit(null).cast("double"))
            .otherwise(col("n_hit").cast("double") / (col("n_q") * lit(k)))
            .as("recall_at_k"))
    }.reduce(_ unionAll _)
  }

  /** DuckDB twin of [[mrlRecallReport]]: one sliced-vector brute-kNN CTE
    * chain per dim, recall against the full-width chain.
    */
  def mrlRecallSqlFor(dims: Seq[Int], k: Int, queryPredSql: String): String = {
    val perDim = dims.map { d =>
      s"""e$d AS (SELECT vec_id, v[1:$d] AS v FROM e),
         |n$d AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e$d),
         |s$d AS (
         |  SELECT q.vec_id AS q_id, x.vec_id AS n_id,
         |         list_inner_product(q.v, x.v) / (q.nrm * x.nrm) AS cs
         |  FROM n$d q JOIN n$d x ON x.vec_id != q.vec_id
         |  WHERE ${queryPredSql.replace("vec_id", "q.vec_id")}),
         |k$d AS (SELECT q_id, n_id FROM (
         |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, n_id ASC) AS rn
         |  FROM s$d) WHERE rn <= $k),
         |h$d AS (SELECT count(*) AS n_hit FROM k$d JOIN k_full USING (q_id, n_id))""".stripMargin
    }.mkString(",\n")
    val rows = dims.map { d =>
      s"""SELECT $d AS trunc_dim, n_hit,
         |       CASE WHEN n_q = 0 THEN NULL
         |            ELSE CAST(n_hit AS DOUBLE) / (n_q * $k) END AS recall_at_k
         |FROM h$d CROSS JOIN nq""".stripMargin
    }.mkString("\nUNION ALL\n")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |nq AS (SELECT count(*) AS n_q FROM e WHERE $queryPredSql),
       |n_full AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
       |s_full AS (
       |  SELECT q.vec_id AS q_id, x.vec_id AS n_id,
       |         list_inner_product(q.v, x.v) / (q.nrm * x.nrm) AS cs
       |  FROM n_full q JOIN n_full x ON x.vec_id != q.vec_id
       |  WHERE ${queryPredSql.replace("vec_id", "q.vec_id")}),
       |k_full AS (SELECT q_id, n_id FROM (
       |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, n_id ASC) AS rn
       |  FROM s_full) WHERE rn <= $k),
       |$perDim
       |$rows""".stripMargin
  }

  /** Hard-negative mining for contrastive training: for each query vector,
    * the `k` most-similar corpus vectors whose LABEL DIFFERS — maximally
    * confusable non-matches, the negatives that actually move a
    * contrastive loss (random negatives are trivially separable; the hard
    * ones sit near the decision boundary by construction). Identical plan
    * family to [[knnBrute]] with the label-mismatch predicate fused into
    * the scoring join, so Catalyst filters pairs BEFORE the window ranks
    * them.
    *
    * Scale shape: same as knn — the query batch broadcasts (mining runs
    * per training batch, a few thousand anchors), the corpus streams;
    * per-query top-k is a bounded window. At full-corpus scale the IVF
    * scorer takes the same label-mismatch filter
    * ([[ivfSearchAssigned]]'s `pairFilter`, served by
    * [[AnnIndex.hardNegativesStaged]]).
    */
  def hardNegatives(emb: DataFrame, queries: DataFrame, idCol: String,
                    vecCol: String, labelCol: String, k: Int): DataFrame = {
    // the small-corpus parallelism cliff (ARCHITECTURE.md, round-10 wave
    // 5): a corpus compacted into a couple of parquet splits plans 1-2
    // scan partitions and the scoring BNLJ inherits that width — at a
    // 2000-query batch the whole |corpus|×|batch| scoring ran near
    // single-threaded (BASELINE.md, round-11 hard_negatives_staged
    // crossover row). Re-shard ONLY when the scan is narrower than the
    // session width: a corpus big enough to have real splits keeps its
    // layout and pays no shuffle.
    val parts = emb.sparkSession.sessionState.conf.numShufflePartitions
    // read the scan width off the INPUT, before withNorm: converting the
    // derived frame to an RDD would force full physical planning of the
    // projection lineage on every call just to read a partition count
    // (ADVICE r11); the scan width is a property of the source layout and
    // withNorm is a narrow projection, so the two counts are identical
    val scanParts = emb.rdd.getNumPartitions
    val corpus0 = withNorm(emb, idCol, vecCol, passthrough = Seq(labelCol))
    val corpus = (if (scanParts < parts)
        corpus0.repartition(parts) else corpus0)
      .select(col(idCol).as("n_id"), col("v").as("vn"), col("nrm").as("nn"),
        col(labelCol).as("n_label"))
    val qs = withNorm(queries, idCol, vecCol, passthrough = Seq(labelCol))
      .select(col(idCol).as("q_id"), col("v").as("vq"), col("nrm").as("nq"),
        col(labelCol).as("q_label"))
    val scored = corpus.crossJoin(broadcast(qs))
      .filter(col("n_label") =!= col("q_label"))
      .select(col("q_id"), col("n_id"), col("n_label"),
        (dot(col("vq"), col("vn")) / (col("nq") * col("nn"))).as("cs"))
    topKPerQuery(scored, k, col("cs").desc, col("n_id").asc)
      .select(col("q_id"), col("n_id"), col("n_label").cast("int").as("n_label"),
        round(col("cs"), 4).as("cos_sim"), col("rank"))
  }

  val hardNegativesSql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, label FROM embeddings),
      |n AS (SELECT vec_id, v, label, sqrt(list_inner_product(v, v)) AS nrm FROM e),
      |s AS (
      |  SELECT q.vec_id AS q_id, x.vec_id AS n_id, x.label AS n_label,
      |         list_inner_product(q.v, x.v) / (q.nrm * x.nrm) AS cs
      |  FROM n q JOIN n x ON x.label != q.label
      |  WHERE q.vec_id < 8)
      |SELECT q_id, n_id, CAST(n_label AS INT) AS n_label, round(cs, 4) AS cos_sim, CAST(rn AS INT) AS rank
      |FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, n_id ASC) AS rn FROM s)
      |WHERE rn <= 5""".stripMargin

  /** Deterministic ±1 hyperplanes derived from md5("p_d"), materialized
    * driver-side as literal float arrays (numPlanes × dim — bytes, not
    * data); projections then run through the codegen [[VectorDotProduct]].
    * Engine-portable: DuckDB computes the identical digest, so an oracle
    * can reproduce the exact same planes (sign = parity of the first hex
    * char's ASCII code, i.e. of the digest's high nibble). The sole plane
    * generator — every sign-LSH path ([[lshBuckets]],
    * [[Dedup.embeddingLshPairs]]) derives from it, so bucket assignments
    * are cross-engine reproducible by construction. (A cheaper
    * MurmurHash3 variant existed through round 6 but had no call sites
    * once lshBuckets switched to md5 for oracle parity — removed rather
    * than left as an untested second code path.)
    */
  def md5Hyperplanes(numPlanes: Int, dim: Int): Seq[Array[Float]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until numPlanes).map { p =>
      Array.tabulate(dim) { d =>
        md.reset()
        val h = md.digest(s"${p}_$d".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        val firstHexChar = "0123456789abcdef".charAt((h(0) >> 4) & 0xf)
        if (firstHexChar.toInt % 2 == 0) 1f else -1f
      }
    }
  }

  /** Sign-LSH bucket id from `numPlanes` hyperplanes (bit p = sign of
    * projection onto plane p).
    */
  def lshBuckets(emb: DataFrame, idCol: String, vecCol: String,
                 numPlanes: Int, dim: Int = 64): DataFrame = {
    // md5-derived planes: identical runtime cost (driver-side literals
    // either way) and the bucket assignment becomes engine-portable, so
    // knn_lsh carries a full DuckDB oracle
    val planes = md5Hyperplanes(numPlanes, dim)
    val bucketExpr = (0 until numPlanes).map { p =>
      when(VectorExpressions.vectorDot(col(vecCol), typedLit(planes(p).toSeq)) > 0, lit(1L << p))
        .otherwise(lit(0L))
    }.reduce(_ + _)
    // fail fast on a dim mismatch: VectorDotProduct truncates to the
    // shorter side, which would silently bucket on a prefix of the vector
    val guarded = when(size(col(vecCol)) =!= dim,
      raise_error(concat(lit(s"lshBuckets: expected $dim-dim vectors, got "), size(col(vecCol)))))
      .otherwise(bucketExpr)
    emb.withColumn("bucket", guarded)
  }

  /** ANN top-k via LSH bucket candidates. Multi-probe (default) also
    * scores the `numPlanes` buckets at Hamming distance 1 from the query's
    * bucket — the standard recall/cost dial: each flipped sign bit is the
    * hyperplane the query is most likely to sit on the wrong side of.
    * Candidates stay an equi-join on bucket; each corpus vector lives in
    * exactly one bucket so probes never duplicate a candidate.
    */
  def knnLsh(emb: DataFrame, queryPred: Column, idCol: String, vecCol: String,
             k: Int, numPlanes: Int = 8, multiProbe: Boolean = true,
             dim: Int = 64): DataFrame = {
    // the bucket index feeds corpus and query branches → persist
    val bucketed = lshBuckets(emb, idCol, vecCol, numPlanes, dim).persist()
    val corpus = withNorm(bucketed, idCol, vecCol, passthrough = Seq("bucket"))
      .select(col(idCol).as("n_id"), col("v").as("vn"), col("nrm").as("nn"), col("bucket"))
    val qs = bucketed.filter(queryPred)
    val probeCols =
      if (multiProbe) col("bucket") +: (0 until numPlanes).map(p => col("bucket").bitwiseXOR(lit(1L << p)))
      else Seq(col("bucket"))
    val qn = withNorm(qs, idCol, vecCol, passthrough = Seq("bucket"))
      .select(col(idCol).as("q_id"), col("v").as("vq"), col("nrm").as("nq"),
        explode(array(probeCols: _*)).as("probe"))
    val scored = corpus.join(broadcast(qn), col("bucket") === col("probe") && col("n_id") =!= col("q_id"))
      .select(col("q_id"), col("n_id"),
        (dot(col("vq"), col("vn")) / (col("nq") * col("nn"))).as("cs"))
    topKPerQuery(scored, k, col("cs").desc, col("n_id").asc)
      .select(col("q_id"), col("n_id"), round(col("cs"), 4).as("cos_sim"), col("rank"))
  }

  /** IVF (inverted-file) ANN: partition the corpus into `numCells` Voronoi
    * cells around centroids, search only the `nprobe` cells nearest each
    * query. Centroids are seeded deterministically (first `numCells`
    * vectors by id) and refined with `iters` Lloyd iterations computed as
    * DataFrame aggregations — the only driver-side materialization is the
    * centroid table itself (numCells × dim, small BY CONSTRUCTION, exactly
    * what real IVF indexes broadcast). Compared to sign-LSH, IVF adapts to
    * the data distribution, which is what you want on clustered real
    * embeddings.
    *
    * Each Lloyd iteration is assign-then-mean. The element-wise mean is
    * computed over floor(v·10⁶) integer quanta (the embeddingCentroids
    * portability idiom): a raw double avg() merges shuffled partial sums
    * in nondeterministic order, so its last ulp — and thus any near-tie
    * cell assignment downstream — would differ between engines and runs.
    * Exact integer sums are merge-order independent, and every
    * iteration's centroids round-trip through FLOAT, so the whole IVF
    * index (and therefore knn_ivf's output) stays reproducible and
    * DuckDB-oracle-checkable at ANY iteration count (the oracle unrolls
    * the same loop — [[knnIvfSqlFor]]). A cell that loses all members
    * drops out of the next iteration in both engines.
    */
  def ivfCentroids(emb: DataFrame, idCol: String, vecCol: String, numCells: Int,
                   iters: Int = 1): DataFrame = {
    require(iters >= 1, "ivfCentroids: need at least one Lloyd iteration")
    // seeds: first numCells vectors by id; cell id = seed vec id
    var cent = emb.orderBy(col(idCol)).limit(numCells)
      .select(col(idCol).as("cell"), col(vecCol).as("cv"))
    for (_ <- 1 to iters) {
      val assigned = assignCells(emb, cent, idCol, vecCol)
      cent = assigned
        .select(col("cell"), posexplode(col(vecCol)))
        .groupBy(col("cell"), col("pos"))
        .agg((sum(floor(col("col").cast("double") * lit(1000000.0))).cast("double")
          / (lit(1000000.0) * count(lit(1)))).as("m"))
        .groupBy(col("cell"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
          x => x.getField("m").cast("float")).as("cv"))
    }
    cent
  }

  /** Nearest-centroid assignment: greatest cosine against the broadcast
    * centroid table (deterministic tie-break on LOWEST cell id). Norms
    * are attached once per vector and once per centroid — not recomputed
    * per (vector × centroid) pair.
    *
    * The argmax is a hash aggregate — `max(struct(sim, -cell))` picks
    * the greatest sim with lowest-cell tie-break, the same winner the
    * old `row_number` window chose — because the window form SORTS the
    * n × cells scored rows inside each partition: at √n-cell geometry
    * that is an n^1.5-row sort per Lloyd iteration, while the hash agg
    * combines map-side to one row per vector before any exchange
    * (measured 8.2 s → expected ~knn_ivf-level at sf1 auto geometry).
    */
  private[graft] def assignCells(emb: DataFrame, centroids: DataFrame,
                                     idCol: String, vecCol: String): DataFrame = {
    val e = widenToSession(withNorm(emb, idCol, vecCol), emb)
    val c = centroids.withColumn("cnrm", sqrt(dot(col("cv"), col("cv"))))
    val scored = e.crossJoin(broadcast(c))
      .withColumn("sim", dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")))
    scored.groupBy(col(idCol))
      .agg(max(struct(col("sim"), (-col("cell")).as("neg_cell"))).as("best"),
        first(col("v")).as("v_keep"))
      .select(col(idCol), col("v_keep").as(vecCol), (-col("best.neg_cell")).as("cell"))
  }

  /** Hierarchical two-level nearest-centroid assignment — the
    * fourth-decade lever for [[graft.functions.AnnIndex.stageAuto]]'s
    * one remaining n·√n pass: the flat [[assignCells]] argmax scores
    * every vector against every centroid (n × cells sims — fine through
    * sf1, super-linear at corpus-sized geometry, measured the dominant
    * term of the sf10 auto-IVF build). Here the CENTROID table itself is
    * clustered once into `branches` ≈ √cells super-centroids (cells rows
    * — trivially small), each vector scores only the branch table plus
    * the centroids inside its `branchProbe` nearest branches:
    * n · (√cells + p·√cells) sims ≈ n·cells^0.5 instead of n·cells —
    * at cells = √n that is n^1.25 instead of n^1.5.
    *
    * Exactness contract: the probe is top-p branches by cosine
    * (sim desc, branch asc — computed entirely in EXPRESSIONS over a
    * 1-row broadcast branch array, the [[graft.streaming.StreamingOps
    * .knnIvfStream]] trick: no shuffle before the final 1-row-per-vector
    * argmax agg), so a vector whose true nearest centroid lives outside
    * its probed branches lands on the best PROBED centroid — standard
    * coarse-quantizer behavior, harmless for IVF cell assignment where
    * query-time nprobe smooths boundary effects. When branchProbe >=
    * branches the probe is exhaustive and the result is provably equal
    * to [[assignCells]] (spec-pinned at the gate geometry, where the
    * production rule IS exhaustive). Totality is unconditional: vectors
    * whose probed branches somehow hold zero centroids (possible only in
    * degenerate tie configurations) fall back to the exact argmax — an
    * anti-join that is empty at runtime in every observed run.
    *
    * Tie-breaks mirror [[assignCells]] exactly: branch probe sorts
    * struct(-sim, branch); final cell argmax is max(struct(sim,
    * -cell)) = greatest sim, lowest cell.
    */
  private[graft] def assignCellsHier(emb: DataFrame, centroids: DataFrame,
                                     idCol: String, vecCol: String,
                                     branches: Int,
                                     branchProbe: Int): DataFrame =
    assignCellsHierWithHandle(emb, centroids, idCol, vecCol, branches, branchProbe)._1

  /** [[assignCellsHier]] plus the internal persisted frame as a RELEASE
    * HANDLE: the returned result is a union that references the persist
    * from two subtrees, so `.unpersist()` on the result cannot reach it.
    * Lazy-serve callers keep the query-lifetime persist and rely on the
    * [[graft.engine.Scoped]] runner contract; a caller that fully
    * consumes the frame in ONE action (AnnIndex.stageAuto's postings
    * write) unpersists the handle right after — no n-row assignment
    * cache left for sessions that never call releaseAll (ADVICE r13).
    */
  private[graft] def assignCellsHierWithHandle(
      emb: DataFrame, centroids: DataFrame,
      idCol: String, vecCol: String,
      branches: Int,
      branchProbe: Int): (DataFrame, DataFrame) = {
    require(branches >= 1 && branchProbe >= 1,
      "assignCellsHier: branches and branchProbe must be >= 1")
    // level 1: cluster the centroids (tiny frame, 2 Lloyd iterations)
    val cseed = centroids.select(col("cell").as("c_id"), col("cv").as("c_vec"))
    val bcent = ivfCentroids(cseed, "c_id", "c_vec", branches, iters = 2)
      .select(col("cell").as("branch"), col("cv").as("bv"))
    // branch membership of each centroid: exact argmax over branches
    val cb = assignCells(cseed,
        bcent.select(col("branch").as("cell"), col("bv").as("cv")), "c_id", "c_vec")
      .select(col("c_id").as("cell"), col("cell").as("branch"))
    val cfull = centroids.join(broadcast(cb), Seq("cell"))
      .withColumn("cnrm", sqrt(dot(col("cv"), col("cv"))))
    // level 2: per-vector top-p branch probe, expression-only
    val bArr = bcent.withColumn("bnrm", sqrt(dot(col("bv"), col("bv"))))
      .agg(collect_list(struct(col("branch"), col("bv"), col("bnrm"))).as("bs"))
    val e = widenToSession(withNorm(emb, idCol, vecCol), emb)
    val probed = e.crossJoin(broadcast(bArr))
      .select(col(idCol), col("v"), col("nrm"),
        explode(slice(nearestFirst(col("bs"), col("v"), col("nrm"), "branch", "bv", "bnrm"),
          1, branchProbe)).as("pr"))
      .select(col(idCol), col("v"), col("nrm"), col("pr.branch").as("branch"))
    val assigned = probed.join(broadcast(cfull), Seq("branch"))
      .withColumn("sim", dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")))
      .groupBy(col(idCol))
      .agg(max(struct(col("sim"), (-col("cell")).as("neg_cell"))).as("best"),
        first(col("v")).as("v_keep"))
      .select(col(idCol), col("v_keep").as(vecCol), (-col("best.neg_cell")).as("cell"))
      // the plan references `assigned` twice (the union below + the
      // anti-join's build side): without a persist the full n-vector
      // probe pipeline can plan and EXECUTE twice unless exchange reuse
      // happens to kick in — half the n·√cells win gone (ADVICE r12).
      // Query-lifetime persist per the [[graft.engine.Scoped]] contract:
      // the runner (Verify/Bench/specs; stageAuto's build is consumed by
      // one write action) releases it at the query boundary.
      .persist()
    // totality fallback: exact argmax for any vector the probe dropped
    val missing = emb.join(assigned.select(col(idCol)), Seq(idCol), "left_anti")
    (assigned.unionByName(assignCells(missing, centroids, idCol, vecCol)), assigned)
  }

  /** Branch count for [[assignCellsHier]]: √cells — balances the two
    * probe terms (branch scan + within-branch scan) at ~√cells each.
    */
  def hierBranchesFor(cells: Int): Int = {
    require(cells >= 1, "hierBranchesFor: cells must be >= 1")
    math.ceil(math.sqrt(cells.toDouble)).toInt
  }

  /** √n cell sizing for IVF — the standard production rule: cells ≈ √n
    * keeps the per-probe candidate list ≈ √n rows (so probe work per
    * query is ~√n, and within-cell pair generation is ~n^1.5 instead of
    * n²). Clamped below by the 16-cell oracle-gate geometry and above by
    * a broadcastability ceiling on the centroid table (4096 × 64 floats
    * ≈ 1 MB). The corpus-sizing twin of [[Dedup.lshBitsFor]].
    */
  def ivfCellsFor(n: Long, minCells: Int = 16, maxCells: Int = 4096): Int = {
    require(n > 0, "ivfCellsFor: corpus must be non-empty")
    math.max(minCells, math.min(maxCells, math.ceil(math.sqrt(n.toDouble)).toInt))
  }

  /** nprobe sized WITH the cell count: probing cells/`denom` (floor 2)
    * holds the scanned corpus FRACTION ~constant (≈ 1/denom) as cells
    * grow with √n, so recall does not silently decay under scale-up the
    * way a fixed nprobe over growing cells would.
    */
  def ivfNprobeFor(cells: Int, denom: Int = 8): Int =
    math.max(2, cells / denom)

  /** Training-sample modulus for corpus-sized IVF: Lloyd at cells ≈ √n
    * over the FULL corpus costs n·√n sims per iteration — measured
    * SUPER-LINEAR at the sf10 staging point (stageAuto 13.3 s at sf1 →
    * 417 s at sf10 on 10× data ≈ the predicted 31×). The standard fix
    * (every production IVF trainer): train k-means on ~`perCell`
    * points per centroid — a deterministic 1/mod hash slice, the
    * [[Dedup.embQaSampleModFor]] pattern — so training work is
    * ~perCell·cells² = perCell·n per iteration, LINEAR in the corpus;
    * only the single final assignment pass touches every vector. The
    * rule yields 1 (no filter, plan and oracle unchanged) at every
    * oracle-gate scale and at sf1 (20 k × 141 cells); it first
    * activates at sf10 (200 k × 447 cells → mod 3).
    */
  def ivfTrainSampleModFor(n: Long, cells: Int, perCell: Int = 128): Long = {
    require(n > 0 && cells > 0 && perCell > 0, "ivfTrainSampleModFor: positive inputs")
    math.max(1L, n / (cells.toLong * perCell))
  }

  /** The deterministic training slice for `mod` ([[ivfTrainSampleModFor]]):
    * xxhash64-mod, never rand() — stable across runs/retries, no seed
    * plumbing. mod = 1 returns the frame itself (the filter does not
    * exist in the plan, so gate-scale plans and oracles are unchanged).
    * The sampled regime (mod > 1) is Spark-spec-covered rather than
    * oracle-covered — xxhash64 is engine-internal, the same contract as
    * the QA sampling knobs.
    */
  def ivfTrainSlice(emb: DataFrame, idCol: String, mod: Long): DataFrame = {
    require(mod >= 1, "ivfTrainSlice: mod must be >= 1")
    if (mod == 1) emb else emb.filter(pmod(xxhash64(col(idCol)), lit(mod)) === 0)
  }

  /** [[knnIvf]] with corpus-sized geometry: one count() (plan-time
    * statistics, row-group metadata only) picks cells ≈ √n via
    * [[ivfCellsFor]] and nprobe via [[ivfNprobeFor]]. The driver's
    * oracle fixtures ship 500 embeddings at BOTH gate scales, so the
    * adaptive rule lands on the same (23 cells, nprobe 2) at both —
    * pinned in the oracle exactly like `dedup_embedding_lsh_auto`'s
    * band geometry.
    */
  def knnIvfAuto(emb: DataFrame, queryPred: Column, idCol: String, vecCol: String,
                 k: Int, iters: Int = 1): DataFrame = {
    val n = emb.count()
    val cells = ivfCellsFor(n)
    // train on the count-derived sample slice (mod = 1 ⇒ full corpus at
    // every gate scale and sf1; linear-cost Lloyd at larger corpora)
    val centroids = ivfCentroids(
      ivfTrainSlice(emb, idCol, ivfTrainSampleModFor(n, cells)),
      idCol, vecCol, cells, iters).persist()
    // assignment follows stageAuto's decade rule (r19, third
    // application): the flat n×cells argmax at corpus-sized geometry
    // (2 M × 1414 at sf100) was both the dominant cost AND a latent
    // 8 g-heap OOM — reproduced in isolation at sf100 on the r18 commit
    // too, i.e. a pre-existing landmine that could kill a full-registry
    // session mid-run. Gate geometry (23 cells) keeps the flat exact
    // path, so the oracle is untouched.
    val corpus =
      (if (cells >= AnnIndex.HierAssignMinCells)
        assignCellsHier(emb, centroids, idCol, vecCol,
          hierBranchesFor(cells), AnnIndex.HierBranchProbe)
      else assignCells(emb, centroids, idCol, vecCol)).persist()
    ivfSearchAssigned(withNorm(corpus, idCol, vecCol, passthrough = Seq("cell")),
      emb.filter(queryPred), centroids, idCol, vecCol, k, ivfNprobeFor(cells))
  }

  /** IVF top-k search: score queries only against their `nprobe` nearest
    * cells' members.
    */
  def knnIvf(emb: DataFrame, queryPred: Column, idCol: String, vecCol: String,
             k: Int, numCells: Int = 16, nprobe: Int = 2, iters: Int = 1): DataFrame = {
    // The centroid table (numCells × dim) and the assignment table are THE
    // IVF index; without persisting them every consumer re-runs the
    // seed→assign→Lloyd lineage (audited: 13 exchanges / 10 scans →
    // 4 exchanges / 3 scans). Production stages both to storage —
    // [[AnnIndex.stageOnce]] / qkey knn_ivf_staged is exactly that.
    val centroids = ivfCentroids(emb, idCol, vecCol, numCells, iters).persist()
    ivfSearch(emb, centroids, queryPred, idCol, vecCol, k, nprobe)
  }

  /** Incremental (daily-ingest) IVF: centroids train ONLY on the staged
    * corpus (`trainPred`); the new batch folds into the index purely by
    * nearest-centroid ASSIGNMENT — a per-row map against the broadcast
    * centroid table, zero retraining, zero reshuffle of the existing
    * corpus. The exact mirror of [[Dedup.dedupIncremental]]'s "new batch
    * joins the staged band index" contract, for the ANN index: at 100 TB
    * an embedding index absorbs a daily batch by assignment and only
    * periodically retrains. Queries (typically from the new batch) search
    * the merged corpus; recall for new-batch queries is spec-measured in
    * DedupSimilaritySpec against knn_brute.
    */
  def knnIvfIncremental(emb: DataFrame, trainPred: Column, queryPred: Column,
                        idCol: String, vecCol: String, k: Int,
                        numCells: Int = 16, nprobe: Int = 2, iters: Int = 1): DataFrame = {
    val centroids =
      ivfCentroids(emb.filter(trainPred), idCol, vecCol, numCells, iters).persist()
    ivfSearch(emb, centroids, queryPred, idCol, vecCol, k, nprobe)
  }

  /** Index drift monitor — the health check a production ANN deployment
    * runs per ingest batch: with centroids trained ONLY on the staged
    * corpus (`trainPred`, the [[knnIvfIncremental]] contract), compare
    * how well the NEW batch (`newPred`) fits the existing cells. Per
    * cell: member counts from each slice and the mean cosine-to-centroid
    * of each slice (quantized floor(sim·10⁹) integer means — engine-
    * portable); `drift` = new-batch mean − corpus mean. A strongly
    * negative drift in many cells means the ingest distribution has
    * moved and the index wants retraining — the signal that closes the
    * build → serve → ingest → monitor lifecycle loop.
    *
    * Scale shape: one broadcast of the centroid table, one map-side
    * aggregation to numCells rows; the batch-vs-corpus split is a
    * per-row flag, not a second pass.
    */
  def ivfDriftReport(emb: DataFrame, trainPred: Column, newPred: Column,
                     idCol: String, vecCol: String,
                     numCells: Int = 16, iters: Int = 1): DataFrame = {
    val cent = ivfCentroids(emb.filter(trainPred), idCol, vecCol, numCells, iters)
    val assigned = assignCells(emb, cent, idCol, vecCol)
    driftAggregate(assigned, cent, newPred, idCol, vecCol)
  }

  /** The aggregation half of the drift report, over an already-assigned
    * (id, vector, cell) frame and a centroid table from ANY provenance —
    * inline training ([[ivfDriftReport]]) or the staged store
    * ([[AnnIndex.ivfDriftReportStaged]], where the assignment is the
    * stored postings and the plan carries no Lloyd lineage).
    */
  private[functions] def driftAggregate(assigned: DataFrame, cent: DataFrame,
                                        newPred: Column, idCol: String,
                                        vecCol: String): DataFrame = {
    val n = withNorm(assigned, idCol, vecCol, passthrough = Seq("cell"))
    val cw = cent.withColumn("cnrm", sqrt(dot(col("cv"), col("cv"))))
    val sims = n.join(broadcast(cw), Seq("cell"))
      .select(col(idCol), col("cell"),
        floor(dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")) * lit(1e9))
          .cast("long").as("simq"),
        when(newPred, 1L).otherwise(0L).as("is_new"))
    sims.groupBy(col("cell").cast("int").as("cell"))
      .agg(
        sum(lit(1L) - col("is_new")).as("n_corpus"),
        sum(col("is_new")).as("n_new"),
        round(sum(when(col("is_new") === 0, col("simq")).otherwise(lit(0L))).cast("double")
          / (lit(1e9) * nullif(sum(lit(1L) - col("is_new")), lit(0L))), 6).as("mean_sim_corpus"),
        round(sum(when(col("is_new") === 1, col("simq")).otherwise(lit(0L))).cast("double")
          / (lit(1e9) * nullif(sum(col("is_new")), lit(0L))), 6).as("mean_sim_new"))
      .withColumn("drift", round(col("mean_sim_new") - col("mean_sim_corpus"), 6))
  }

  /** DuckDB twin of [[ivfDriftReport]]: staged-slice training via the
    * trainPred'd assign prefix, then the per-cell conditional
    * quantized-integer means and their difference.
    */
  def ivfDriftReportSqlFor(numCells: Int, iters: Int,
                           trainPredSql: String, newPredSql: String): String =
    s"""${ivfAssignSqlPrefix(numCells, iters, Some(trainPredSql))},
       |sims AS (
       |  SELECT a.vec_id, a.cell,
       |         CAST(floor(list_inner_product(n.v, c.cv) / (n.nrm * c.cnrm) * 1000000000.0) AS BIGINT) AS simq,
       |         CASE WHEN $newPredSql THEN 1 ELSE 0 END AS is_new
       |  FROM assign a JOIN n USING (vec_id) JOIN cn c USING (cell))
       |SELECT cell, n_corpus, n_new, mean_sim_corpus, mean_sim_new,
       |       round(mean_sim_new - mean_sim_corpus, 6) AS drift
       |FROM (
       |  SELECT CAST(cell AS INT) AS cell,
       |         CAST(sum(1 - is_new) AS BIGINT) AS n_corpus,
       |         CAST(sum(is_new) AS BIGINT) AS n_new,
       |         round(CAST(CAST(sum(CASE WHEN is_new = 0 THEN simq ELSE 0 END) AS BIGINT) AS DOUBLE)
       |               / (1000000000.0 * nullif(CAST(sum(1 - is_new) AS BIGINT), 0)), 6) AS mean_sim_corpus,
       |         round(CAST(CAST(sum(CASE WHEN is_new = 1 THEN simq ELSE 0 END) AS BIGINT) AS DOUBLE)
       |               / (1000000000.0 * nullif(CAST(sum(is_new) AS BIGINT), 0)), 6) AS mean_sim_new
       |  FROM sims GROUP BY 1)""".stripMargin

  /** The IVF serving path shared by full ([[knnIvf]]) and incremental
    * ([[knnIvfIncremental]]) training: assign the corpus to the given
    * centroids, probe the `nprobe` nearest cells per query, score only
    * those cells' members.
    */
  private[graft] def ivfSearch(emb: DataFrame, centroids: DataFrame, queryPred: Column,
                        idCol: String, vecCol: String, k: Int, nprobe: Int): DataFrame = {
    val corpus = assignCells(emb, centroids, idCol, vecCol).persist()
    ivfSearchAssigned(withNorm(corpus, idCol, vecCol, passthrough = Seq("cell")),
      emb.filter(queryPred), centroids, idCol, vecCol, k, nprobe)
  }

  // ---- the ANN search kernel (ARCHITECTURE.md design rule 13) ----
  // Every IVF, PQ and IVF-PQ serve, inline-trained or staged, runs these
  // steps; a serve only supplies its centroids, codebook, codes or
  // postings and its queries.

  /** Top-`k` rows per `q_id` in `order`, numbered by a 1-based `rank`. */
  private[graft] def topKPerQuery(scored: DataFrame, k: Int, order: Column*): DataFrame =
    scored.withColumn("rank", row_number().over(Window.partitionBy(col("q_id")).orderBy(order: _*)))
      .filter(col("rank") <= k)

  /** Squared L2 distance |a|² − 2·a·b + |b|² in double. */
  private[graft] def sqL2(a: Column, b: Column): Column =
    dot(a, a) - lit(2.0) * dot(a, b) + dot(b, b)

  /** The IVF cell probe: the `nprobe` centroids nearest each query by
    * cosine (sim desc, cell asc), as (q_id, cell) rows followed by `keep`,
    * columns over the probed (query, centroid) row such as IVF-PQ's query
    * residual. `qnorm` is a [[withNorm]] frame keyed by `idCol`; the
    * centroid table (cell, cv) is broadcast.
    */
  private[graft] def probeCells(qnorm: DataFrame, centroids: DataFrame, idCol: String,
                                nprobe: Int, keep: Column*): DataFrame =
    qnorm.crossJoin(broadcast(centroids.withColumn("cnrm", sqrt(dot(col("cv"), col("cv"))))))
      .withColumn("sim", dot(col("v"), col("cv")) / (col("nrm") * col("cnrm")))
      .withColumn("rn", row_number().over(
        Window.partitionBy(col(idCol)).orderBy(col("sim").desc, col("cell").asc)))
      .filter(col("rn") <= nprobe)
      .select(Seq(col(idCol).as("q_id"), col("cell")) ++ keep: _*)

  /** [[probeCells]] as one expression, for plans where a rank window
    * cannot run (streams) or would sort every vector × cell pair: the
    * structs of `arr` (an `id`, a vector `vec` and its norm `norm`) as
    * struct(negsim, id), nearest to `v` first. Sorting on (−sim, id) is
    * the window's (sim desc, cell asc).
    */
  private[graft] def nearestFirst(arr: Column, v: Column, nrm: Column,
                                  id: String, vec: String, norm: String): Column =
    array_sort(transform(arr, c =>
      struct((-dot(v, c.getField(vec)) / (nrm * c.getField(norm))).as("negsim"),
        c.getField(id).as(id))))

  /** The one cosine scorer over probed cells: probe each query's `nprobe`
    * nearest `centroids`, score the members of those cells, rank top-`k`.
    *
    * `members` is the assigned corpus with norms, as [[withNorm]] gives it
    * with `cell` passed through: inline [[assignCells]] or
    * [[assignCellsHier]] output, or staged postings. Its other columns
    * are per-neighbour attributes, carried as `n_<name>` into the output;
    * the query frame's other columns are carried as `q_<name>`. Both are
    * there for `pairFilter`, which drops (query, neighbour) pairs before
    * the ranking, e.g. hard negatives' label mismatch. The probe's cell
    * is cast to the members' `cell` type: a staged store's int partition
    * column then meets the probe bare, so dynamic partition pruning reads
    * only the probed cells' files.
    */
  private[graft] def ivfSearchAssigned(members: DataFrame, queries: DataFrame,
                        centroids: DataFrame, idCol: String, vecCol: String,
                        k: Int, nprobe: Int, pairFilter: Option[Column] = None): DataFrame = {
    val nAttrs = members.columns.toSeq.filterNot(Set(idCol, "v", "nrm", "cell"))
    val qAttrs = queries.columns.toSeq.filterNot(Set(idCol, vecCol))
    val nOut = nAttrs.map(a => col("n_" + a))
    val cn = members.select(Seq(col(idCol).as("n_id"), col("v").as("vn"), col("nrm").as("nn"),
      col("cell")) ++ nAttrs.map(a => col(a).as("n_" + a)): _*)
    // norms attached once per side
    val qnorm = withNorm(queries, idCol, vecCol, passthrough = qAttrs)
    val qn = qnorm
      .select(Seq(col(idCol).as("q_id"), col("v").as("vq"), col("nrm").as("nq")) ++
        qAttrs.map(a => col(a).as("q_" + a)): _*)
      .join(probeCells(qnorm, centroids, idCol, nprobe)
        .withColumn("cell", col("cell").cast(cn.schema("cell").dataType)), Seq("q_id"))
    val notSelf = col("n_id") =!= col("q_id")
    // no dedup needed: each corpus vector lives in exactly one cell and
    // the probe returns distinct cells, so a (q_id, n_id) pair matches once
    val scored = cn.join(broadcast(qn), Seq("cell"))
      .filter(pairFilter.fold(notSelf)(notSelf && _))
      .select(Seq(col("q_id"), col("n_id")) ++ nOut :+
        (dot(col("vq"), col("vn")) / (col("nq") * col("nn"))).as("cs"): _*)
    topKPerQuery(scored, k, col("cs").desc, col("n_id").asc)
      .select(Seq(col("q_id"), col("n_id")) ++ nOut ++
        Seq(round(col("cs"), 4).as("cos_sim"), col("rank")): _*)
  }

  /** PQ search by asymmetric distance computation: per query slice, the
    * quantized squared-L2 table against every `codebook` entry (m, code,
    * cv), then per candidate the sum of the entries its codes select, and
    * the top-`k` smallest sums. `qsub` holds the query slices (q_id, the
    * keys but code, sv), `cand` the candidates' codes (n_id, keys): the
    * keys are (m, code) for PQ and (cell, m, code) for IVF-PQ, whose
    * table is per (query, probed cell).
    */
  private[graft] def adcSearch(cand: DataFrame, qsub: DataFrame, codebook: DataFrame,
                               keys: Seq[String], k: Int): DataFrame = {
    val d2 = sqL2(col("sv"), col("cv"))
    // table entries quantize to floor(d2·10⁹) integers BEFORE the sum — a
    // raw double sum merges shuffled partials in nondeterministic order
    // and a last-ulp difference could flip a near-tie rank
    val dtab = qsub.join(broadcast(codebook), Seq("m"))
      .select((col("q_id") +: keys.map(col)) :+ floor(d2 * lit(1e9)).cast("long").as("d2q"): _*)
    // per (query, neighbor, subspace) exactly one table row matches, so
    // the sum always covers all numSub subspaces
    val scored = cand.join(broadcast(dtab), keys)
      .filter(col("n_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("n_id"))
      .agg((sum(col("d2q")).cast("double") / lit(1e9)).as("adist"))
    topKPerQuery(scored, k, col("adist").asc, col("n_id").asc)
      .select(col("q_id"), col("n_id"), round(col("adist"), 4).as("adist"), col("rank"))
  }

  /** The exact re-rank of a shortlist (q_id, n_id, …): full-precision
    * squared L2 from `emb`'s vectors, quantized to floor(d2·10⁹) so the
    * ranking is engine-portable, top-`k` per query. Full vectors are read
    * for shortlist rows only.
    */
  private[graft] def exactRerank(shortlist: DataFrame, emb: DataFrame, idCol: String,
                                 vecCol: String, k: Int): DataFrame = {
    val full = withNorm(emb, idCol, vecCol)
    val qv = full.select(col(idCol).as("q_id"), col("v").as("vq"))
    val nv = full.select(col(idCol).as("n_id"), col("v").as("vn"))
    val d2 = sqL2(col("vq"), col("vn"))
    val exact = shortlist.select(col("q_id"), col("n_id"))
      .join(qv, Seq("q_id")).join(nv, Seq("n_id"))
      .select(col("q_id"), col("n_id"), floor(d2 * lit(1e9)).cast("long").as("d2q"))
    topKPerQuery(exact, k, col("d2q").asc, col("n_id").asc)
      .select(col("q_id"), col("n_id"),
        round(col("d2q").cast("double") / lit(1e9), 4).as("dist"), col("rank"))
  }

  /** The unrolled Lloyd loop of the IVF oracle: iteration i assigns every
    * training vector to its nearest centroid from `cn{i-1}` (cn0 = the
    * seeds) and rebuilds centroids as the quantized-integer element-wise
    * mean; the final table is named `cn` so the downstream CTEs are
    * iteration-count-independent. Each block ends with its trailing
    * comma. `trainPredSql`, when set, restricts training (assignments
    * AND means) to the staged-corpus slice — the incremental-index
    * oracle.
    */
  private def ivfLloydCtes(iters: Int, trainPredSql: Option[String] = None): String = {
    val trainWhere = trainPredSql.map(p => s" WHERE $p").getOrElse("")
    (1 to iters).map { i =>
      val name = if (i == iters) "cn" else s"cn$i"
      s"""assign${i - 1} AS (
         |  SELECT vec_id, cell FROM (
         |    SELECT n.vec_id, c.cell,
         |           row_number() OVER (PARTITION BY n.vec_id
         |             ORDER BY list_inner_product(n.v, c.cv) / (n.nrm * c.cnrm) DESC,
         |                      c.cell ASC) AS rn
         |    FROM (SELECT * FROM n$trainWhere) n CROSS JOIN cn${i - 1} c) WHERE rn = 1),
         |lloyd$i AS (
         |  SELECT cell, dim,
         |         CAST(CAST(sum(floor(val * 1000000.0)) AS BIGINT) AS DOUBLE)
         |           / (1000000.0 * count(*)) AS m
         |  FROM (SELECT a.cell,
         |               unnest(e.v) AS val,
         |               unnest(generate_series(0, len(e.v) - 1)) AS dim
         |        FROM assign${i - 1} a JOIN e USING (vec_id))
         |  GROUP BY 1, 2),
         |$name AS (
         |  SELECT cell, cv, sqrt(list_inner_product(cv, cv)) AS cnrm FROM (
         |    SELECT cell, list(CAST(CAST(m AS FLOAT) AS DOUBLE) ORDER BY dim) AS cv
         |    FROM lloyd$i GROUP BY 1)),""".stripMargin
    }.mkString("\n")
  }

  /** Everything through the final full-corpus `assign` CTE of the IVF
    * oracles: base tables, seeds (restricted to `trainPredSql` when set),
    * the unrolled Lloyd loop, and nearest-centroid assignment of EVERY
    * vector to the trained centroids. Shared by [[knnIvfSqlFor]] and
    * [[AnnIndex.ivfCellStatsSqlFor]].
    */
  private[functions] def ivfAssignSqlPrefix(numCells: Int, iters: Int,
                                            trainPredSql: Option[String] = None): String = {
    val trainWhere = trainPredSql.map(p => s" WHERE $p").getOrElse("")
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
       |cn0 AS (
       |  SELECT vec_id AS cell, v AS cv, sqrt(list_inner_product(v, v)) AS cnrm
       |  FROM e$trainWhere ORDER BY vec_id LIMIT $numCells),
       |${ivfLloydCtes(iters, trainPredSql)}
       |assign AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT n.vec_id, c.cell,
       |           row_number() OVER (PARTITION BY n.vec_id
       |             ORDER BY list_inner_product(n.v, c.cv) / (n.nrm * c.cnrm) DESC,
       |                      c.cell ASC) AS rn
       |    FROM n CROSS JOIN cn c) WHERE rn = 1)""".stripMargin
  }

  /** [[probeCells]] in SQL: the queries `q` (rows of `n` matching
    * `queryPredSql`) and their `nprobe` nearest cells `qc` of the trained
    * centroids `cn`. Ends with its trailing comma.
    */
  private[functions] def probeSql(queryPredSql: String, nprobe: Int): String =
    s"""q AS (SELECT vec_id AS q_id, v, nrm FROM n WHERE $queryPredSql),
       |qc AS (
       |  SELECT q_id, cell FROM (
       |    SELECT q.q_id, c.cell,
       |           row_number() OVER (PARTITION BY q.q_id
       |             ORDER BY list_inner_product(q.v, c.cv) / (q.nrm * c.cnrm) DESC,
       |                      c.cell ASC) AS rn
       |    FROM q CROSS JOIN cn c) WHERE rn <= $nprobe),""".stripMargin

  /** DuckDB twin of [[knnIvf]] at the registered configurations: seeds =
    * first `numCells` vectors by id, then `iters` unrolled Lloyd
    * iterations — nearest-centroid assignment (cosine argmax, cell-id
    * tie-break) followed by the quantized-integer mean (floor(v·10⁶) sums,
    * the same exact arithmetic the Spark side runs, so centroids agree
    * bit-for-bit after each float round-trip) — then final reassignment,
    * per-query `nprobe`-cell probe, and top-`k` per query. An exact hash
    * check of an approximate-by-recall algorithm — approximation is in
    * WHAT it searches (nprobe cells), not in reproducibility.
    */
  def knnIvfSqlFor(numCells: Int, nprobe: Int, k: Int, queryPredSql: String,
                   iters: Int = 1, trainPredSql: Option[String] = None): String =
    s"""${ivfAssignSqlPrefix(numCells, iters, trainPredSql)},
       |${probeSql(queryPredSql, nprobe)}
       |scored AS (
       |  SELECT q.q_id, m.vec_id AS n_id,
       |         list_inner_product(q.v, m.v) / (q.nrm * m.nrm) AS cs
       |  FROM q
       |    JOIN qc USING (q_id)
       |    JOIN assign a ON a.cell = qc.cell
       |    JOIN n m ON m.vec_id = a.vec_id
       |  WHERE m.vec_id <> q.q_id)
       |SELECT q_id, n_id, round(cs, 4) AS cos_sim, CAST(rn AS INT) AS rank
       |FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, n_id ASC) AS rn
       |      FROM scored)
       |WHERE rn <= $k""".stripMargin

  /** DuckDB twin of IVF-shortlist hard-negative mining
    * ([[AnnIndex.hardNegativesStaged]]): [[knnIvfSqlFor]]'s probe/score
    * chain with the label-mismatch predicate fused into the scored CTE
    * (labels joined from the embeddings table — the store holds vectors,
    * the base table holds metadata). Retrains the index in SQL at the
    * store's iteration count, so the staged serve must reproduce it
    * bit-for-bit.
    */
  def hardNegativesIvfSqlFor(numCells: Int, nprobe: Int, k: Int,
                             queryPredSql: String, iters: Int = 1): String =
    s"""${ivfAssignSqlPrefix(numCells, iters)},
       |${probeSql(queryPredSql, nprobe)}
       |scored AS (
       |  SELECT q.q_id, m.vec_id AS n_id, lm.label AS n_label,
       |         list_inner_product(q.v, m.v) / (q.nrm * m.nrm) AS cs
       |  FROM q
       |    JOIN qc USING (q_id)
       |    JOIN assign a ON a.cell = qc.cell
       |    JOIN n m ON m.vec_id = a.vec_id
       |    JOIN embeddings lm ON lm.vec_id = m.vec_id
       |    JOIN embeddings lq ON lq.vec_id = q.q_id
       |  WHERE m.vec_id <> q.q_id AND lm.label <> lq.label)
       |SELECT q_id, n_id, CAST(n_label AS INT) AS n_label,
       |       round(cs, 4) AS cos_sim, CAST(rn AS INT) AS rank
       |FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, n_id ASC) AS rn
       |      FROM scored)
       |WHERE rn <= $k""".stripMargin

  /** DuckDB twin of [[knnLsh]] (multi-probe) at the registered config:
    * md5-derived hyperplanes (same digest both engines), per-vector sign
    * bucket, probes = own bucket + every Hamming-1 neighbor, candidate
    * equi-join on bucket, top-k by cosine with pinned tie-breaks. Like
    * knn_ivf: approximate by recall, exact by reproducibility.
    */
  def knnLshSqlFor(numPlanes: Int, k: Int, dim: Int, queryPredSql: String): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_inner_product(v, v)) AS nrm FROM e),
       |pl AS (
       |  SELECT p.p, list(CASE WHEN ascii(substr(md5(p.p::VARCHAR || '_' || d.d::VARCHAR), 1, 1)) % 2 = 0
       |                        THEN 1.0 ELSE -1.0 END ORDER BY d.d) AS w
       |  FROM (SELECT unnest(generate_series(0, ${numPlanes - 1})) AS p) p
       |  CROSS JOIN (SELECT unnest(generate_series(0, ${dim - 1})) AS d) d
       |  GROUP BY 1),
       |bk AS (
       |  SELECT e.vec_id,
       |         CAST(sum(CASE WHEN list_inner_product(e.v, pl.w) > 0
       |                       THEN CAST(1 AS BIGINT) << CAST(pl.p AS INT) ELSE 0 END) AS BIGINT) AS bucket
       |  FROM e CROSS JOIN pl GROUP BY 1),
       |q AS (
       |  SELECT n.vec_id AS q_id, n.v, n.nrm, bk.bucket
       |  FROM n JOIN bk USING (vec_id) WHERE $queryPredSql),
       |probes AS (
       |  SELECT q_id, bucket AS probe FROM q
       |  UNION ALL
       |  SELECT q_id, xor(bucket, CAST(1 AS BIGINT) << CAST(p AS INT))
       |  FROM q CROSS JOIN (SELECT unnest(generate_series(0, ${numPlanes - 1})) AS p) pp),
       |scored AS (
       |  SELECT q.q_id, c.vec_id AS n_id,
       |         list_inner_product(q.v, m.v) / (q.nrm * m.nrm) AS cs
       |  FROM probes pr
       |    JOIN bk c ON c.bucket = pr.probe
       |    JOIN q ON q.q_id = pr.q_id
       |    JOIN n m ON m.vec_id = c.vec_id
       |  WHERE c.vec_id <> pr.q_id)
       |SELECT q_id, n_id, round(cs, 4) AS cos_sim, CAST(rn AS INT) AS rank
       |FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cs DESC, n_id ASC) AS rn
       |      FROM scored)
       |WHERE rn <= $k""".stripMargin

  /** Per-(vector, subspace) slices for product quantization: subspace m
    * carries dimensions [m·subDim, (m+1)·subDim); `passthrough` columns
    * are kept after the id.
    */
  private[graft] def pqSubVectors(emb: DataFrame, idCol: String, vecCol: String,
                                  numSub: Int, subDim: Int,
                                  passthrough: Seq[String] = Nil): DataFrame =
    emb.select((col(idCol) +: passthrough.map(col)) :+
      posexplode(array((0 until numSub).map(m => slice(col(vecCol), m * subDim + 1, subDim)): _*))
        .as(Seq("m", "sv")): _*)

  /** Nearest-code assignment per (vector, subspace): squared-L2 argmin,
    * computed ROW-LOCALLY by [[PqAssignCode]] against the whole codebook
    * attached as one broadcast sorted array — same |x|² − 2·x·c + |c|²
    * double arithmetic and min(struct(dist, code)) tie-break as the
    * pre-r19 `join ×numCodes → min(struct)` form (contract in the
    * expression's scaladoc), without the ×numCodes row expansion and the
    * slice-grain re-aggregation it paid (256 M generated rows at sf100
    * for 16 M slices — measured as the bulk of the PQ family's cost).
    */
  private[graft] def pqAssign(sub: DataFrame, codebook: DataFrame, idCol: String): DataFrame = {
    // sorted by (m, code): the expression's tie-break contract
    val cbRow = codebook
      .select(col("m").cast("int").as("m"), col("code").cast("int").as("code"), col("cv"))
      .agg(sort_array(collect_list(struct(col("m"), col("code"), col("cv")))).as("cbs"))
    sub.crossJoin(broadcast(cbRow))
      .select(col(idCol), col("m"),
        VectorExpressions.pqAssignCode(col("sv"), col("m").cast("int"), col("cbs"),
          constantArray = true).as("code"))
  }

  /** Product quantization — the memory-side ANN scale path past scalar
    * int8: dim-64 vectors become `numSub` (8) one-byte codes by
    * quantizing each 8-dim subspace against its own `numCodes` (16)
    * codebook, i.e. 8 bytes per vector, a 32× compression of float32.
    * At 100 TB this is the difference between an embedding index that
    * fits executor memory and one that does not; search-side ADC scans
    * codes against a per-query distance table.
    *
    * Codebooks are trained exactly like [[ivfCentroids]]: deterministic
    * seeds (first `numCodes` vectors' slices, code id = seed rank), one
    * Lloyd step over floor(v·10⁶) integer quanta (merge-order
    * independent), float round-trip — so codebooks, and therefore every
    * code, agree bit-for-bit with the DuckDB oracle. Output: one row per
    * (vector, subspace) with the assigned code.
    */
  /** Train the PQ codebooks and return (persisted slice table, final
    * codebook) — shared by [[pqCodes]] (encode), [[pqKnn]] (ADC search)
    * and [[AnnIndex.stageOnce]] (persisted index). `iters` Lloyd
    * iterations, each assign-then-quantized-mean with a float round-trip,
    * exactly mirrored by the oracle's unrolled CTEs ([[pqSqlPrefix]]).
    */
  private[functions] def pqTrain(emb: DataFrame, idCol: String, vecCol: String,
                                 numSub: Int, numCodes: Int, dim: Int,
                                 iters: Int = 1): (DataFrame, DataFrame) = {
    require(dim % numSub == 0, s"dim $dim must split evenly into $numSub subspaces")
    require(iters >= 1, "pqTrain: need at least one Lloyd iteration")
    val subDim = dim / numSub
    // slices feed seeding, every assignment pass, and the Lloyd steps
    val sub = pqSubVectors(emb, idCol, vecCol, numSub, subDim).persist()
    val seedIds = emb.orderBy(col(idCol)).limit(numCodes)
      .select(col(idCol),
        (row_number().over(Window.orderBy(col(idCol).asc)) - 1).as("code"))
    var cb = sub.join(seedIds, Seq(idCol)).select(col("m"), col("code"), col("sv").as("cv"))
    for (_ <- 1 to iters) {
      val a = pqAssign(sub, cb, idCol)
      // Lloyd step per (subspace, code): quantized-integer elementwise mean
      cb = a.join(sub, Seq(idCol, "m"))
        .select(col("m"), col("code"), posexplode(col("sv")).as(Seq("pos", "val")))
        .groupBy(col("m"), col("code"), col("pos"))
        .agg((sum(floor(col("val").cast("double") * lit(1000000.0))).cast("double")
          / (lit(1000000.0) * count(lit(1)))).as("cm"))
        .groupBy(col("m"), col("code"))
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("cm")))),
          x => x.getField("cm").cast("float")).as("cv"))
    }
    (sub, cb)
  }

  def pqCodes(emb: DataFrame, idCol: String, vecCol: String,
              numSub: Int = 8, numCodes: Int = 16, dim: Int = 64,
              iters: Int = 1): DataFrame = {
    val (sub, cb) = pqTrain(emb, idCol, vecCol, numSub, numCodes, dim, iters)
    pqAssign(sub, cb, idCol)
      .select(col(idCol), col("m").cast("int").as("m"), col("code").cast("int").as("code"))
  }

  /** Incremental (daily-ingest) PQ encode — the codebook mirror of
    * [[knnIvfIncremental]]: codebooks train ONLY on the staged corpus
    * (`trainPred`); the new batch (`newPred`) is encoded against them by
    * pure per-row assignment — a broadcast join against the numSub ×
    * numCodes codebook, zero retraining. At 100 TB this is how a PQ
    * index absorbs an ingest batch: the stored codes are immutable, the
    * batch appends `numSub` one-byte codes per vector, and the codebook
    * retrains only on schedule.
    */
  def pqCodesIncremental(emb: DataFrame, trainPred: Column, newPred: Column,
                         idCol: String, vecCol: String,
                         numSub: Int = 8, numCodes: Int = 16, dim: Int = 64,
                         iters: Int = 1): DataFrame = {
    val (_, cb) = pqTrain(emb.filter(trainPred), idCol, vecCol, numSub, numCodes, dim, iters)
    val subNew = pqSubVectors(emb.filter(newPred), idCol, vecCol, numSub, dim / numSub)
    pqAssign(subNew, cb, idCol)
      .select(col(idCol), col("m").cast("int").as("m"), col("code").cast("int").as("code"))
  }

  /** DuckDB twin of [[pqCodesIncremental]]: training CTEs restricted to
    * the staged slice, final assignment filtered to the new batch.
    */
  def pqCodesIncrementalSqlFor(numSub: Int, numCodes: Int, dim: Int,
                               trainPredSql: String, newPredSql: String,
                               iters: Int = 1): String =
    s"""${pqSqlPrefix(numSub, numCodes, dim, iters, Some(trainPredSql))}
       |SELECT vec_id, CAST(m AS INT) AS m, CAST(code AS INT) AS code
       |FROM codes WHERE $newPredSql""".stripMargin

  /** PQ top-k search via asymmetric distance computation (ADC) — the
    * search half of the compressed index: queries stay full-precision,
    * the corpus exists only as codes. Per query, a distance TABLE of
    * numSub×numCodes squared-L2 entries (query slice vs codebook entry —
    * 128 doubles at the default geometry, broadcast-sized no matter the
    * corpus); each corpus vector's approximate distance is then the SUM
    * of table lookups selected by its codes — an equi-join on (m, code)
    * plus a map-side-combinable per-(query, neighbor) sum. No
    * full-precision corpus vector is ever touched at search time, which
    * is the entire point at 100 TB.
    */
  def pqKnn(emb: DataFrame, queryPred: Column, idCol: String, vecCol: String,
            k: Int, numSub: Int = 8, numCodes: Int = 16, dim: Int = 64,
            iters: Int = 1): DataFrame = {
    val (sub, cb) = pqTrain(emb, idCol, vecCol, numSub, numCodes, dim, iters)
    // the corpus as codes — at scale this is the stored index
    val codes = pqAssign(sub, cb, idCol)
      .select(col(idCol).as("n_id"), col("m"), col("code")).persist()
    val qSub = sub.join(emb.filter(queryPred).select(col(idCol)), Seq(idCol))
      .select(col(idCol).as("q_id"), col("m"), col("sv"))
    adcSearch(codes, qSub, cb, Seq("m", "code"), k)
  }

  /** PQ search with exact re-ranking — the production two-stage shape:
    * ADC over codes localizes a shortlist of `shortlist` candidates per
    * query (coarse: within a tight cluster all members share codes and
    * TIE — 8-byte codes cannot order them), then full-precision
    * squared-L2 re-ranks only the shortlist. The expensive exact math
    * touches `shortlist` vectors per query instead of the corpus; the
    * corpus-wide pass stays on 8-byte codes. Exact distances quantize to
    * floor(d2·10⁹) before any comparison so ranking is engine-portable.
    */
  def pqKnnRerank(emb: DataFrame, queryPred: Column, idCol: String, vecCol: String,
                  k: Int, shortlist: Int = 40, numSub: Int = 8, numCodes: Int = 16,
                  dim: Int = 64, iters: Int = 1): DataFrame =
    exactRerank(pqKnn(emb, queryPred, idCol, vecCol, shortlist, numSub, numCodes, dim, iters),
      emb, idCol, vecCol, k)

  /** DuckDB twin of [[pqKnnRerank]]: the ADC shortlist query wrapped as a
    * CTE, full-precision quantized squared-L2 over the shortlist, top-k.
    */
  def pqKnnRerankSqlFor(numSub: Int, numCodes: Int, dim: Int, k: Int,
                        shortlist: Int, queryPredSql: String, iters: Int = 1): String =
    rerankSql(pqKnnSqlFor(numSub, numCodes, dim, shortlist, queryPredSql, iters), k)

  /** The quantized squared-L2 select item `d2q` of vectors `a` and `b`,
    * aligned for a select list indented by 9 spaces.
    */
  private[functions] def d2qSql(a: String, b: String): String =
    s"""CAST(floor((list_inner_product($a, $a)
       |                     - 2 * list_inner_product($a, $b)
       |                     + list_inner_product($b, $b)) * 1000000000.0) AS BIGINT) AS d2q""".stripMargin

  /** [[exactRerank]] in SQL: the (q_id, n_id) rows of `shortlistSql`
    * re-ranked by quantized full-precision squared L2, top-k.
    */
  private[functions] def rerankSql(shortlistSql: String, k: Int): String =
    s"""WITH shortlist AS (
       |  SELECT q_id, n_id FROM ($shortlistSql)),
       |ev AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |exact AS (
       |  SELECT s.q_id, s.n_id,
       |         ${d2qSql("q.v", "x.v")}
       |  FROM shortlist s
       |    JOIN ev q ON q.vec_id = s.q_id
       |    JOIN ev x ON x.vec_id = s.n_id)
       |SELECT q_id, n_id, round(CAST(d2q AS DOUBLE) / 1000000000.0, 4) AS dist,
       |       CAST(rn AS INT) AS rank
       |FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY d2q ASC, n_id ASC) AS rn
       |      FROM exact)
       |WHERE rn <= $k""".stripMargin

  /** DuckDB twin of [[pqCodes]] at the registered (8 subspaces, 16 codes,
    * dim 64) configuration — seeds, squared-L2 argmin (tie-break on code
    * id), quantized Lloyd step, re-assignment, all replayed in SQL.
    */
  def pqCodesSqlFor(numSub: Int, numCodes: Int, dim: Int, iters: Int = 1): String =
    s"""${pqSqlPrefix(numSub, numCodes, dim, iters)}
       |SELECT vec_id, CAST(m AS INT) AS m, CAST(code AS INT) AS code FROM codes""".stripMargin

  /** Shared CTE prefix of the PQ oracles: everything through the trained
    * codebook `cb` and the final code assignment `codes`. The Lloyd loop
    * is unrolled `iters` times — iteration i assigns every (vector,
    * subspace) slice to its nearest code from `cb{i-1}` (cb0 = the seed
    * slices) and rebuilds the codebook as the quantized-integer mean with
    * a float round-trip; the final codebook is always named `cb` so the
    * downstream CTEs are iteration-count-independent.
    */
  /** The PQ training/encode CTE chain over an arbitrary vector source
    * CTE `src` (columns: vec_id, v DOUBLE[]), with every emitted CTE name
    * prefixed by `p` so two chains can coexist in one statement (the
    * IVF-PQ oracle trains a second, residual-space chain next to the IVF
    * one — [[IvfPq.sqlPrefix]]). `p` = "" and `src` = "e" reproduces the
    * classic [[pqSqlPrefix]] chain: seeds → cb0 → `iters` unrolled Lloyd
    * steps (quantized-integer means, float round-trip) → final `${p}cb`
    * and full-corpus `${p}codes`.
    */
  private[functions] def pqCtes(src: String, p: String, numSub: Int, numCodes: Int,
                                subDim: Int, iters: Int,
                                trainPredSql: Option[String] = None): String = {
    val d2 = "list_inner_product(s.sv, s.sv) - 2 * list_inner_product(s.sv, c.cv) + list_inner_product(c.cv, c.cv)"
    // training (seeds + every Lloyd assignment/mean) restricts to the
    // staged-corpus slice when trainPredSql is set; the final `codes`
    // assignment always covers every vector
    val trainWhere = trainPredSql.map(pr => s" WHERE $pr").getOrElse("")
    val trainSub = trainPredSql.map(pr => s"(SELECT * FROM ${p}sub WHERE $pr) s").getOrElse(s"${p}sub s")
    val lloydCtes = (1 to iters).map { i =>
      val name = if (i == iters) s"${p}cb" else s"${p}cb$i"
      s"""${p}a${i - 1} AS (
         |  SELECT vec_id, m, code FROM (
         |    SELECT s.vec_id, s.m, c.code,
         |           row_number() OVER (PARTITION BY s.vec_id, s.m
         |             ORDER BY ($d2) ASC, c.code ASC) AS rn
         |    FROM $trainSub JOIN ${p}cb${i - 1} c ON c.m = s.m) WHERE rn = 1),
         |${p}lloyd$i AS (
         |  SELECT m, code, pos,
         |         CAST(CAST(sum(floor(val * 1000000.0)) AS BIGINT) AS DOUBLE)
         |           / (1000000.0 * count(*)) AS cm
         |  FROM (SELECT a.m, a.code,
         |               unnest(s.sv) AS val,
         |               unnest(generate_series(0, ${subDim - 1})) AS pos
         |        FROM ${p}a${i - 1} a JOIN ${p}sub s ON s.vec_id = a.vec_id AND s.m = a.m)
         |  GROUP BY 1, 2, 3),
         |$name AS (
         |  SELECT m, code, list(CAST(CAST(cm AS FLOAT) AS DOUBLE) ORDER BY pos) AS cv
         |  FROM ${p}lloyd$i GROUP BY 1, 2),""".stripMargin
    }.mkString("\n")
    s"""${p}sub AS (
       |  SELECT vec_id, m, list_slice(v, m * $subDim + 1, m * $subDim + $subDim) AS sv
       |  FROM $src CROSS JOIN (SELECT unnest(generate_series(0, ${numSub - 1})) AS m) mm),
       |${p}seeds AS (
       |  SELECT vec_id, CAST(row_number() OVER (ORDER BY vec_id ASC) - 1 AS INT) AS code
       |  FROM (SELECT vec_id FROM $src$trainWhere ORDER BY vec_id LIMIT $numCodes)),
       |${p}cb0 AS (SELECT s.m, sd.code, s.sv AS cv FROM ${p}sub s JOIN ${p}seeds sd USING (vec_id)),
       |$lloydCtes
       |${p}codes AS (
       |  SELECT vec_id, m, code FROM (
       |    SELECT s.vec_id, s.m, c.code,
       |           row_number() OVER (PARTITION BY s.vec_id, s.m
       |             ORDER BY ($d2) ASC, c.code ASC) AS rn
       |    FROM ${p}sub s JOIN ${p}cb c ON c.m = s.m) WHERE rn = 1)""".stripMargin
  }

  private[functions] def pqSqlPrefix(numSub: Int, numCodes: Int, dim: Int, iters: Int = 1,
                                     trainPredSql: Option[String] = None): String =
    s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |${pqCtes("e", "", numSub, numCodes, dim / numSub, iters, trainPredSql)}""".stripMargin

  /** DuckDB twin of [[pqKnn]]: the trained-code prefix plus the per-query
    * ADC distance table (quantized to floor(d2·10⁹) integers before the
    * sum, matching the Spark side's merge-order-independent arithmetic)
    * and the final per-query top-k.
    */
  def pqKnnSqlFor(numSub: Int, numCodes: Int, dim: Int, k: Int,
                  queryPredSql: String, iters: Int = 1,
                  trainPredSql: Option[String] = None): String =
    s"""${pqSqlPrefix(numSub, numCodes, dim, iters, trainPredSql)},
       |qsub AS (SELECT vec_id AS q_id, m, sv FROM sub WHERE $queryPredSql),
       |${adcSql("", "cb", "codes co JOIN dtab d ON d.m = co.m AND d.code = co.code", k)}""".stripMargin

  /** [[adcSearch]] in SQL over a `qsub` CTE (q_id, `qKeys`, m, sv): the
    * quantized distance table `dtab` against `codebook`, the sums over
    * `candidates` (a FROM list of codes `co` joined to `dtab d`) and the
    * per-query top-k. `qKeys` is the select-list prefix of dtab's extra
    * keys (IVF-PQ's "s.cell, "), empty for PQ.
    */
  private[functions] def adcSql(qKeys: String, codebook: String, candidates: String,
                                k: Int): String =
    s"""dtab AS (
       |  SELECT s.q_id, ${qKeys}c.m, c.code,
       |         ${d2qSql("s.sv", "c.cv")}
       |  FROM qsub s JOIN $codebook c ON c.m = s.m),
       |scored AS (
       |  SELECT d.q_id, co.vec_id AS n_id,
       |         CAST(sum(d.d2q) AS DOUBLE) / 1000000000.0 AS adist
       |  FROM $candidates
       |  WHERE co.vec_id <> d.q_id
       |  GROUP BY 1, 2)
       |SELECT q_id, n_id, round(adist, 4) AS adist, CAST(rn AS INT) AS rank
       |FROM (SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY adist ASC, n_id ASC) AS rn
       |      FROM scored)
       |WHERE rn <= $k""".stripMargin

  /** Per-label embedding centroids, one row per (label, dimension) — the
    * class-prototype computation behind IVF cell training, cluster
    * labeling, and embedding-drift monitoring. posexplode turns each
    * vector into (dim, value) rows; the aggregation is map-side combined,
    * so the shuffle carries |labels|×dim partial sums, never vectors.
    * Each element is quantized as floor(v·10⁶) — float→double cast,
    * multiply, and floor are all exactly-specified IEEE ops that agree
    * bit-for-bit across engines (unlike float→decimal casts, whose
    * rounding is implementation-defined and was measured to differ at the
    * 9th decimal between Spark and DuckDB) — then summed as exact
    * integers (merge-order independent) and divided once. The 1e-6
    * quantization is far below embedding noise; a raw float sum would
    * drift in the last ulp under shuffle reordering.
    */
  def embeddingCentroids(emb: DataFrame, labelCol: String, vecCol: String): DataFrame =
    emb.select(col(labelCol), posexplode(col(vecCol)).as(Seq("dim", "v")))
      .groupBy(col(labelCol), col("dim"))
      .agg((sum(floor(col("v").cast("double") * lit(1000000.0))).cast("double")
        / (lit(1000000.0) * count(lit(1)))).as("centroid"))

  val embeddingCentroidsSql: String =
    """SELECT label, CAST(dim AS INT) AS dim,
      |  CAST(CAST(sum(floor(CAST(v AS DOUBLE) * 1000000.0)) AS BIGINT) AS DOUBLE)
      |    / (1000000.0 * count(*)) AS centroid
      |FROM (SELECT label, unnest(embedding) AS v,
      |             unnest(generate_series(0, len(embedding)-1)) AS dim
      |      FROM embeddings)
      |GROUP BY 1, 2""".stripMargin

  /** Per-label embedding norm statistics — the vector-QA profile (count,
    * total/min/max squared norm) a pipeline checks for degenerate
    * embeddings (all-zero vectors, unnormalized batches, broken encoder
    * shards) before building an ANN index.
    *
    * Parity: components quantize to integers via floor(v * 1e3) — the
    * 1e3 scale keeps the squared-norm sum under 2^53 at any realistic
    * corpus size (|q| <= ~1e3 ⇒ q² <= ~1e6; × dim 64 × 600 k vectors
    * ≈ 4e13), so BIGINT accumulation is exact in both engines (DuckDB's
    * HUGEINT sum casts back losslessly). The per-row HOF fold is
    * interpreted (no codegen) but runs once per vector — not in a join
    * hot path, so the ~µs/row interpreter cost never dominates.
    */
  def embeddingNormStats(emb: DataFrame, labelCol: String, vecCol: String): DataFrame = {
    val qnorm = aggregate(
      transform(col(vecCol), v => floor(v.cast("double") * lit(1000.0)).cast("long")),
      lit(0L), (acc, q) => acc + q * q)
    emb.select(col(labelCol), qnorm.as("qnorm"))
      .groupBy(col(labelCol))
      .agg(count(lit(1)).as("n_vecs"), sum(col("qnorm")).as("sum_sq"),
        min(col("qnorm")).as("min_sq"), max(col("qnorm")).as("max_sq"))
  }

  val embeddingNormStatsSql: String =
    """SELECT label, count(*) AS n_vecs,
      |  CAST(sum(qnorm) AS BIGINT) AS sum_sq,
      |  CAST(min(qnorm) AS BIGINT) AS min_sq,
      |  CAST(max(qnorm) AS BIGINT) AS max_sq
      |FROM (SELECT label,
      |        list_sum(list_transform(embedding,
      |          v -> CAST(floor(CAST(v AS DOUBLE) * 1000.0) AS BIGINT)
      |             * CAST(floor(CAST(v AS DOUBLE) * 1000.0) AS BIGINT))) AS qnorm
      |      FROM embeddings)
      |GROUP BY 1""".stripMargin

  /** Symmetric per-vector int8 quantization — the memory-side half of an
    * ANN index at scale (4× smaller vectors than float32; a 100 TB
    * embedding store becomes 25 TB, and SIMD int8 dot products get ~4×
    * the throughput). Per vector: scale = 127/max|v|, q_i =
    * floor(v_i·scale + 0.5) ∈ [-127, 127]; the all-zero vector maps to
    * all-zero. Output is flattened (vec_id, dim_idx, q) so the oracle
    * compares integers.
    *
    * Scale shape: a pure per-row map — no shuffle, no join, no agg; the
    * only data movement is the scan. Engine-portable by construction:
    * float→double widening is exact, one IEEE division and one multiply
    * are bit-identical everywhere, and floor(x + 0.5) sidesteps the
    * engines' different round() tie conventions.
    */
  def quantizeInt8(emb: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val maxAbs = array_max(transform(col(vecCol), v => abs(v.cast("double"))))
    // compute the per-vector scale BELOW the explode: listed alongside the
    // generator in one select, the analyzer placed this interpreted HOF in
    // the Project ABOVE Generate — evaluated once per exploded ELEMENT
    // (dim × rows; 128 M times at sf100, 375 s) instead of once per vector
    // (2 M). withColumn pins it under the Generate: per-row, and the
    // explode+quantize pipeline above stays whole-stage codegen.
    emb
      .withColumn("ma", maxAbs)
      .select(col(idCol), col("ma"), posexplode(col(vecCol)).as(Seq("dim_idx", "v")))
      .select(col(idCol), col("dim_idx"),
        when(col("ma") === 0.0, lit(0))
          .otherwise(floor(col("v").cast("double") * (lit(127.0) / col("ma")) + lit(0.5)).cast("int"))
          .as("q"))
  }

  val quantizeInt8Sql: String =
    """WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
      |m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS ma FROM e),
      |d AS (SELECT vec_id, ma,
      |        unnest(generate_series(0, len(v) - 1)) AS dim_idx,
      |        unnest(v) AS val
      |      FROM m)
      |SELECT vec_id, CAST(dim_idx AS INT) AS dim_idx,
      |       CAST(CASE WHEN ma = 0 THEN 0
      |                 ELSE floor(val * (127.0 / ma) + 0.5) END AS INT) AS q
      |FROM d""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "mrl_recall",
      (s, dir) => mrlRecallReport(Tables.embeddings(s, dir), "vec_id", "embedding",
        col("vec_id") < 8, 5, Seq(4, 16, 32, 64)),
      Some(mrlRecallSqlFor(Seq(4, 16, 32, 64), 5, "vec_id < 8"))),
    QueryDef(
      "pq_codes",
      (s, dir) => pqCodes(Tables.embeddings(s, dir), "vec_id", "embedding"),
      Some(pqCodesSqlFor(8, 16, 64))),
    QueryDef(
      "pq_knn",
      (s, dir) => pqKnn(Tables.embeddings(s, dir), col("vec_id") < 8, "vec_id", "embedding", 5),
      Some(pqKnnSqlFor(8, 16, 64, 5, "vec_id < 8"))),
    QueryDef(
      "pq_knn_rerank",
      (s, dir) => pqKnnRerank(Tables.embeddings(s, dir), col("vec_id") < 8, "vec_id", "embedding", 5),
      Some(pqKnnRerankSqlFor(8, 16, 64, 5, 40, "vec_id < 8"))),
    QueryDef(
      "pq_codes_incremental",
      // staged corpus = vec_id % 5 != 0 trains the codebooks; the new
      // batch vec_id % 5 = 0 is encoded against them by assignment only
      (s, dir) => pqCodesIncremental(Tables.embeddings(s, dir),
        col("vec_id") % 5 =!= 0, col("vec_id") % 5 === 0, "vec_id", "embedding"),
      Some(pqCodesIncrementalSqlFor(8, 16, 64, "vec_id % 5 <> 0", "vec_id % 5 = 0"))),
    QueryDef(
      "embedding_quantize_int8",
      (s, dir) => quantizeInt8(Tables.embeddings(s, dir), "vec_id", "embedding"),
      Some(quantizeInt8Sql)),
    QueryDef(
      "embedding_centroids",
      (s, dir) => embeddingCentroids(Tables.embeddings(s, dir), "label", "embedding"),
      Some(embeddingCentroidsSql)),
    QueryDef(
      "embedding_norm_stats",
      (s, dir) => embeddingNormStats(Tables.embeddings(s, dir), "label", "embedding"),
      Some(embeddingNormStatsSql)),
    QueryDef(
      "knn_ivf",
      (s, dir) => knnIvf(Tables.embeddings(s, dir), col("vec_id") < 8, "vec_id", "embedding", 5),
      // approximate by RECALL (nprobe cells), exact by REPRODUCIBILITY:
      // the quantized Lloyd step makes the index engine-portable, so the
      // oracle recomputes the identical top-k (recall vs knn_brute is
      // separately spec-asserted)
      Some(knnIvfSqlFor(16, 2, 5, "vec_id < 8"))),
    QueryDef(
      "knn_ivf_auto",
      // corpus-sized geometry: cells ≈ √n, nprobe holds the scan fraction
      // constant. Both oracle fixtures ship 500 embeddings, so the rule
      // derives (23 cells, nprobe 2) at both gate scales — the oracle
      // pins those derived constants (ivfCellsFor(500) = 23), same
      // pattern as dedup_embedding_lsh_auto
      (s, dir) => knnIvfAuto(Tables.embeddings(s, dir), col("vec_id") < 8,
        "vec_id", "embedding", 5),
      Some(knnIvfSqlFor(ivfCellsFor(500), ivfNprobeFor(ivfCellsFor(500)), 5, "vec_id < 8"))),
    QueryDef(
      "knn_ivf_incremental",
      // staged corpus = vec_id % 5 != 0 (centroids train ONLY here);
      // new batch = vec_id % 5 = 0 folds in by assignment, and the
      // queries are the first 8 new-batch vectors — the daily-ingest
      // shape: index absorbs the batch with zero retraining
      (s, dir) => knnIvfIncremental(Tables.embeddings(s, dir),
        col("vec_id") % 5 =!= 0, col("vec_id") % 5 === 0 && col("vec_id") < 40,
        "vec_id", "embedding", 5),
      Some(knnIvfSqlFor(16, 2, 5, "vec_id % 5 = 0 AND vec_id < 40",
        trainPredSql = Some("vec_id % 5 <> 0")))),
    QueryDef(
      "ivf_drift_report",
      // same slice convention as the incremental family: cells trained
      // on the staged corpus, the new batch graded against them
      (s, dir) => ivfDriftReport(Tables.embeddings(s, dir),
        col("vec_id") % 5 =!= 0, col("vec_id") % 5 === 0, "vec_id", "embedding"),
      Some(ivfDriftReportSqlFor(16, 1, "vec_id % 5 <> 0", "vec_id % 5 = 0"))),
    QueryDef(
      "knn_brute",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        knnBrute(emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding", 5)
      },
      Some(knnBruteSql)),
    QueryDef(
      "hard_negatives",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        hardNegatives(emb, emb.filter(col("vec_id") < 8), "vec_id", "embedding", "label", 5)
      },
      Some(hardNegativesSql)),
    QueryDef(
      "knn_lsh",
      (s, dir) => knnLsh(Tables.embeddings(s, dir), col("vec_id") < 8, "vec_id", "embedding", 5),
      // approximate by RECALL (bucket probes, spec-asserted vs knn_brute);
      // exact by REPRODUCIBILITY since the md5 hyperplane switch
      Some(knnLshSqlFor(8, 5, 64, "vec_id < 8"))),
  )
}
