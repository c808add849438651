package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{QueryDef, Stores, Tables}

/** Staged MinHash signature index — the document-dedup analogue of
  * [[AnnIndex]]: shingle + md5 + min-aggregate ONCE per corpus revision,
  * persist the signature table and its LSH band index to storage, and
  * serve every candidate-generation consumer from the stored artifacts
  * with zero text lineage in the serve plan. At 100 TB the signature
  * build is the only pass that touches document TEXT; every downstream
  * dedup query (pairs, est-Jaccard, clustering, incremental ingest, the
  * streaming leakage monitor's static side) runs off |docs| × 8 hashes —
  * kilobytes per million documents, rebuilt only when the corpus
  * revision changes.
  *
  * All signature arithmetic is md5-based (engine-identical bytes), so
  * staged serves are bit-for-bit equal to the inline operators and share
  * their DuckDB oracles unchanged — "build the index in Spark, retrain
  * in SQL, hashes must agree" (spec-pinned, same contract as the ANN
  * store).
  *
  * Layout under one (sf-dir, geometry) fingerprint directory:
  *  - `minhash_sigs` (doc_id, mh_1..mh_8) — the signature table
  *  - `band_index`   (doc_id, band, sig)  — the LSH candidate structure
  * staged through the same [[Stores]] seam as [[AnnIndex.stageOnce]]:
  * published by one rename once every artifact is written.
  */
object SigIndex {
  val NumHashes = 8
  val RowsPerBand = 2

  /** The staged SHINGLE store — the exact distinct stride-sampled
    * character shingles the n-gram family (jaccard, containment,
    * QA-report ground truth) computes inline.
    * Separate artifact from the minhash store: different geometry
    * (width 8 / stride [[Dedup.NgramStride]], distinct) and a much
    * larger footprint (per-stride-position rows, not 8 hashes —
    * measured ~1.3× the compressed documents table at sf1), staged
    * only for the consumers that need EXACT set arithmetic. The win is
    * therefore CPU and text-locality, not storage: serves skip the
    * scan→explode→distinct derivation that dominates every exact pass
    * and never touch document text. Stage it when the exact family
    * runs repeatedly per corpus revision; skip it for one-shot audits.
    * Built once per (corpus dir, geometry), like [[stageOnce]].
    */
  def stageShingles(spark: SparkSession, dir: String): String =
    Stores.stage(spark, dir, "shingle", s"w8s${Dedup.NgramStride}_r1") { base =>
      val docs = Tables.documents(spark, dir)
      TextAnalysis.shingles(docs, "doc_id", "text", width = 8, stride = Dedup.NgramStride)
        .write.mode("overwrite").parquet(s"$base/shingles")
    }

  private def storedShingles(spark: SparkSession, dir: String,
                             sampleMod: Long = 1L): DataFrame = {
    require(sampleMod >= 1, "storedShingles: sampleMod must be >= 1")
    val base = stageShingles(spark, dir)
    val raw = Tables.parquet(spark, s"$base/shingles")
    // The deterministic doc slice ([[Dedup.embQaSampleModFor]] rule)
    // applies BEFORE the re-shard so the shuffle moves only slice rows;
    // mod = 1 leaves the plan filter-free (gate/oracle plans unchanged).
    val sliced = if (sampleMod == 1) raw
      else raw.filter(pmod(xxhash64(col("doc_id")), lit(sampleMod)) === 0)
    // The store compresses to a handful of file splits, so a bare read
    // plans 1-2 scan partitions — and every downstream join probe then
    // runs near-single-threaded (measured 22 s vs 12 s INLINE at sf1:
    // the inline twin inherits its parallelism from the distinct's
    // shuffle). Re-shard on the shingle once per serve, with the
    // partition count PINNED (a bare repartition(col) is an
    // AQE-coalescible shuffle that lands right back at ~2 partitions
    // for this data size): one narrow-row shuffle buys full-width
    // probes, and hash-on-sh is the layout the df-cap aggregate
    // consumes without a further exchange.
    val parts = spark.sessionState.conf.numShufflePartitions
    sliced.repartition(parts, col("sh"))
  }

  /** Count-derived sample modulus for the SAMPLED exact-family serves:
    * one job-free documents row count ([[Tables.rowCount]]) → the
    * [[Dedup.embQaSampleModFor]] rule (≈ n/500), so the slice — and
    * therefore the quadratic exact pair work — is bounded to ~500 docs
    * BY CONSTRUCTION at any corpus size, and equals 1 (filter-free plan,
    * oracle unchanged) at the ≤500-doc gates.
    */
  private def docSampleMod(spark: SparkSession, dir: String): Long =
    Dedup.embQaSampleModFor(Tables.rowCount(spark, dir, "documents"))

  /** Exact n-gram Jaccard near-dup pairs served from the shingle store —
    * df-cap + inverted-index self-join straight off stored (doc_id, sh)
    * rows; document text is read zero times. Same oracle as the inline
    * dedup_ngram (the store holds exactly the shingles the inline path
    * computes).
    */
  def ngramJaccardStaged(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramJaccardFromShingles(storedShingles(spark, dir), "doc_id")

  /** Exact n-gram containment pairs off the shingle store (see
    * [[ngramJaccardStaged]]).
    */
  def ngramContainmentStaged(spark: SparkSession, dir: String): DataFrame =
    Dedup.ngramContainmentFromShingles(storedShingles(spark, dir), "doc_id")

  /** The SAMPLED production preset beside the exact [[ngramJaccardStaged]]
    * baseline: the same df-cap + inverted-index serve off the shingle
    * store, on a count-derived deterministic doc slice
    * ([[docSampleMod]]) — a bounded exact-slice audit at ANY corpus size
    * (the full-corpus exact serves are deliberate correctness baselines
    * and scale quadratically in the duplicate structure; this is what a
    * pipeline actually schedules per ingest batch at 100 TB). At the
    * ≤500-doc gates the modulus is 1, the filter is absent from the
    * plan, and the qkey shares the inline ngram oracle unchanged. A
    * pair survives iff BOTH endpoints survive the slice — the unbiased
    * pair-rate estimator contract of [[Dedup.dedupQaReport]].
    */
  def ngramJaccardStagedSampled(spark: SparkSession, dir: String): DataFrame =
    ngramJaccardStagedMod(spark, dir, docSampleMod(spark, dir))

  private[graft] def ngramJaccardStagedMod(spark: SparkSession, dir: String,
                                           sampleMod: Long): DataFrame =
    Dedup.ngramJaccardFromShingles(
      storedShingles(spark, dir, sampleMod), "doc_id")

  /** Sampled containment preset — see [[ngramJaccardStagedSampled]]. */
  def ngramContainmentStagedSampled(spark: SparkSession, dir: String): DataFrame =
    ngramContainmentStagedMod(spark, dir, docSampleMod(spark, dir))

  private[graft] def ngramContainmentStagedMod(spark: SparkSession, dir: String,
                                               sampleMod: Long): DataFrame =
    Dedup.ngramContainmentFromShingles(
      storedShingles(spark, dir, sampleMod), "doc_id")

  /** The LSH-vs-exact QA report with BOTH sides served from storage:
    * candidates from the minhash band index, ground truth from the
    * shingle store. The per-ingest-batch dedup health check at 100 TB —
    * the one report that deliberately runs the approximate AND the exact
    * path — without re-reading a byte of document text. Same oracle as
    * the inline dedup_qa_report.
    *
    * SELF-BOUNDING like its inline twin: both sides run on the same
    * count-derived doc slice ([[docSampleMod]] — signatures, bands and
    * shingles are per-doc, so filtering stored rows to the slice is
    * exactly the inline operator's document filter), which bounds the
    * quadratic exact-truth side to ~500 docs at any corpus size. mod = 1
    * at the ≤500-doc gates keeps the plan filter-free and the oracle
    * byte-identical.
    */
  def dedupQaReportStaged(spark: SparkSession, dir: String): DataFrame =
    dedupQaReportStagedMod(spark, dir, docSampleMod(spark, dir))

  private[graft] def dedupQaReportStagedMod(spark: SparkSession, dir: String,
                                            sampleMod: Long): DataFrame =
    Dedup.qaReportFromPairs(
      minhashPairsStaged(spark, dir, sampleMod),
      Dedup.ngramJaccardFromShingles(storedShingles(spark, dir, sampleMod), "doc_id"))

  /** Staged sign-LSH bucket index for embedding near-dup — the third
    * store: the corpus-sized band geometry ([[Dedup.lshBitsFor]], 8 bands
    * × bits ≈ log2(n/16)) computes ~8·bits hyperplane dot products per
    * vector and explodes them into (vec_id, band, key) bucket rows; that
    * happens ONCE per corpus revision here, in a staged store. Band bits live in the directory fingerprint, so corpus
    * growth that shifts the sizing rule rebuilds the store instead of
    * serving stale geometry (same contract as the auto-IVF store). The
    * serve re-reads only the embedding table (for exact cosine scoring of
    * candidates) plus the bucket rows — no hyperplane math in the plan.
    */
  def stageEmbLsh(spark: SparkSession, dir: String, numBands: Int = 8,
                  targetBucket: Int = 16, dim: Int = 64): String =
    stageEmbLshGeom(spark, dir, numBands, targetBucket, dim)._1

  /** [[stageEmbLsh]] plus the geometry it keyed the store on — the serve
    * reuses (bits, probe) from here instead of re-counting the live
    * embeddings table (round-14 advice: a second count is wasted I/O, and
    * a table that drifts between staging and serving could disagree with
    * the stored band keys; the store fingerprint is the single source of
    * geometry truth).
    */
  private def stageEmbLshGeom(spark: SparkSession, dir: String, numBands: Int = 8,
                              targetBucket: Int = 16, dim: Int = 64): (String, Int, Int) = {
    val emb = Tables.embeddings(spark, dir)
    // geometry from lshGeometryFor (round 14): unchanged through the old
    // 16-bit clamp; past it the store keys on the PROBED bits — probe
    // itself is a serve-time policy over the same unprobed band rows,
    // but the bit width is part of the directory fingerprint
    val (bits, probe) = Dedup.lshGeometryFor(
      Tables.rowCount(spark, dir, "embeddings"), targetBucket)
    val base = Stores.stage(spark, dir, "vlsh", s"b${numBands}x${bits}_r1") { base =>
      Dedup.embLshBandTable(Similarity.withNorm(emb, "vec_id", "embedding"),
          "vec_id", numBands * bits, bits, dim)
        .write.mode("overwrite").parquet(s"$base/bands")
    }
    (base, bits, probe)
  }

  /** Embedding near-dup pairs at the corpus-sized geometry, served from
    * the staged bucket index: candidates from stored (vec_id, band, key)
    * rows, exact cosine scoring from the embedding table. Bit-for-bit
    * equal to the inline [[Dedup.embeddingLshPairsAuto]] (md5 hyperplanes
    * are deterministic), so it shares the inline oracle unchanged.
    */
  def embeddingLshAutoStaged(spark: SparkSession, dir: String,
                             threshold: Double = 0.4): DataFrame = {
    // the serve probes with exactly the geometry the build keyed the
    // store on — no second count of the live table (see stageEmbLshGeom)
    val (base, bits, probe) = stageEmbLshGeom(spark, dir)
    val bands = Tables.parquet(spark, s"$base/bands")
    // normalized vectors feed both scoring sides → persist
    val n = Similarity.withNorm(Tables.embeddings(spark, dir), "vec_id", "embedding").persist()
    Dedup.embLshScoreProbed(bands, n, "vec_id", threshold, bits, probe)
  }

  /** Staged BM25 postings index — retrieval as build-once/serve-many.
    * The full inverted index (term, doc_id, tf) is materialized once per
    * corpus revision, GLOBALLY RANGE-SORTED on the term so every parquet
    * row group carries tight term min/max stats: a query-term filter
    * prunes to the handful of row groups actually holding those
    * postings (the `In(term, ...)` predicate reaches the scan —
    * plan-audited). Alongside it: the per-doc length table and the
    * 1-row corpus stats (N, avgdl) the BM25 normalization needs.
    * Storage is corpus-scale (it IS the classic inverted index), but a
    * serve reads query-term postings + a 1-row stats frame — at 100 TB
    * that is the difference between a retrieval QUERY and a retrieval
    * JOB. Same md5-free exact arithmetic as the inline operator, so the
    * serve shares [[TextAnalysis.bm25TopKSqlFor]] unchanged.
    */
  def stageBm25(spark: SparkSession, dir: String): String =
    Stores.stage(spark, dir, "bm25", "ws_r1") { base =>
      val docs = Tables.documents(spark, dir)
      val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      toks.groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
        .repartitionByRange(col("term"))
        .sortWithinPartitions(col("term"))
        .write.mode("overwrite").parquet(s"$base/postings")
      docs.select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("dl"))
        .write.mode("overwrite").parquet(s"$base/doclen")
      docs.agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("sum_dl"))
        .select(col("n_docs"), (col("sum_dl").cast("double") / col("n_docs")).as("avgdl"))
        .write.mode("overwrite").parquet(s"$base/stats")
    }

  /** BM25 top-k served from the staged postings: the scan reads only the
    * query terms' row groups (term-sorted store + pushed `In` filter);
    * scoring and ranking are identical to the inline
    * [[TextAnalysis.bm25TopK]] (same oracle).
    */
  def bm25TopKStaged(spark: SparkSession, dir: String,
                     queryTerms: Seq[String], k: Int): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopKStaged: empty query-term workload")
    val base = stageBm25(spark, dir)
    TextAnalysis.bm25Rank(
      Tables.parquet(spark, s"$base/postings").filter(col("term").isin(queryTerms: _*)),
      Tables.parquet(spark, s"$base/doclen"),
      Tables.parquet(spark, s"$base/stats"),
      "doc_id", k)
  }

  /** The STATIC side of the streaming BM25 serve
    * ([[graft.streaming.StreamingOps.bm25TopKStream]]): scored
    * (term, doc_id, tfn, bm25) candidates off the staged postings store,
    * restricted to the expected query-term workload vocabulary — the
    * same store read, `In(term)` scan pruning, and score arithmetic as
    * the batch serve ([[bm25TopKStaged]] shares
    * [[TextAnalysis.bm25Scored]]), minus only the rank window, which the
    * stream applies per micro-batch in its stateful group.
    */
  def bm25ScoredStatic(spark: SparkSession, dir: String,
                       queryTerms: Seq[String]): DataFrame = {
    require(queryTerms.nonEmpty, "bm25ScoredStatic: empty query-term workload")
    val base = stageBm25(spark, dir)
    TextAnalysis.bm25Scored(
      Tables.parquet(spark, s"$base/postings").filter(col("term").isin(queryTerms: _*)),
      Tables.parquet(spark, s"$base/doclen"),
      Tables.parquet(spark, s"$base/stats"),
      "doc_id")
  }

  /** Staged BPE tokenizer — the frozen-artifact deployment shape: the
    * merge loop runs ONCE per (corpus revision, merge count) and the
    * resulting distinct-token segmentation (tok, n_syms — vocabulary-
    * sized, kilobytes) persists to the warehouse; every encode pass —
    * batch stats, the streaming encode twin, a training-data token
    * budget — then joins the store instead of re-running the trainer.
    * This is how tokenizers actually deploy: trained out-of-band,
    * shipped as an immutable artifact, revised only with the corpus.
    */
  def stageBpe(spark: SparkSession, dir: String, merges: Int = 4): String =
    Stores.stage(spark, dir, "bpe", s"m${merges}_r1") { base =>
      TextAnalysis.bpeSegmentation(Tables.documents(spark, dir), "text", merges)
        .write.mode("overwrite").parquet(s"$base/segmentation")
    }

  /** Per-doc encode stats served from the staged tokenizer — the
    * training loop exists only at staging time; the serve is one
    * explode + join + per-doc aggregate. Deterministic segmentation ⇒
    * shares the inline `bpe_encode_k4` oracle unchanged.
    */
  def bpeEncodeStaged(spark: SparkSession, dir: String, merges: Int = 4): DataFrame = {
    val base = stageBpe(spark, dir, merges)
    TextAnalysis.bpeEncodeStatsFromSeg(Tables.documents(spark, dir), "doc_id", "text",
      Tables.parquet(spark, s"$base/segmentation"))
  }

  def stageOnce(spark: SparkSession, dir: String): String =
    Stores.stage(spark, dir, "sig", s"h${NumHashes}b${RowsPerBand}_r1") { base =>
      val docs = Tables.documents(spark, dir)
      Dedup.minhashSignaturesFromText(docs, "doc_id", "text", NumHashes)
        .write.mode("overwrite").parquet(s"$base/minhash_sigs")
      // bands derive from the STORED signatures so the index is internally
      // consistent even if the signature lineage were ever to change
      val sigsStored = Tables.parquet(spark, s"$base/minhash_sigs")
      Dedup.minhashBands(sigsStored, "doc_id", NumHashes, RowsPerBand)
        .write.mode("overwrite").parquet(s"$base/band_index")
    }

  /** LSH candidate pairs served from the STORED band index — the
    * dedup_minhash serve that never touches document text: one equi-join
    * over (band, sig) rows already on disk. Bit-for-bit equal to the
    * inline [[Dedup.minhashLshPairs]] (same oracle).
    */
  def minhashPairsStaged(spark: SparkSession, dir: String,
                         sampleMod: Long = 1L): DataFrame = {
    require(sampleMod >= 1, "minhashPairsStaged: sampleMod must be >= 1")
    val base = stageOnce(spark, dir)
    val bands = Tables.parquet(spark, s"$base/band_index")
    // band rows are per-doc, so a doc-slice filter here equals the inline
    // operator's document filter (QA self-bounding); mod = 1 → no filter
    val sliced = if (sampleMod == 1) bands
      else bands.filter(pmod(xxhash64(col("doc_id")), lit(sampleMod)) === 0)
    Dedup.pairsFromBands(sliced, "doc_id")
  }

  /** Estimated-Jaccard scoring served ENTIRELY from the store: candidate
    * pairs from the stored band index, similarity as the agreeing-slot
    * fraction over the stored signature table. The production near-dup
    * report at 100 TB — text is never read (same oracle as the inline
    * dedup_minhash_est).
    */
  def estJaccardStaged(spark: SparkSession, dir: String): DataFrame = {
    val base = stageOnce(spark, dir)
    val mh = Tables.parquet(spark, s"$base/minhash_sigs")
    val pairs = pairsStaged(spark, dir)
    val a = mh.select(col("doc_id").as("doc_a") +:
      (1 to NumHashes).map(j => col(s"mh_$j").as(s"a_$j")): _*)
    val b = mh.select(col("doc_id").as("doc_b") +:
      (1 to NumHashes).map(j => col(s"mh_$j").as(s"b_$j")): _*)
    val agree = (1 to NumHashes)
      .map(j => when(col(s"a_$j") === col(s"b_$j"), 1).otherwise(0)).reduce(_ + _)
    pairs.join(a, Seq("doc_a")).join(b, Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), (agree.cast("double") / NumHashes).as("est_jacc"))
  }

  /** The staged CLUSTER MAP — the connected-
    * components decision itself as a store product. Round 14 measured the
    * gap this closes: the clusters/pipeline serves recomputed the full CC
    * per serve, and at sf100 that recomputation was the repo's only
    * super-linear entry (286 s/serve). A production pipeline materializes
    * cluster assignments once per corpus revision — exactly like the
    * signature/shingle/ANN stores — and every downstream consumer
    * (keep-best, reporting, repeated curation passes) JOINS the stored
    * (doc_id, cluster_id) map instead of re-running graph algorithms.
    * Geometry inherits the signature store's (the map is a pure function
    * of the band index), plus the CC suffix.
    *
    * Built once per (corpus dir, geometry): stored-band candidate pairs
    * (written as the `pairs` artifact) → connected components
    * (contraction + single-task union-find endgame) → one
    * (doc_id, cluster_id) row per document, singletons included. CC
    * reads the pairs back from the just-written parquet, so the band
    * self-join runs exactly once per revision.
    */
  def stageClusters(spark: SparkSession, dir: String): String =
    // r2: the raw banded pair list joined the store (round 16). The pair
    // generation (band self-join) was being re-run inside EVERY pair
    // consumer's serve — 8.2 s of the 32.2 s doc_pagerank_staged, 11.7 s
    // split_leakage_staged, 12.8 s est serve at sf100 — yet the cluster
    // build already computes exactly those pairs. Materializing them is
    // free at build time (they flow to CC through the same write) and
    // turns every consumer's candidate stage into a parquet read.
    Stores.stage(spark, dir, "clusters", s"h${NumHashes}b${RowsPerBand}cc_r3") { base =>
      minhashPairsStaged(spark, dir)
        .write.mode("overwrite").parquet(s"$base/pairs")
      val pairs = Tables.parquet(spark, s"$base/pairs")
      // r3: the PageRank routing tables join the store — (src, dst, deg)
      // and (src, deg) are pure functions of the pair list, and deriving
      // them per serve (union + degree agg + join over 2·|pairs| rows)
      // was the remaining graph-prep cost in doc_pagerank_staged
      val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
        .union(pairs.select(col("doc_b").as("src"), col("doc_a").as("dst")))
      val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("deg")).persist()
      deg.write.mode("overwrite").parquet(s"$base/deg")
      edges.join(deg, Seq("src"))
        .write.mode("overwrite").parquet(s"$base/edge_deg")
      deg.unpersist(blocking = false)
      Dedup.connectedComponents(Tables.documents(spark, dir),
          pairs, "doc_id")
        .write.mode("overwrite").parquet(s"$base/cluster_map")
    }

  /** The staged candidate pair list — a READ of the `pairs` artifact
    * (built once by [[stageClusters]]); the band self-join never runs in
    * a serve plan. md5-deterministic signatures make the stored pairs
    * bit-for-bit equal to the inline dedup_minhash, so the oracle is
    * shared unchanged — the same store-the-decision move as the cluster
    * map, one level earlier in the dedup chain.
    */
  def pairsStaged(spark: SparkSession, dir: String): DataFrame =
    Tables.parquet(spark, s"${stageClusters(spark, dir)}/pairs")

  /** Near-dup clustering off the store — a READ of the staged cluster
    * map (built once by [[stageClusters]]); no graph computation in the
    * serve plan at all. md5-deterministic signatures make the stored map
    * bit-for-bit equal to the inline dedup_clusters, so the oracle is
    * shared unchanged.
    */
  def dedupClustersStaged(spark: SparkSession, dir: String): DataFrame =
    Tables.parquet(spark, s"${stageClusters(spark, dir)}/cluster_map")

  /** Duplicate-graph PageRank off the store: the STORED routing tables
    * (`edge_deg` = (src, dst, deg), `deg` = (src, deg) — r3 artifacts,
    * pure functions of the pair list) feed the same integer fixed-point
    * rank rounds as the inline doc_pagerank. No graph prep in the serve
    * plan: no band self-join, no edge union, no degree aggregation —
    * the serve pays the rank rounds only.
    */
  def docPagerankStaged(spark: SparkSession, dir: String): DataFrame = {
    val base = stageClusters(spark, dir)
    // Both frames feed every rank round, UNPERSISTED deliberately: the
    // round-16 A/B at sf100 (38 M edges) measured direct per-round
    // parquet re-scans at 14.4-14.7 s vs 21.7-23.9 s persisted — the
    // cache build + InMemoryTableScan decode costs more than re-running
    // the columnar scan (OS-cached locally; on a cluster the re-reads
    // are storage-tier bytes, the standard iterative-reader trade).
    Dedup.pagerankOnEdgeDeg(
      Tables.parquet(spark, s"$base/edge_deg"),
      Tables.parquet(spark, s"$base/deg"),
      "doc_id", 5, 1000000L)
  }

  /** Split-leakage audit off the store: stored-band candidate pairs
    * joined against the hash-deterministic split assignment — the
    * quarantine list, with text read zero times.
    */
  def splitLeakageStaged(spark: SparkSession, dir: String): DataFrame =
    Curation.splitLeakageFromPairs(Tables.documents(spark, dir),
      pairsStaged(spark, dir), "doc_id")

  /** The full keep-best dedup DECISION off the store: the STAGED cluster
    * map joined against one pruned (doc_id, length(text)) column scan —
    * the end-to-end pipeline a curation pass applies, with both the
    * signature build AND the graph computation amortized into staging.
    */
  def dedupPipelineStaged(spark: SparkSession, dir: String): DataFrame =
    Dedup.keepBestOfClusters(Tables.documents(spark, dir),
      dedupClustersStaged(spark, dir), "doc_id", "text")

  /** Daily-ingest near-dup check off the store: the CORPUS side's
    * signatures and bands come from disk (filtered to the existing
    * slice); only the NEW batch's text is shingled and signed — exactly
    * what a live ingest pays per batch. md5 determinism makes the match
    * report bit-for-bit equal to the inline [[Dedup.dedupIncremental]]
    * (same oracle).
    */
  def dedupIncrementalStaged(spark: SparkSession, dir: String,
                             newPred: org.apache.spark.sql.Column =
                               pmod(col("doc_id"), lit(5L)) === 0L,
                             threshold: Double = 0.5): DataFrame = {
    val base = stageOnce(spark, dir)
    val batch = Tables.documents(spark, dir).filter(newPred)
    val mhB = Dedup.minhashSignaturesFromText(batch, "doc_id", "text", NumHashes)
      .persist()
    val bandsB = Dedup.minhashBands(mhB, "doc_id", NumHashes, RowsPerBand)
    val mhEx = Tables.parquet(spark, s"$base/minhash_sigs").filter(!newPred)
    val bandsEx = Tables.parquet(spark, s"$base/band_index").filter(!newPred)
    Dedup.incrementalMatches(mhB, bandsB, mhEx, bandsEx, "doc_id", threshold,
      NumHashes)
  }

  /** One micro-batch of the end-to-end ingest curation pipeline
    * (VERDICT r15 item 8) — the composition a production training-data
    * pipeline runs per arriving batch, all off the STAGED stores:
    *
    *   quality filter → near-dup gate vs the stored signature index →
    *   kept documents
    *
    * Returns the batch documents that survive both gates, with the
    * quality signals attached (the columns an audit trail keeps). The
    * batch side pays one shingle+sign pass over ITS OWN text only; the
    * corpus side is the storage-resident band index + signature table —
    * per-batch cost is independent of corpus size up to the static-side
    * scan (measured ~2.5×/store-decade, see BASELINE.md round-14 ingest
    * row). [[packIngestBatch]] adds the trainer-facing packing step.
    */
  def curateBatchAgainstStore(batch: DataFrame, corpusSigs: DataFrame,
                              corpusBands: DataFrame,
                              idCol: String = "doc_id",
                              textCol: String = "text",
                              threshold: Double = 0.5): DataFrame = {
    val quality = batch.join(
      TextAnalysis.qualityFilter(batch, idCol, textCol)
        .filter(col("keep")).select(col(idCol)),
      Seq(idCol), "left_semi")
    // sign ONLY the quality survivors — the near-dup gate is the
    // expensive stage, so it runs on the pre-filtered batch
    val mhB = Dedup.minhashSignaturesFromText(quality, idCol, textCol, NumHashes)
      .persist()
    val bandsB = Dedup.minhashBands(mhB, idCol, NumHashes, RowsPerBand)
    val matches = Dedup.incrementalMatches(
      mhB, bandsB, corpusSigs, corpusBands, idCol, threshold, NumHashes)
    quality.join(matches.select(col("doc_new").as(idCol)), Seq(idCol), "left_anti")
  }

  /** [[curateBatchAgainstStore]] + training-sequence packing: the full
    * ingest → dedup → quality → packed-sequences chain, one call per
    * micro-batch (see [[graft.PipelineDemo]] for the streaming session
    * that drives it via foreachBatch). Output is [[Curation.seqPacking]]'s
    * per-sequence fill report over the kept documents.
    */
  def packIngestBatch(spark: SparkSession, dir: String, batch: DataFrame,
                      idCol: String = "doc_id", textCol: String = "text",
                      threshold: Double = 0.5,
                      budget: Int = 256, nShards: Int = 4): DataFrame = {
    val base = stageOnce(spark, dir)
    val kept = curateBatchAgainstStore(
      batch,
      Tables.parquet(spark, s"$base/minhash_sigs"),
      Tables.parquet(spark, s"$base/band_index"),
      idCol, textCol, threshold)
    Curation.seqPacking(
      kept.withColumn("source", lit("ingest")),
      idCol, "source", textCol, budget, nShards)
  }

  /** Same oracles as the inline twins: the index contents are
    * md5-deterministic, so "hash in SQL, serve the store in Spark" must
    * produce identical bytes.
    */
  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "dedup_minhash_staged",
      (s, dir) => pairsStaged(s, dir),
      Some(Dedup.minhashSql)),
    QueryDef(
      "dedup_minhash_est_staged",
      (s, dir) => estJaccardStaged(s, dir),
      Some(Dedup.minhashEstJaccardSql)),
    QueryDef(
      "dedup_clusters_staged",
      (s, dir) => dedupClustersStaged(s, dir),
      Some(Dedup.dedupClustersSql)),
    QueryDef(
      "doc_pagerank_staged",
      (s, dir) => docPagerankStaged(s, dir),
      Some(Dedup.docPagerankSqlFor(5, 1000000L))),
    QueryDef(
      "split_leakage_staged",
      (s, dir) => splitLeakageStaged(s, dir),
      Some(Curation.splitLeakageSql)),
    QueryDef(
      "dedup_pipeline_staged",
      (s, dir) => dedupPipelineStaged(s, dir),
      Some(Dedup.dedupPipelineSql)),
    QueryDef(
      "dedup_incremental_staged",
      (s, dir) => dedupIncrementalStaged(s, dir),
      Some(Dedup.dedupIncrementalSql)),
    QueryDef(
      "dedup_ngram_staged",
      (s, dir) => ngramJaccardStaged(s, dir),
      Some(Dedup.ngramJaccardSql)),
    QueryDef(
      "dedup_containment_staged",
      (s, dir) => ngramContainmentStaged(s, dir),
      Some(Dedup.ngramContainmentSql)),
    QueryDef(
      "dedup_qa_report_staged",
      (s, dir) => dedupQaReportStaged(s, dir),
      Some(Dedup.dedupQaReportSql)),
    QueryDef(
      "dedup_ngram_staged_sampled",
      (s, dir) => ngramJaccardStagedSampled(s, dir),
      Some(Dedup.ngramJaccardSql)),
    QueryDef(
      "dedup_containment_staged_sampled",
      (s, dir) => ngramContainmentStagedSampled(s, dir),
      Some(Dedup.ngramContainmentSql)),
    QueryDef(
      "dedup_embedding_lsh_auto_staged",
      (s, dir) => embeddingLshAutoStaged(s, dir),
      Some(Dedup.embeddingLshAutoSql)),
    QueryDef(
      "bm25_topk_staged",
      (s, dir) => bm25TopKStaged(s, dir, TextAnalysis.Bm25Terms, 5),
      Some(TextAnalysis.bm25TopKSqlFor(TextAnalysis.Bm25Terms, 5))),
    QueryDef(
      "bpe_encode_k4_staged",
      (s, dir) => bpeEncodeStaged(s, dir, 4),
      Some(TextAnalysis.bpeEncodeStatsSqlFor(4))),
  )
}
