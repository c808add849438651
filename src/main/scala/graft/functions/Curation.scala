package graft.functions

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.{QueryDef, Tables}

/** Corpus-curation operators beyond the per-document text analysis in
  * [[TextAnalysis]]: per-source caps, training-sequence packing, and a
  * fixed-size Bloom contamination filter. These are the corpus-shaping
  * stages a pretraining pipeline runs after quality filtering and dedup,
  * each designed so the shuffled data volume is bounded by per-doc
  * scalars or a constant-size sketch — never document text.
  */
object Curation {

  /** Per-source document cap — the "domain cap" that stops any one
    * crawl/source from dominating the mixture: keep the top `k` documents
    * of each source ranked by length (longest first, doc_id tie-break).
    * In a web pipeline the rank key would be a quality score; n_chars is
    * the deterministic stand-in with the same plan shape.
    *
    * Scale shape — the mega-source guard: a single
    * `row_number().over(partitionBy(source))` sorts each source in ONE
    * task, so a pathological mega-source (a crawl dump holding half the
    * corpus) serializes the stage. Instead:
    *
    *   1. Pre-aggregate per-source counts (map-side-combined; one row per
    *      source, no text ever shuffles).
    *   2. Sources at or under the cap skip the top-k machinery entirely —
    *      every row survives by construction, and their rank window sorts
    *      partitions of ≤ k rows.
    *   3. Over-cap sources run a salted two-phase top-k: a local window
    *      over (source, id % shards) keeps each shard's top k, then the
    *      per-source window ranks the ≤ k·shards survivors. No task ever
    *      sorts more than max(n/shards, k·shards) rows regardless of how
    *      skewed the source distribution is.
    *
    * Output is identical to the naive single-window form (spec-asserted):
    * a row pruned by its shard's local top-k has ≥ k same-shard rows
    * ordering before it, so it cannot be in the source's global top k; and
    * every row ordering before a kept row is itself kept, so survivor
    * ranks equal full-corpus ranks.
    */
  def sourceCap(docs: DataFrame, idCol: String, sourceCol: String,
                lenCol: String, k: Int, shards: Int = 32): DataFrame = {
    val slim = docs.select(col(idCol), col(sourceCol), col(lenCol))
    val counts = slim.groupBy(col(sourceCol)).agg(count(lit(1)).as("src_cnt"))
    val tagged = slim.join(counts, Seq(sourceCol))
    val w = Window.partitionBy(col(sourceCol)).orderBy(col(lenCol).desc, col(idCol).asc)
    // under-cap: nothing to prune; window partitions are ≤ k rows
    val under = tagged.filter(col("src_cnt") <= k)
      .withColumn("rnk", row_number().over(w).cast("long"))
    // over-cap: shard-local top-k prunes before the per-source rank
    val wLocal = Window
      .partitionBy(col(sourceCol), pmod(col(idCol), lit(shards.toLong)))
      .orderBy(col(lenCol).desc, col(idCol).asc)
    val over = tagged.filter(col("src_cnt") > k)
      .withColumn("lrnk", row_number().over(wLocal))
      .filter(col("lrnk") <= k)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
    under.select(col(idCol), col(sourceCol), col("rnk"))
      .unionByName(over.select(col(idCol), col(sourceCol), col("rnk")))
  }

  val sourceCapSql: String =
    """WITH r AS (
      |  SELECT doc_id, source,
      |         row_number() OVER (PARTITION BY source ORDER BY n_chars DESC, doc_id ASC) AS rnk
      |  FROM documents)
      |SELECT doc_id, source, rnk FROM r WHERE rnk <= 20""".stripMargin

  /** Training-sequence packing: assign documents to fixed token-budget
    * training sequences (next-fit packing in deterministic doc_id order)
    * and report per-sequence fill — the step that turns a curated corpus
    * into the sequence stream a trainer consumes.
    *
    * Packing is sharded: documents pack within (source, doc_id % nShards)
    * groups, so the running-sum window partitions are bounded and the
    * whole operator is embarrassingly parallel across shards — the
    * sequential dependency inherent to packing never spans more than one
    * shard. At 100 TB you raise nShards with the corpus; sequence
    * boundaries only need to be consistent WITHIN a shard, so this loses
    * nothing. A document larger than the budget gets a sequence of its
    * own (next-fit semantics: the running sum just crosses more than one
    * budget boundary).
    *
    * All arithmetic is exact integers (token counts, running sums, and an
    * integer `div` — never `/`, which is DOUBLE division on longs), so
    * the oracle hash cannot drift.
    */
  def seqPacking(docs: DataFrame, idCol: String, sourceCol: String,
                 textCol: String, budget: Int, nShards: Int): DataFrame = {
    val toks = docs.select(
      col(idCol), col(sourceCol),
      pmod(col(idCol), lit(nShards.toLong)).as("shard"),
      size(split(col(textCol), " ")).cast("long").as("tok"))
    val w = Window.partitionBy(col(sourceCol), col("shard"))
      .orderBy(col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    toks.withColumn("running", sum(col("tok")).over(w))
      .withColumn("seq_id", expr(s"(running - tok) div $budget"))
      .groupBy(col(sourceCol), col("shard"), col("seq_id"))
      .agg(count(lit(1)).as("n_docs"), sum(col("tok")).as("seq_tokens"))
  }

  val seqPackingSql: String =
    """WITH toks AS (
      |  SELECT doc_id, source, doc_id % 4 AS shard,
      |         CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
      |  FROM documents),
      |run AS (
      |  SELECT source, shard, tok,
      |         CAST(sum(tok) OVER (PARTITION BY source, shard ORDER BY doc_id ASC
      |                             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running
      |  FROM toks)
      |SELECT source, shard, (running - tok) // 256 AS seq_id,
      |       count(*) AS n_docs, CAST(sum(tok) AS BIGINT) AS seq_tokens
      |FROM run GROUP BY 1, 2, 3""".stripMargin

  /** Context-window chunking: split each document into fixed-size token
    * windows with `overlap` tokens of left context — the step between a
    * curated corpus and [[seqPacking]] when documents exceed the training
    * context (a 50 k-token document must become ~50 k/stride training
    * rows, not one truncated row). Emits one row per chunk with its token
    * count and an md5 digest of the chunk text, so the oracle pins the
    * exact chunk CONTENT, not just the counts.
    *
    * Scale shape: a pure per-row 1→N expansion (explode of an in-row
    * sequence) — no shuffle at all; chunk geometry is data-independent so
    * the expansion factor is bounded by doc length / stride.
    */
  def docChunks(docs: DataFrame, idCol: String, textCol: String,
                chunkTokens: Int, overlap: Int): DataFrame = {
    require(overlap >= 0 && overlap < chunkTokens, "need 0 <= overlap < chunkTokens")
    val stride = chunkTokens - overlap
    val toks = split(col(textCol), " ")
    docs
      .select(col(idCol), toks.as("toks"), size(toks).as("n"))
      .select(col(idCol), col("toks"),
        posexplode(sequence(lit(0), greatest(col("n") - 1, lit(0)), lit(stride)))
          .as(Seq("chunk_idx", "start")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        slice(col("toks"), col("start") + lit(1), lit(chunkTokens)).as("chunk"))
      .select(col(idCol), col("chunk_idx"),
        size(col("chunk")).cast("long").as("n_chunk_tokens"),
        md5(array_join(col("chunk"), " ").cast("binary")).as("chunk_digest"))
  }

  def docChunksSqlFor(chunkTokens: Int, overlap: Int): String = {
    val stride = chunkTokens - overlap
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks,
       |         len(string_split(text, ' ')) AS n
       |  FROM documents),
       |c AS (
       |  SELECT doc_id,
       |         unnest(generate_series(0, CAST(greatest(n - 1, 0) AS BIGINT), $stride)) AS start,
       |         unnest(generate_series(0, CAST(greatest(n - 1, 0) AS BIGINT) // $stride)) AS chunk_idx,
       |         toks
       |  FROM t)
       |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
       |       CAST(len(list_slice(toks, CAST(start + 1 AS INT), CAST(start + $chunkTokens AS INT))) AS BIGINT) AS n_chunk_tokens,
       |       md5(array_to_string(list_slice(toks, CAST(start + 1 AS INT), CAST(start + $chunkTokens AS INT)), ' ')) AS chunk_digest
       |FROM c""".stripMargin
  }

  /** Cross-corpus repeated-span removal — the C4/RefinedWeb "boilerplate
    * span" pass: tile each document into consecutive `spanTokens`-token
    * spans, count how many DISTINCT documents contain each span verbatim,
    * drop every span occurring in more than `maxDf` documents, and
    * reassemble what remains in original order. Catches shared
    * headers/footers/licence blocks that whole-document dedup and
    * near-dup Jaccard both miss (a 5%-of-the-doc boilerplate block moves
    * Jaccard by ~5%, far under any dedup threshold). Emits per document
    * the surviving token count, the dropped-span count, and an md5 digest
    * of the cleaned text, so the oracle pins the exact reassembly.
    *
    * Scale shape: span tiling is a narrow 1→N explode (no shuffle); the
    * document-frequency count shuffles one md5 PER DISTINCT (doc, span) —
    * never text — with map-side combine; the frequent-span set (df >
    * maxDf) is the only frame joined back, and boilerplate is by nature a
    * vanishing fraction of distinct spans, so that join side stays small
    * (broadcast under threshold, SMJ beyond — un-hinted, AQE decides).
    * Reassembly groups each doc's own spans: one shuffle keyed by doc_id
    * carrying span text once.
    */
  def spanDedup(docs: DataFrame, idCol: String, textCol: String,
                spanTokens: Int, maxDf: Int): DataFrame = {
    require(spanTokens >= 1 && maxDf >= 1, "need spanTokens >= 1 and maxDf >= 1")
    // r20 rewrite (VERDICT r19 item 3): the posexplode-over-sequence
    // shape carried the document's FULL token array through the Generate
    // so each generated row could slice its own span — the r18 quantize
    // heavy-expression-above-Generate shape in array-copy form (53.4 s
    // at sf100). [[VectorExpressions.spanTiles]] tiles the text in ONE
    // compiled walk below the Generate (element i = span_idx i, so
    // posexplode's pos IS the old span_idx), and each generated row is
    // just its own small struct.
    // NOT persisted (r20): caching the span rows materialized ~(docs ×
    // spans) rows WITH span text — a cache write+read of the whole
    // tiled corpus — to save a recompute that is now one cheap compiled
    // walk. Recomputing lets the df-count consumer COLUMN-PRUNE to
    // (doc_id, h) (its subtree never materializes span text at all);
    // only the reassembly join carries text, once.
    val spans = docs
      .select(col(idCol),
        posexplode(VectorExpressions.spanTiles(col(textCol), spanTokens))
          .as(Seq("span_idx", "tile")))
      .select(col(idCol), col("span_idx"),
        col("tile.span").as("span"), col("tile.ntok").as("ntok"))
      .withColumn("h", md5(col("span")))
    val frequent = spans.groupBy(col("h"))
      .agg(countDistinct(col(idCol)).as("df"))
      .filter(col("df") > maxDf)
      .select(col("h"), lit(true).as("frequent"))
    spans.join(frequent, Seq("h"), "left")
      .groupBy(col(idCol))
      .agg(
        coalesce(sum(when(col("frequent").isNull, col("ntok").cast("long"))), lit(0L))
          .as("n_kept_tokens"),
        count(when(col("frequent"), lit(1))).as("n_dropped_spans"),
        md5(array_join(
          transform(
            array_sort(collect_list(when(col("frequent").isNull,
              struct(col("span_idx"), col("span"))))),
            x => x("span")),
          " ")).as("clean_digest"))
  }

  def spanDedupSqlFor(spanTokens: Int, maxDf: Int): String =
    s"""WITH t AS (
       |  SELECT doc_id, string_split(text, ' ') AS toks,
       |         len(string_split(text, ' ')) AS n
       |  FROM documents),
       |s AS (
       |  SELECT doc_id,
       |         unnest(generate_series(0, CAST(greatest(n - 1, 0) AS BIGINT) // $spanTokens, 1)) AS span_idx,
       |         unnest(generate_series(0, CAST(greatest(n - 1, 0) AS BIGINT), $spanTokens)) AS start,
       |         toks
       |  FROM t),
       |sp AS (
       |  SELECT doc_id, span_idx,
       |         array_to_string(list_slice(toks, CAST(start + 1 AS INT), CAST(start + $spanTokens AS INT)), ' ') AS span,
       |         len(list_slice(toks, CAST(start + 1 AS INT), CAST(start + $spanTokens AS INT))) AS ntok
       |  FROM s),
       |freq AS (
       |  SELECT md5(span) AS h FROM sp GROUP BY 1
       |  HAVING count(DISTINCT doc_id) > $maxDf)
       |SELECT sp.doc_id,
       |       CAST(coalesce(sum(ntok) FILTER (WHERE freq.h IS NULL), 0) AS BIGINT) AS n_kept_tokens,
       |       CAST(count(*) FILTER (WHERE freq.h IS NOT NULL) AS BIGINT) AS n_dropped_spans,
       |       md5(coalesce(string_agg(span, ' ' ORDER BY span_idx) FILTER (WHERE freq.h IS NULL), '')) AS clean_digest
       |FROM sp LEFT JOIN freq ON md5(sp.span) = freq.h
       |GROUP BY 1""".stripMargin

  /** Temperature-flattened source mixture (α = 0.5): keep per source the
    * `perSqrt · isqrt(count)` documents with the smallest md5(doc_id) —
    * sqrt scaling is the standard way to stop head sources from drowning
    * tail domains while still weighting by size (a 10 000× larger source
    * contributes 100×, not 10 000×). Deterministic: the kept set is a pure
    * function of doc ids, and integer-only quota arithmetic
    * (floor(sqrt(n)) is exact for counts < 2^52) means the oracle cannot
    * drift by a ulp.
    *
    * Scale shape: the same mega-source guard as [[sourceCap]] — per-source
    * counts pre-aggregate map-side; under-quota sources skip pruning
    * entirely; over-quota sources run the salted two-phase smallest-k so
    * no task ever sorts a whole mega source.
    */
  def mixtureSqrtSample(docs: DataFrame, idCol: String, sourceCol: String,
                        perSqrt: Int, shards: Int = 32): DataFrame = {
    val slim = docs.select(col(idCol), col(sourceCol),
      md5(col(idCol).cast("string")).as("pick"))
    val quota = slim.groupBy(col(sourceCol)).agg(count(lit(1)).as("src_cnt"))
      .select(col(sourceCol), col("src_cnt"),
        least(col("src_cnt"), lit(perSqrt.toLong) * floor(sqrt(col("src_cnt").cast("double"))).cast("long"))
          .as("quota"))
    val tagged = slim.join(quota, Seq(sourceCol))
    val w = Window.partitionBy(col(sourceCol)).orderBy(col("pick").asc)
    val under = tagged.filter(col("src_cnt") <= col("quota"))
      .select(col(idCol), col(sourceCol))
    val wLocal = Window
      .partitionBy(col(sourceCol), pmod(col(idCol), lit(shards.toLong)))
      .orderBy(col("pick").asc)
    val over = tagged.filter(col("src_cnt") > col("quota"))
      .withColumn("lrnk", row_number().over(wLocal))
      .filter(col("lrnk") <= col("quota"))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= col("quota"))
      .select(col(idCol), col(sourceCol))
    under.unionByName(over)
  }

  val mixtureSqrtSampleSql: String =
    """WITH q AS (
      |  SELECT source, count(*) AS src_cnt,
      |         least(count(*), 4 * CAST(floor(sqrt(count(*))) AS BIGINT)) AS quota
      |  FROM documents GROUP BY 1),
      |r AS (
      |  SELECT d.doc_id, d.source, q.quota,
      |         row_number() OVER (PARTITION BY d.source
      |                            ORDER BY md5(CAST(d.doc_id AS VARCHAR)) ASC) AS rnk
      |  FROM documents d JOIN q USING (source))
      |SELECT doc_id, source FROM r WHERE rnk <= quota""".stripMargin

  /** Deterministic corpus shuffle + shard assignment — the step that turns
    * a curated corpus into the randomized shard files a trainer streams:
    * shard = 16 md5 bits of the doc id mod `nShards`, position within the
    * shard = rank of the full md5 hash. Reproducible end to end (pure
    * function of doc ids), and an arbitrary subset of shards can be
    * re-materialized without touching the rest.
    *
    * Scale shape: NO global sort — the hash IS the shuffle. Shard
    * assignment is a map-side expression; within-shard ordering is a
    * per-shard window whose partitions are corpus/nShards by the hash's
    * uniformity (raise nShards with the corpus). A global total order
    * would serialize on one task; per-shard order is what a trainer
    * actually consumes (shards are read independently).
    */
  def corpusShuffle(docs: DataFrame, idCol: String, nShards: Int): DataFrame = {
    val h = md5(col(idCol).cast("string"))
    val shard = pmod(conv(substring(h, 1, 4), 16, 10).cast("long"), lit(nShards.toLong))
    val w = Window.partitionBy(col("shard")).orderBy(col("h").asc)
    docs.select(col(idCol), h.as("h"), shard.as("shard"))
      .withColumn("pos_in_shard", row_number().over(w).cast("long") - 1L)
      .select(col(idCol), col("shard"), col("pos_in_shard"))
  }

  def corpusShuffleSqlFor(nShards: Int): String = {
    // value of the lowercase hex digit at 1-based position o of md5 hash h
    def hv(o: Int) =
      s"(CASE WHEN ascii(substr(h, $o, 1)) >= 97 THEN ascii(substr(h, $o, 1)) - 87 ELSE ascii(substr(h, $o, 1)) - 48 END)"
    val hex16 = (1 to 4).map(o => s"${hv(o)} * ${1L << (4 * (4 - o))}").mkString(" + ")
    s"""WITH h AS (SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
       |s AS (SELECT doc_id, h, CAST(($hex16) % $nShards AS BIGINT) AS shard FROM h)
       |SELECT doc_id, shard,
       |       CAST(row_number() OVER (PARTITION BY shard ORDER BY h ASC) - 1 AS BIGINT) AS pos_in_shard
       |FROM s""".stripMargin
  }

  /** Budget-calibrated quality filtering — "keep the BEST documents that
    * fit a token budget", the step that turns a quality score into an
    * actual corpus cut. No global sort: the threshold comes from a
    * 1001-bucket integer histogram of quantized scores (two passes over
    * per-doc scalars, map-side combined), full buckets above the
    * threshold pass with NO sort at all, and only the single boundary
    * bucket runs a rank window to fill the remaining budget in doc-id
    * order — the distributed weighted-quantile pattern that replaces
    * "ORDER BY quality DESC LIMIT-until-budget" at corpus scale.
    *
    * Quality here is the stopword ratio from [[TextAnalysis.qualityScore]]
    * (higher = more natural text), quantized to floor(1000·ratio) so the
    * histogram and every comparison are exact integers. Deterministic end
    * to end; whole documents only, prefix rule within the boundary
    * bucket: docs are taken in id order while the running total fits —
    * the first doc that would cross the budget ends the kept prefix.
    */
  def qualityTokenBudget(docs: DataFrame, idCol: String, textCol: String,
                         budget: Long): DataFrame = {
    val perDoc = TextAnalysis.qualityScore(docs, idCol, textCol)
      .select(col(idCol),
        floor(col("stop_ratio") * 1000.0).cast("long").as("q"),
        col("n_tokens").as("tok"))
    // pass 1: token mass per quality bucket (≤ 1001 rows)
    val hist = perDoc.groupBy(col("q")).agg(sum(col("tok")).as("btok"))
    // tokens in strictly-better buckets; the window runs over ≤ 1001 rows
    val wDesc = Window.orderBy(col("q").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val classed = hist
      .withColumn("above", coalesce(sum(col("btok")).over(wDesc), lit(0L)))
      .withColumn("cls",
        when(col("above") + col("btok") <= budget, lit("full"))
          .when(col("above") < budget, lit("boundary"))
          .otherwise(lit("drop")))
    val tagged = perDoc.join(classed.select(col("q"), col("cls"), col("above")), Seq("q"))
    val full = tagged.filter(col("cls") === "full")
      .select(col(idCol), col("q"), col("tok"))
    // boundary: fill the remaining budget in doc_id order — the sort
    // touches ONE bucket's docs, not the corpus
    val wBucket = Window.partitionBy(col("q")).orderBy(col(idCol).asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val boundary = tagged.filter(col("cls") === "boundary")
      .withColumn("running", sum(col("tok")).over(wBucket))
      .filter(col("above") + col("running") <= budget)
      .select(col(idCol), col("q"), col("tok"))
    full.unionByName(boundary)
  }

  def qualityTokenBudgetSqlFor(budget: Long): String = {
    val stops = TextAnalysis.langMarkers.head._2.map(m => s"'$m'").mkString(", ")
    s"""WITH perdoc AS (
       |  SELECT doc_id,
       |         CAST(floor(1000.0 * (CAST(len(list_filter(string_split(text, ' '), t -> t IN ($stops))) AS DOUBLE)
       |                              / len(string_split(text, ' ')))) AS BIGINT) AS q,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
       |  FROM documents),
       |hist AS (SELECT q, CAST(sum(tok) AS BIGINT) AS btok FROM perdoc GROUP BY 1),
       |classed AS (
       |  SELECT q, btok,
       |         CAST(coalesce(sum(btok) OVER (ORDER BY q DESC
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS above,
       |         CASE WHEN coalesce(sum(btok) OVER (ORDER BY q DESC
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) + btok <= $budget THEN 'full'
       |              WHEN coalesce(sum(btok) OVER (ORDER BY q DESC
       |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) < $budget THEN 'boundary'
       |              ELSE 'drop' END AS cls
       |  FROM hist),
       |tagged AS (SELECT p.doc_id, p.q, p.tok, c.cls, c.above
       |           FROM perdoc p JOIN classed c USING (q))
       |SELECT doc_id, q, tok FROM tagged WHERE cls = 'full'
       |UNION ALL
       |SELECT doc_id, q, tok FROM (
       |  SELECT doc_id, q, tok, above,
       |         CAST(sum(tok) OVER (PARTITION BY q ORDER BY doc_id ASC
       |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS running
       |  FROM tagged WHERE cls = 'boundary')
       |WHERE above + running <= $budget""".stripMargin
  }

  // Bloom geometry: m bits addressed by k 12-bit md5-slice hashes.
  // 3 hex chars = 12 bits = exactly the 4096-bit address space, so the
  // position math is a pure hex decode with no modulo bias.
  val BloomBits = 4096
  val BloomHashes = 3

  /** 12-bit Bloom position from 3 hex chars of md5 column `d` at 1-based
    * `off` — the oracle-side (and pre-r19 Spark-side) hex-decode
    * arithmetic; [[BloomHash]] computes the identical positions from the
    * digest bytes. ascii() CASE arithmetic is engine-portable where
    * hex→int casts are not.
    */
  private def bloomPosSql(off: Int): String = {
    def hv(o: Int) =
      s"(CASE WHEN ascii(substr(d, $o, 1)) >= 97 THEN ascii(substr(d, $o, 1)) - 87 ELSE ascii(substr(d, $o, 1)) - 48 END)"
    s"(${hv(off)} * 256 + ${hv(off + 1)} * 16 + ${hv(off + 2)})"
  }

  /** Benchmark-contamination check through a fixed-size Bloom filter: a
    * document's shingle is flagged when ALL `BloomHashes` of its Bloom
    * positions are set by some benchmark shingle; the output counts
    * flagged shingles per document. Approximate in the Bloom direction
    * only — never misses a real overlap, and the false-positive side is
    * deterministic (md5-derived positions), so the DuckDB oracle
    * reproduces the identical counts: an exact hash check of an
    * approximate filter.
    *
    * This is the scale story [[TextAnalysis.contaminationCheck]] lacks:
    * the exact check joins against the benchmark's full distinct-shingle
    * set, which grows with the benchmark suite, while the Bloom side
    * collapses to at most [[BloomBits]] distinct bit positions NO MATTER
    * HOW LARGE the benchmark is — a constant-size broadcast, probed
    * map-side. At 100 TB the corpus side stays one shingle pass and one
    * map-side-combined per-doc count; nothing about the benchmark ever
    * shuffles. Size `BloomBits` to the benchmark's distinct-shingle count
    * (bits ≈ 10× shingles for ~1% FP at k=3); 4096 matches the test
    * fixture's ~1k benchmark shingles.
    *
    * Physical shape (round-19 rewrite): NO row multiplication anywhere.
    * The build side packs each benchmark document's probe positions into
    * a `BloomBits/64`-long bitset in ONE compiled pass over its text
    * ([[BloomDocBits]]), bit-ORs those per-doc bitsets into the corpus
    * bitset (one `words`-way aggregate over one row per benchmark doc),
    * and broadcasts the single packed row. Each candidate DOCUMENT then
    * computes its distinct-flagged-digest count in ONE compiled pass
    * ([[BloomFlagCount]]: walk the shingles, md5 each in place, 3 bit
    * loads per shingle, lazy HashSet only for the rare flagged digest) —
    * one output row per document, zero shuffles beyond the two scans.
    * The composable formulation (explode shingle rows → explode 3
    * position rows each → join the position frame → two hash aggregates)
    * computes the same thing but pays ~2.5 B generated rows at sf100:
    * 214.4 s, and an intermediate rewrite that kept the shingle explode
    * while compiling only the 3-probe membership still paid the
    * generate/shuffle plumbing (256 s — the row multiplication, not the
    * probe arithmetic, is the cost). Bit-parity: shingle slicing,
    * probe positions (hex-nibble arithmetic over the same md5), the
    * all-k conjunction, the distinct-(doc, digest) grain, and the
    * inner-count semantics (docs with zero flagged shingles are absent;
    * `> 0` filter == groupBy on flagged survivors) are each pinned in
    * the expressions' scaladoc and CurationSpec's composition-parity
    * test, so the DuckDB oracle is byte-identical.
    */
  /** The corpus Bloom bitset over the benchmark slice's shingles, as ONE
    * row (`bloom_words: array<long>`, `BloomBits/64` words): per-doc
    * packed bitsets ([[BloomDocBits]]) bit-OR'd wordwise. Used by
    * [[contaminationBloom]] (whose 4096-bit geometry is the oracle
    * contract); [[TextAnalysis.contaminationCheck]] stopped sharing it in
    * r21 — its internal prefilter is the exact ShingleSet / wide-Bloom
    * family. Callers broadcast the row.
    */
  private[functions] def corpusBloomRow(docs: DataFrame, benchPred: Column, textCol: String,
                                        width: Int, stride: Int): DataFrame = {
    val words = BloomBits / 64
    docs.filter(benchPred)
      .select(VectorExpressions.bloomDocBits(col(textCol), width, stride, BloomHashes, words).as("w"))
      .agg(array((0 until words).map { i =>
        coalesce(expr(s"bit_or(element_at(w, ${i + 1}))"), lit(0L))
      }: _*).as("bloom_words"))
  }

  def contaminationBloom(docs: DataFrame, idCol: String, textCol: String,
                         benchPred: Column, width: Int = 8, stride: Int = 4): DataFrame = {
    docs.filter(!benchPred)
      .crossJoin(broadcast(corpusBloomRow(docs, benchPred, textCol, width, stride)))
      .select(col(idCol),
        VectorExpressions.bloomFlagCount(col(textCol), col("bloom_words"), width, stride, BloomHashes)
          .as("n_flagged"))
      .filter(col("n_flagged") > 0)
  }

  val contaminationBloomSql: String = {
    val posList = (0 until BloomHashes).map(i => bloomPosSql(1 + 3 * i)).mkString(", ")
    s"""WITH bsh AS (SELECT DISTINCT substr(text, CAST(i AS INT), 8) AS sh
       |             FROM (SELECT text, unnest(generate_series(1, CAST(length(text)-7 AS BIGINT), 4)) AS i
       |                   FROM documents WHERE source = 'src0' AND length(text) >= 8)),
       |bloom AS (SELECT DISTINCT pos FROM (
       |            SELECT unnest([$posList]) AS pos
       |            FROM (SELECT md5(sh) AS d FROM bsh))),
       |csh AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 8) AS sh
       |        FROM (SELECT doc_id, text, unnest(generate_series(1, CAST(length(text)-7 AS BIGINT), 4)) AS i
       |              FROM documents WHERE source <> 'src0' AND length(text) >= 8)),
       |cpos AS (SELECT doc_id, d, unnest([$posList]) AS pos
       |         FROM (SELECT doc_id, md5(sh) AS d FROM csh)),
       |hits AS (SELECT doc_id, d FROM cpos JOIN bloom USING (pos)
       |         GROUP BY doc_id, d HAVING count(*) = ${BloomHashes})
       |SELECT doc_id, count(*) AS n_flagged FROM hits GROUP BY 1""".stripMargin
  }

  /** Curriculum ordering — the deterministic training schedule a data
    * pipeline emits after curation: within each source, documents rank
    * by a quality proxy (best first, id tie-break); across sources the
    * schedule interleaves round-robin by PURE POSITION ARITHMETIC
    * (`pos = rank_in_source · n_sources + source_index`) — no global
    * sort, no global window, nothing sequential anywhere. `pos` is an
    * ordinal (sparse once short sources exhaust); consumers sort by it,
    * which Spark range-partitions — the one global order operation left
    * is a sort, which distributes, rather than a rank, which does not.
    *
    * The per-source rank itself avoids the mega-source window trap (one
    * task sorting half the corpus — see [[sourceCap]]): quality
    * bucketing makes exact ranks task-bounded. Bucket b = floor(q / w)
    * is monotone in q, so ordering by (bucket desc, q desc, id) equals
    * ordering by (q desc, id); rank = prefix-count of better buckets
    * (a window over the tiny (source, bucket) count table) + row_number
    * within (source, bucket) — no task ever sorts more than one
    * bucket's rows. Output is bit-identical to the naive single-window
    * rank (spec-asserted); the oracle uses the naive form.
    */
  def curriculumOrder(docs: DataFrame, idCol: String, sourceCol: String,
                      qualityCol: String, bucketWidth: Int = 64): DataFrame = {
    val b = floor(col(qualityCol) / lit(bucketWidth)).as("b")
    val bucketed = docs.select(col(idCol), col(sourceCol), col(qualityCol), b)
    // (source, bucket) histogram — |sources|·|buckets| rows, never text
    val cnts = bucketed.groupBy(col(sourceCol), col("b")).agg(count(lit(1)).as("c"))
    val wPrefix = Window.partitionBy(col(sourceCol)).orderBy(col("b").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val prefix = cnts.withColumn("pfx", coalesce(sum(col("c")).over(wPrefix), lit(0L)))
      .select(col(sourceCol), col("b"), col("pfx"))
    val wLocal = Window.partitionBy(col(sourceCol), col("b"))
      .orderBy(col(qualityCol).desc, col(idCol).asc)
    val ranked = bucketed
      .withColumn("lr", row_number().over(wLocal).cast("long") - 1)
      .join(prefix, Seq(sourceCol, "b"))
      .select(col(idCol), col(sourceCol), (col("pfx") + col("lr")).as("rank_in_source"))
    val srcIdx = docs.select(col(sourceCol)).distinct()
      .withColumn("si", row_number().over(Window.orderBy(col(sourceCol))).cast("long") - 1)
    val nSrc = srcIdx.agg(count(lit(1)).as("n_src"))
    ranked.join(broadcast(srcIdx), Seq(sourceCol))
      .crossJoin(broadcast(nSrc))
      .select(col(idCol), col(sourceCol), col("rank_in_source"),
        (col("rank_in_source") * col("n_src") + col("si")).as("pos"))
  }

  /** DuckDB twin of [[curriculumOrder]]: the naive per-source window
    * rank (tiny data — the bucketed guard exists for Spark task bounds,
    * not semantics) plus the same position arithmetic.
    */
  val curriculumOrderSql: String =
    """WITH r AS (
      |  SELECT doc_id, source,
      |         CAST(row_number() OVER (PARTITION BY source
      |           ORDER BY n_chars DESC, doc_id ASC) - 1 AS BIGINT) AS rank_in_source
      |  FROM documents),
      |si AS (SELECT source, CAST(row_number() OVER (ORDER BY source) - 1 AS BIGINT) AS si
      |       FROM (SELECT DISTINCT source FROM documents)),
      |n AS (SELECT CAST(count(*) AS BIGINT) AS n_src FROM si)
      |SELECT r.doc_id, r.source, r.rank_in_source,
      |       r.rank_in_source * n.n_src + si.si AS pos
      |FROM r JOIN si USING (source) CROSS JOIN n""".stripMargin

  /** Train/val/test leakage audit — the split-hygiene check every
    * training pipeline must run AFTER near-dedup: a near-duplicate pair
    * straddling two splits silently leaks evaluation data into training
    * (the model is "tested" on paraphrases of what it memorized).
    * Candidates come from the production MinHash-LSH band index
    * ([[Dedup.minhashLshPairs]]), split assignment from the
    * hash-deterministic [[TextAnalysis.dataSplit]]; output is exactly the
    * offending cross-split pairs — the quarantine list.
    *
    * Scale shape: both inputs are already-scaling primitives (banded
    * equi-join candidates; a per-row hash map); the audit adds two
    * id-equi-joins of the pair list against a (id, split) frame — no new
    * shuffle family, no text movement. Runs at full corpus scale
    * whenever the dedup pass itself does.
    */
  def splitLeakage(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    splitLeakageFromPairs(docs, Dedup.minhashLshPairs(docs, idCol, textCol), idCol)

  /** The audit joins over an EXPLICIT candidate-pair frame — shared by
    * the inline path above and the staged signature store's serve
    * ([[SigIndex]] `split_leakage_staged`), where the pairs come off
    * disk and no text is read at all.
    */
  def splitLeakageFromPairs(docs: DataFrame, pairs: DataFrame, idCol: String): DataFrame = {
    val splits = TextAnalysis.dataSplit(docs, idCol)
    val sa = splits.select(col(idCol).as("doc_a"), col("split").as("split_a"))
    val sb = splits.select(col(idCol).as("doc_b"), col("split").as("split_b"))
    pairs.join(sa, Seq("doc_a")).join(sb, Seq("doc_b"))
      .filter(col("split_a") =!= col("split_b"))
      .select(col("doc_a"), col("doc_b"), col("split_a"), col("split_b"))
  }

  /** DuckDB twin of [[splitLeakage]]: the minhash pair query as a
    * derived table, joined twice against the split CASE expression.
    */
  val splitLeakageSql: String =
    s"""WITH pairs AS (SELECT * FROM (${Dedup.minhashSql}) mp),
       |sp AS (${TextAnalysis.dataSplitSql})
       |SELECT p.doc_a, p.doc_b, a.split AS split_a, b.split AS split_b
       |FROM pairs p
       |  JOIN sp a ON a.doc_id = p.doc_a
       |  JOIN sp b ON b.doc_id = p.doc_b
       |WHERE a.split <> b.split""".stripMargin

  /** Packing-efficiency report — the QA twin of [[seqPacking]]: one row
    * summarizing how well the next-fit packer used the token budget.
    * Next-fit semantics make two defect classes possible — OVERFLOW
    * sequences (a document that starts inside a bin lands wholly in it,
    * so a bin can exceed the budget) and UNDERFULL sequences
    * (seq_tokens < budget). Underfull bins arise BOTH at each
    * (source, shard) chain's tail AND mid-chain: under the
    * (running − tok) div budget assignment, the bin right after an
    * overflow spill starts part-way through the budget window and can
    * close short, so n_underfull routinely exceeds the number of
    * chains. The report counts both defect classes, plus the
    * integer mean fill ratio total_tokens·1000 div (n_seqs·budget),
    * which reads >1000 when overflow dominates. The number a pipeline
    * watches to pick budget vs chunking ([[docChunks]]) trade-offs.
    *
    * Scale shape: an aggregate over the packer's (source, shard, seq)
    * output — |sequences| rows, never documents.
    */
  def packingStats(docs: DataFrame, idCol: String, sourceCol: String,
                   textCol: String, budget: Int, nShards: Int): DataFrame =
    seqPacking(docs, idCol, sourceCol, textCol, budget, nShards)
      .agg(
        count(lit(1)).as("n_seqs"),
        sum(col("n_docs")).cast("long").as("n_docs"),
        sum(col("seq_tokens")).cast("long").as("total_tokens"),
        sum(when(col("seq_tokens") > budget, 1L).otherwise(0L)).cast("long").as("n_overflow"),
        sum(when(col("seq_tokens") < budget, 1L).otherwise(0L)).cast("long").as("n_underfull"),
        max(col("seq_tokens")).as("max_seq_tokens"))
      .withColumn("fill_x1000",
        when(col("n_seqs") === 0, lit(null).cast("long"))
          .otherwise(expr(s"total_tokens * 1000 div (n_seqs * $budget)")))

  val packingStatsSql: String =
    s"""WITH packed AS ($seqPackingSql)
       |SELECT CAST(count(*) AS BIGINT) AS n_seqs,
       |       CAST(sum(n_docs) AS BIGINT) AS n_docs,
       |       CAST(sum(seq_tokens) AS BIGINT) AS total_tokens,
       |       CAST(sum(CASE WHEN seq_tokens > 256 THEN 1 ELSE 0 END) AS BIGINT) AS n_overflow,
       |       CAST(sum(CASE WHEN seq_tokens < 256 THEN 1 ELSE 0 END) AS BIGINT) AS n_underfull,
       |       max(seq_tokens) AS max_seq_tokens,
       |       CASE WHEN count(*) = 0 THEN NULL
       |            ELSE CAST((sum(seq_tokens) * 1000) // (count(*) * 256) AS BIGINT)
       |       END AS fill_x1000
       |FROM packed""".stripMargin

  /** Quality survival curve — the inverse view of [[qualityTokenBudget]]:
    * for each candidate quality threshold (stop-ratio millis 0, 100, ...
    * 900), how many documents and how many tokens survive a `q >= thr`
    * cut. The curve a pipeline inspects BEFORE picking the cut: the
    * token column converts each threshold directly into a training
    * budget, and the knee of the curve is where quality buys stop
    * costing data. Same integer q bucketing as the budget operator, so
    * the two views can never disagree.
    *
    * Scale shape: one map-side-combined pass builds the ≤1001-bucket
    * integer histogram; the threshold sweep is a ≤1001×10 theta-join on
    * two broadcast-size frames — corpus size never touches the sweep.
    */
  def qualitySurvival(docs: DataFrame, textCol: String): DataFrame = {
    val stops = TextAnalysis.langMarkers.head._2
    val nTok = size(split(col(textCol), " ")).cast("long")
    val stopCnt = size(filter(split(col(textCol), " "), t => t.isin(stops: _*))).cast("double")
    val perdoc = docs.select(
      floor(lit(1000.0) * (stopCnt / nTok)).cast("long").as("q"), nTok.as("tok"))
    val hist = perdoc.groupBy(col("q"))
      .agg(count(lit(1)).as("d"), sum(col("tok")).as("tk"))
    val thr = docs.sparkSession.range(0, 10).select((col("id") * 100).as("thr"))
    // LEFT join from the threshold frame: a threshold with zero survivors
    // must still emit its (thr, 0, 0) row — an inner theta-join would drop
    // it and the "curve" could collapse to fewer than 10 rows on a
    // low-quality corpus, breaking every consumer that walks the sweep.
    // (A LeftOuter BNLJ can only broadcast its RIGHT side, so the hint
    // moves to the ≤1001-row histogram.)
    thr.join(broadcast(hist), col("q") >= col("thr"), "left")
      .groupBy(col("thr"))
      .agg(coalesce(sum(col("d")), lit(0L)).cast("long").as("n_docs"),
        coalesce(sum(col("tk")), lit(0L)).cast("long").as("n_tokens"))
  }

  val qualitySurvivalSql: String = {
    val stops = TextAnalysis.langMarkers.head._2.map(m => s"'$m'").mkString(", ")
    s"""WITH perdoc AS (
       |  SELECT CAST(floor(1000.0 * (CAST(len(list_filter(string_split(text, ' '), t -> t IN ($stops))) AS DOUBLE)
       |                             / len(string_split(text, ' ')))) AS BIGINT) AS q,
       |         CAST(len(string_split(text, ' ')) AS BIGINT) AS tok
       |  FROM documents),
       |hist AS (SELECT q, count(*) AS d, CAST(sum(tok) AS BIGINT) AS tk FROM perdoc GROUP BY 1),
       |thr AS (SELECT CAST(unnest(generate_series(0, 9)) * 100 AS BIGINT) AS thr)
       |SELECT thr, CAST(COALESCE(sum(d), 0) AS BIGINT) AS n_docs,
       |       CAST(COALESCE(sum(tk), 0) AS BIGINT) AS n_tokens
       |FROM thr LEFT JOIN hist ON q >= thr GROUP BY 1""".stripMargin
  }

  /** Corpus-revision diff: classify every document across two corpus
    * revisions as added / removed / changed by comparing content digests
    * (md5 over text — engine-portable), emitting only the non-unchanged
    * rows. This list IS the incremental work-list the staged stores
    * consume per revision: added/changed docs get re-signed
    * ([[SigIndex]]), re-embedded, re-indexed ([[AnnIndex]] delta
    * segments); removed docs get tombstoned — diff-then-process is what
    * keeps a daily 100 TB pipeline from re-reading the other 99.9%.
    *
    * Scale shape: digests are computed inside each revision's scan
    * projection (text never shuffles — 16-byte hashes do), and the diff
    * is one full-outer equi-join on the id, hash-partitioned. Output is
    * bounded by the churn, not the corpus.
    */
  def corpusDiff(oldDocs: DataFrame, newDocs: DataFrame,
                 idCol: String, textCol: String): DataFrame = {
    val o = oldDocs.select(col(idCol).as("old_id"), md5(col(textCol)).as("old_h"))
    val n = newDocs.select(col(idCol).as("new_id"), md5(col(textCol)).as("new_h"))
    o.join(n, col("old_id") === col("new_id"), "full_outer")
      .select(
        coalesce(col("old_id"), col("new_id")).as(idCol),
        when(col("old_id").isNull, lit("added"))
          .when(col("new_id").isNull, lit("removed"))
          .when(col("old_h") =!= col("new_h"), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
      .filter(col("status") =!= "unchanged")
  }

  /** Registered revision simulation on the static test corpus, chosen so
    * every status is exercised: revision A = docs with id % 11 != 0;
    * revision B = docs with id % 17 != 0, with the text of id % 13 == 0
    * docs edited (upper-cased). So id%11==0 ∧ id%17!=0 → added,
    * id%17==0 ∧ id%11!=0 → removed, id%13==0 in both → changed.
    */
  val corpusDiffSql: String =
    """WITH olds AS (
      |  SELECT doc_id, md5(text) AS h FROM documents WHERE doc_id % 11 <> 0),
      |news AS (
      |  SELECT doc_id,
      |         md5(CASE WHEN doc_id % 13 = 0 THEN upper(text) ELSE text END) AS h
      |  FROM documents WHERE doc_id % 17 <> 0)
      |SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
      |       CASE WHEN o.doc_id IS NULL THEN 'added'
      |            WHEN n.doc_id IS NULL THEN 'removed'
      |            WHEN o.h <> n.h THEN 'changed'
      |            ELSE 'unchanged' END AS status
      |FROM olds o FULL OUTER JOIN news n ON o.doc_id = n.doc_id
      |WHERE (CASE WHEN o.doc_id IS NULL THEN 'added'
      |            WHEN n.doc_id IS NULL THEN 'removed'
      |            WHEN o.h <> n.h THEN 'changed'
      |            ELSE 'unchanged' END) <> 'unchanged'""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("quality_survival",
      (s, dir) => qualitySurvival(Tables.documents(s, dir), "text"),
      Some(qualitySurvivalSql)),
    QueryDef("corpus_diff",
      (s, dir) => {
        val d = Tables.documents(s, dir)
        corpusDiff(
          d.filter(col("doc_id") % 11 =!= 0),
          d.filter(col("doc_id") % 17 =!= 0)
            .withColumn("text",
              when(col("doc_id") % 13 === 0, upper(col("text"))).otherwise(col("text"))),
          "doc_id", "text")
      },
      Some(corpusDiffSql)),
    QueryDef("source_cap",
      (s, dir) => sourceCap(Tables.documents(s, dir), "doc_id", "source", "n_chars", 20),
      Some(sourceCapSql)),
    QueryDef("seq_packing",
      (s, dir) => seqPacking(Tables.documents(s, dir), "doc_id", "source", "text", 256, 4),
      Some(seqPackingSql)),
    QueryDef("packing_stats",
      (s, dir) => packingStats(Tables.documents(s, dir), "doc_id", "source", "text", 256, 4),
      Some(packingStatsSql)),
    QueryDef("contamination_bloom",
      (s, dir) => contaminationBloom(Tables.documents(s, dir), "doc_id", "text",
        col("source") === "src0"),
      Some(contaminationBloomSql)),
    QueryDef("mixture_sqrt_sample",
      (s, dir) => mixtureSqrtSample(Tables.documents(s, dir), "doc_id", "source", perSqrt = 4),
      Some(mixtureSqrtSampleSql)),
    QueryDef("corpus_shuffle",
      (s, dir) => corpusShuffle(Tables.documents(s, dir), "doc_id", nShards = 8),
      Some(corpusShuffleSqlFor(8))),
    QueryDef("quality_token_budget",
      (s, dir) => qualityTokenBudget(Tables.documents(s, dir), "doc_id", "text", budget = 20000L),
      Some(qualityTokenBudgetSqlFor(20000L))),
    QueryDef("doc_chunks",
      (s, dir) => docChunks(Tables.documents(s, dir), "doc_id", "text", chunkTokens = 64, overlap = 16),
      Some(docChunksSqlFor(64, 16))),
    QueryDef("span_dedup",
      (s, dir) => spanDedup(Tables.documents(s, dir), "doc_id", "text", spanTokens = 8, maxDf = 1),
      Some(spanDedupSqlFor(8, 1))),
    QueryDef("split_leakage",
      (s, dir) => splitLeakage(Tables.documents(s, dir), "doc_id", "text"),
      Some(splitLeakageSql)),
    QueryDef("curriculum_order",
      (s, dir) => curriculumOrder(Tables.documents(s, dir), "doc_id", "source", "n_chars"),
      Some(curriculumOrderSql)),
  )
}
