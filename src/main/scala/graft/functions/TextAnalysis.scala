package graft.functions

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.{QueryDef, Tables}

/** Text-analysis operators for training-data pipelines: shingling,
  * language-ID (n-gram/stopword heuristic), quality scoring, token
  * counting (whitespace + BPE-ish regex), and document fingerprinting.
  *
  * Beyond the reference's operator set (SURVEY.md §7.3 P7). All operators
  * are pure Column expressions — no UDFs — so they stay in WholeStageCodegen
  * and scale as embarrassingly-parallel map work; the only shuffles are the
  * final per-doc aggregations of exploded shingle/token rows, which combine
  * map-side.
  */
object TextAnalysis {

  /** Character shingles of `width`, sampled every `stride` chars, distinct
    * per doc. Stride-sampling (a winnowing-style density reduction) bounds
    * shingle volume to len/stride per document — at 100 TB that factor-4
    * reduction is the difference between a feasible and infeasible
    * inverted index.
    *
    * `distinct = false` skips the (doc, shingle) dedup exchange for
    * consumers whose aggregate is duplicate-insensitive (min-hash
    * signatures, fingerprints): same result, one full-corpus shuffle
    * less. Keep the default for anything that counts shingles (Jaccard).
    */
  def shingles(docs: DataFrame, idCol: String, textCol: String,
               width: Int = 8, stride: Int = 4, distinct: Boolean = true): DataFrame = {
    val raw = docs.filter(length(col(textCol)) >= width)
      .select(
        col(idCol),
        explode(sequence(lit(1L), (length(col(textCol)) - (width - 1)).cast("long"), lit(stride.toLong))).as("i"),
        col(textCol))
      .select(col(idCol), expr(s"substring($textCol, CAST(i AS INT), $width)").as("sh"))
    if (distinct) raw.distinct() else raw
  }

  /** DuckDB twin of [[shingles]] as a CTE body (table must expose
    * doc_id/text).
    */
  def shinglesSql(width: Int = 8, stride: Int = 4): String =
    s"""SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), $width) AS sh
       |FROM (SELECT doc_id, text,
       |        unnest(generate_series(1, CAST(length(text)-${width - 1} AS BIGINT), $stride)) AS i
       |      FROM documents WHERE length(text) >= $width)""".stripMargin

  // Stopword marker sets per language for the heuristic language-ID.
  val langMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "is"),
    "de" -> Seq("der", "die", "das", "und", "ist", "ein"),
    "es" -> Seq("el", "los", "las", "es", "y", "un"),
    "fr" -> Seq("le", "les", "et", "est", "une", "dans"),
    "zh" -> Seq("de5", "shi4", "bu4", "le5", "wo3", "zai4"),
  )

  /** Language-ID: count stopword-marker hits per language over
    * whitespace tokens; argmax with a fixed priority tie-break.
    */
  def langId(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // r20: five per-language `size(filter(split(...)))` columns each
    // re-split and re-scanned the text — [[LangMarkerCounts]] computes
    // all five counters in ONE compiled walk; the argmax/tie-break
    // Column arithmetic over them is unchanged.
    val withCounts = docs.select(col(idCol), col(textCol))
      .withColumn("__lmc",
        VectorExpressions.langMarkerCounts(col(textCol), langMarkers.map(_._2)))
      .select(Seq(col(idCol), col(textCol)) ++
        langMarkers.zipWithIndex.map { case ((lang, _), i) =>
          element_at(col("__lmc"), i + 1).as(s"c_$lang") }: _*)
    val langs = langMarkers.map(_._1)
    val pred = langs.init.foldRight(lit(langs.last)) { (lang, elseCol) =>
      val others = langs.filterNot(_ == lang).map(l => col(s"c_$l"))
      when(col(s"c_$lang") >= greatest(others: _*), lang).otherwise(elseCol)
    }
    withCounts.select(
      Seq(col(idCol), pred.as("lang_pred")) ++ langs.map(l => col(s"c_$l")) : _*)
  }

  /** DuckDB twin of [[langId]]. */
  def langIdSql: String = {
    val counts = langMarkers.map { case (lang, markers) =>
      val set = markers.map(m => s"'$m'").mkString(", ")
      s"len(list_filter(string_split(text, ' '), t -> t IN ($set))) AS c_$lang"
    }.mkString(",\n  ")
    val langs = langMarkers.map(_._1)
    val pred = langs.init.foldRight(s"'${langs.last}'") { (lang, els) =>
      val others = langs.filterNot(_ == lang).map(l => s"c_$l").mkString(", ")
      s"CASE WHEN c_$lang >= greatest($others) THEN '$lang' ELSE $els END"
    }
    s"""WITH c AS (SELECT doc_id,\n  $counts\nFROM documents)
       |SELECT doc_id, $pred AS lang_pred, ${langs.map(l => s"c_$l").mkString(", ")} FROM c""".stripMargin
  }

  /** Quality scoring: length, token count, mean token length, stopword
    * ratio, non-alphanumeric ratio.
    *
    * The four counters come from ONE row-local pass ([[TextStats]],
    * compiled; bit-parity contract in its scaladoc) — the previous
    * composition re-materialized the split-token array per counter and
    * ran a full-text regex for a length (178.3 s at sf100). The ratios
    * stay as the same Column arithmetic over the counters.
    */
  def qualityScore(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val st = VectorExpressions.textStats(col(textCol), langMarkers.head._2)
    docs.select(col(idCol), st.as("st"))
      .select(
        col(idCol),
        col("st.n_chars").as("n_chars_m"),
        col("st.n_tokens").as("n_tokens"),
        (col("st.n_chars").cast("double") / col("st.n_tokens")).as("mean_tok_len"),
        (col("st.n_stops").cast("double") / col("st.n_tokens")).as("stop_ratio"),
        (col("st.n_nonalnum").cast("double") / col("st.n_chars")).as("nonalnum_ratio"))
  }

  val qualityScoreSql: String = {
    val set = langMarkers.head._2.map(m => s"'$m'").mkString(", ")
    """SELECT doc_id,
      |  CAST(length(text) AS BIGINT) AS n_chars_m,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
      |  CAST(length(text) AS DOUBLE) / len(string_split(text, ' ')) AS mean_tok_len,
      |  CAST(len(list_filter(string_split(text, ' '), t -> t IN (SET))) AS DOUBLE)
      |    / len(string_split(text, ' ')) AS stop_ratio,
      |  CAST(length(text) - length(regexp_replace(text, '[^a-z0-9 ]', '', 'g')) AS DOUBLE)
      |    / length(text) AS nonalnum_ratio
      |FROM documents""".stripMargin.replace("SET", set)
  }

  /** Token counting: whitespace tokens and a BPE-ish regex tokenizer
    * (letter runs | digit runs | single non-alphanumeric).
    */
  def tokenCount(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // r20: split + regexp_count → [[TokenizeCounts]], both counters in
    // one compiled byte walk (the regex engine dominated the 40.7 s
    // sf100 entry; parity contract in the expression scaladoc).
    docs.select(col(idCol), VectorExpressions.tokenizeCounts(col(textCol)).as("tc"))
      .select(col(idCol), col("tc.ws_tokens").as("ws_tokens"),
        col("tc.re_tokens").as("re_tokens"))
  }

  val tokenCountSql: String =
    """SELECT doc_id,
      |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
      |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')) AS BIGINT) AS re_tokens
      |FROM documents""".stripMargin

  /** Unigram surprisal scoring — the engine-portable stand-in for
    * LM-perplexity quality filtering (the KenLM-style stage of a
    * pretraining pipeline): each token occurrence scores
    * floor(log2(total_tokens)) − floor(log2(freq(token))) bits, a
    * 1-bit-accurate −log2(unigram probability) computed WITHOUT
    * transcendentals — floor(log2(n)) is `length(bin(n)) − 1`, pure
    * integer/string arithmetic that cannot drift by a ulp between
    * engines the way libm log() can. High mean surprisal = rare/garbled
    * tokens; low = fluent common text.
    *
    * Scale shape: the frequency table is vocabulary-sized (threshold/AQE
    * broadcasts it when small, shuffles when not); per-doc sums are
    * map-side-combined exact integers; mean is a scaled integer division.
    */
  def tokenSurprisal(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // r20 rewrite (the bigram_logprob seam, unigram form): the
    // occurrence-grain token explode flowed through the frequency
    // join-back — [[TokenCounts]] pre-aggregates each document's token
    // multiset to map grain in one compiled pass, so the join probes
    // |distinct (doc, tok)| rows and the per-doc sums weight by `c`.
    // freq = Σ c per token (was count(*) over occurrences) — identical
    // integers, and the scored sums stay exact.
    val toks = docs.select(col(idCol),
        explode(VectorExpressions.tokenCounts(col(textCol))).as("tc"))
      .select(col(idCol), col("tc.tok").as("tok"), col("tc.cnt").as("c"))
    val freq = toks.groupBy(col("tok")).agg(sum(col("c")).as("freq"))
    val total = freq.agg(sum(col("freq")).as("total")) // 1-row scalar
    val bits = (length(bin(col("total"))) - 1) - (length(bin(col("freq"))) - 1)
    toks.join(freq, Seq("tok"))
      .crossJoin(broadcast(total))
      .select(col(idCol), col("c"), bits.cast("long").as("bits"))
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("n_tokens"),
        sum(col("c") * col("bits")).as("total_bits"))
      .withColumn("mean_millibits", expr("(total_bits * 1000) div n_tokens"))
  }

  val tokenSurprisalSql: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
      |freq AS (SELECT tok, count(*) AS freq FROM toks GROUP BY 1),
      |tot AS (SELECT CAST(sum(freq) AS BIGINT) AS total FROM freq),
      |scored AS (
      |  SELECT t.doc_id,
      |         CAST((len(bin(tot.total)) - 1) - (len(bin(f.freq)) - 1) AS BIGINT) AS bits
      |  FROM toks t JOIN freq f USING (tok) CROSS JOIN tot)
      |SELECT doc_id, count(*) AS n_tokens,
      |       CAST(sum(bits) AS BIGINT) AS total_bits,
      |       CAST(sum(bits) AS BIGINT) * 1000 // count(*) AS mean_millibits
      |FROM scored GROUP BY 1""".stripMargin

  /** Bigram-LM fluency scoring — one context order up from
    * [[tokenSurprisal]], the same engine-portable stand-in for the
    * KenLM-perplexity stage: each bigram occurrence scores
    * floor(log2(count(w1·))) − floor(log2(count(w1 w2))) bits, a
    * 1-bit-accurate −log2 of the conditional MLE P(w2|w1) with zero
    * transcendentals (floor(log2 n) = length(bin(n)) − 1). Unlike the
    * unigram score, this catches locally-shuffled word salad: common
    * words in improbable ORDER score high even when each word is
    * frequent. Docs with < 2 tokens have no bigrams and drop out.
    *
    * Scale shape: the bigram table shuffles |distinct bigrams| (the
    * vocabulary-squared worst case never materializes on natural text —
    * Heaps' law keeps it near-linear in corpus tokens); the context
    * table re-aggregates that table, so no second pass over the corpus;
    * per-doc sums are map-side-combined exact integers. The occurrence→
    * frequency joins key on bigram/first-word — AQE's skew split handles
    * the inevitable hot function words.
    */
  def bigramLogprob(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // r20 rewrite (VERDICT r19 item 1): the occurrence-grain bigram
    // explode (one row per bigram OCCURRENCE, ~2.5 B at sf100) flowed
    // through BOTH frequency join-backs. [[BigramCounts]] pre-aggregates
    // each document's bigram multiset to map grain in one compiled pass
    // (null = the old size(w) >= 2 filter; explode drops it), so the
    // joins probe |distinct (doc, bigram)| rows and the per-doc sums
    // weight by `c` — the same exact integers, fewer rows everywhere.
    // bg_freq = Σ c per bigram (was count(*) over occurrences).
    val bg = docs.select(col(idCol),
        explode(VectorExpressions.bigramCounts(col(textCol))).as("bc"))
      .select(col(idCol), col("bc.bigram").as("bigram"), col("bc.cnt").as("c"))
    val bf = bg.groupBy(col("bigram")).agg(sum(col("c")).as("bg_freq"))
    val cf = bf.groupBy(substring_index(col("bigram"), " ", 1).as("w1"))
      .agg(sum(col("bg_freq")).as("ctx_freq"))
    val bits = (length(bin(col("ctx_freq"))) - 1) - (length(bin(col("bg_freq"))) - 1)
    bg.join(bf, Seq("bigram"))
      .withColumn("w1", substring_index(col("bigram"), " ", 1))
      .join(cf, Seq("w1"))
      .select(col(idCol), col("c"), bits.cast("long").as("bits"))
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("n_bigrams"),
        sum(col("c") * col("bits")).as("total_bits"))
      .withColumn("mean_millibits", expr("(total_bits * 1000) div n_bigrams"))
  }

  val bigramLogprobSql: String =
    """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents
      |            WHERE len(string_split(text, ' ')) >= 2),
      |bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-1), i -> w[i] || ' ' || w[i+1])) AS bigram
      |       FROM ws),
      |bf AS (SELECT bigram, count(*) AS bg_freq FROM bg GROUP BY 1),
      |cf AS (SELECT split_part(bigram, ' ', 1) AS w1, CAST(sum(bg_freq) AS BIGINT) AS ctx_freq
      |       FROM bf GROUP BY 1),
      |scored AS (
      |  SELECT g.doc_id,
      |         CAST((len(bin(c.ctx_freq)) - 1) - (len(bin(f.bg_freq)) - 1) AS BIGINT) AS bits
      |  FROM bg g JOIN bf f USING (bigram)
      |    JOIN cf c ON c.w1 = split_part(g.bigram, ' ', 1))
      |SELECT doc_id, count(*) AS n_bigrams,
      |       CAST(sum(bits) AS BIGINT) AS total_bits,
      |       CAST(sum(bits) AS BIGINT) * 1000 // count(*) AS mean_millibits
      |FROM scored GROUP BY 1""".stripMargin

  /** BPE tokenizer training, the pair-counting stage: adjacent symbol-pair
    * frequencies over the character sequences of whitespace tokens —
    * iteration 1 of byte-pair encoding, where symbols are still single
    * characters, so pair (i) = substring(tok, i, 2). Real BPE training
    * loops merge-then-recount; each round is THIS aggregation over a
    * re-segmented corpus, and the counting pass is all the distributed
    * engine does (the merge-table update is driver-side and vocabulary-
    * sized). Top-k with a deterministic (count desc, pair asc) tie-break.
    *
    * Scale shape: explode is in-task; the count shuffles |distinct
    * pairs| ≤ alphabet², i.e. constant-bounded; the top-k is a
    * TakeOrdered, never a global sort.
    */
  def bpeMergePairs(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    // r20 rewrite (VERDICT r19 item 2): the token explode THEN
    // character-pair explode generated the corpus's full character
    // volume through two Generates before the (alphabet²-bounded)
    // aggregate. [[BpePairCounts]] counts each document's pairs at map
    // grain in one compiled pass (code-point stepping = substring
    // semantics; null = no token with ≥ 2 chars), so the Generate emits
    // per-doc-distinct pairs and the global count is Σ of weights.
    docs.select(explode(VectorExpressions.bpePairCounts(col(textCol))).as("pc"))
      .groupBy(col("pc.pair").as("pair")).agg(sum(col("pc.cnt")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(k)
  }

  val bpeMergePairsSql: String =
    """WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
      |prs AS (SELECT unnest(list_transform(generate_series(1, CAST(length(tok) - 1 AS BIGINT)),
      |                                     i -> substr(tok, CAST(i AS INT), 2))) AS pair
      |        FROM toks WHERE length(tok) >= 2)
      |SELECT pair, count(*) AS cnt FROM prs GROUP BY 1
      |ORDER BY cnt DESC, pair ASC LIMIT 20""".stripMargin

  /** Iterative BPE tokenizer training — the full merge loop
    * [[bpeMergePairs]] is one step of: each round counts adjacent
    * symbol-pair frequencies, adopts the most frequent pair (count desc,
    * pair asc tie-break) as a merge rule, and re-segments; symbols grow
    * from single characters to learned subwords. The merge is the
    * standard greedy left-to-right scan (non-overlapping: "aaa" + rule
    * (a,a) → [aa, a]), expressed as a fold over each token's symbol
    * array — per-row, zero shuffle. Output: one row per adopted rule,
    * (step, "a b", count-at-adoption).
    *
    * Scale shape — the reason real BPE trainers scale: all per-round
    * work runs on the DISTINCT-token vocabulary weighted by corpus
    * frequency, so the corpus is scanned exactly once (the vocab count);
    * each round is a vocabulary-bounded pair aggregation plus a per-row
    * re-segmentation fold, and the only driver-side state is the merge
    * table itself — `merges` rows, the same driver-side fixed-point
    * shape as doc_pagerank's rank rounds. A round's top-pair selection
    * is a 1-row TakeOrdered, not a global sort.
    */
  def bpeTrain(docs: DataFrame, textCol: String, merges: Int): DataFrame = {
    val (vocab, adopted) = bpeLoop(docs, textCol, merges)
    graft.engine.Scoped.unpersistCheckpoint(vocab)
    import docs.sparkSession.implicits._
    adopted.toDF("step", "pair", "cnt")
  }

  /** The trained tokenizer's effective vocabulary after `merges` BPE
    * rounds: every distinct token's final segmentation, exploded and
    * weighted by corpus frequency — top-k symbols by corpus count
    * (desc, symbol asc). The distribution a tokenizer report plots:
    * high-frequency subwords emerge, their constituent characters'
    * counts drain away. Leaves the final vocab persisted for the plan's
    * consumers (query-lifetime persist — the runner releases, same
    * contract as the dedup indexes).
    */
  def bpeVocab(docs: DataFrame, textCol: String, merges: Int, k: Int): DataFrame = {
    val (vocab, _) = bpeLoop(docs, textCol, merges)
    vocab.select(col("freq"), explode(col("syms")).as("sym"))
      .groupBy(col("sym")).agg(sum(col("freq")).as("cnt"))
      .orderBy(col("cnt").desc, col("sym").asc)
      .limit(k)
  }

  /** The weighted distinct-token seed vocabulary every BPE round works
    * on: (tok, corpus freq, single-character symbol array).
    */
  private def bpeSeedVocab(docs: DataFrame, textCol: String): DataFrame = {
    // r20: the corpus-token explode → [[TokenCounts]] map grain; the
    // vocabulary aggregate then reduces per-doc-distinct rows instead of
    // every occurrence (freq = Σ per-doc counts — identical integers).
    // Shared by the whole BPE family (train/vocab/encode, batched
    // twins): every one of those qkeys pays this pass first.
    docs.select(explode(VectorExpressions.tokenCounts(col(textCol))).as("tc"))
      .select(col("tc.tok").as("tok"), col("tc.cnt").as("c"))
      .filter(length(col("tok")) >= 1)
      .groupBy(col("tok")).agg(sum(col("c")).as("freq"))
      .withColumn("syms",
        expr("transform(sequence(1, length(tok)), i -> substring(tok, CAST(i AS INT), 1))"))
  }

  /** The round's ranked adjacent-pair counts (weighted by token corpus
    * frequency), capped at `top` rows — a TakeOrdered, never a global
    * sort. Guard size >= 2 BEFORE sequence(0, size-2): sequence infers a
    * negative step when stop < start, which would fabricate pairs.
    */
  private def bpeRankedPairs(vocab: DataFrame, top: Int): DataFrame =
    vocab.filter(size(col("syms")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(0, size(syms)-2), i -> concat(element_at(syms, i+1), ' ', element_at(syms, i+2)))"))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("freq")).as("cnt"))
      .orderBy(col("cnt").desc, col("pair").asc)
      .limit(top)

  /** One greedy left-to-right merge PASS applying every rule in `rules`
    * simultaneously, as a fold over each token's symbol array — per-row,
    * zero shuffle. Append each symbol; when the accumulated tail is a
    * literal `a_i` and the next symbol is `b_i`, replace the tail with
    * the merged symbol a_i+b_i. A fresh merge's tail is a_i+b_i ≠ a_j
    * for every rule j (b is never empty for the same rule; the batched
    * selector's compatibility check — [[bpeCompatible]] — excludes
    * cross-rule collisions), so a merge can never chain into an
    * overlapping merge: one simultaneous pass over compatible rules is
    * exactly the sequential non-overlapping scan per rule
    * (spec-asserted by replaying adopted rules one at a time).
    */
  private[graft] def bpeApplyMerges(vocab: DataFrame,
                                        rules: Seq[(String, String)]): DataFrame = {
    require(rules.nonEmpty, "bpeApplyMerges: empty rule batch")
    vocab.withColumn("syms",
      aggregate(col("syms"), array().cast("array<string>"), (acc, x) => {
        val tail = element_at(acc, -1)
        def arm(r: (String, String)): Column =
          concat(slice(acc, lit(1), size(acc) - 1), array(lit(r._1 + r._2)))
        val chain = rules.tail.foldLeft(
          when(size(acc) > 0 && tail === lit(rules.head._1) && x === lit(rules.head._2),
            arm(rules.head))) { case (c, r) =>
          c.when(size(acc) > 0 && tail === lit(r._1) && x === lit(r._2), arm(r))
        }
        chain.otherwise(concat(acc, array(x)))
      }))
  }

  /** Can pair (a, b) be adopted in the same round as `chosen`? Batched
    * adoption is safe only when rules cannot interact: no symbol of one
    * pair may equal a symbol OR the merged output of another, in either
    * direction — otherwise one rule's merge would create or consume the
    * other's match sites mid-pass and the simultaneous application would
    * diverge from sequential. (Example: (t,h) then (th,e) — the first
    * merge mints the second's left symbol.)
    */
  private[graft] def bpeCompatible(chosen: Seq[(String, String)],
                                       a: String, b: String): Boolean = {
    val used = chosen.iterator.flatMap { case (x, y) => Iterator(x, y, x + y) }.toSet
    !used(a) && !used(b) && !used(a + b)
  }

  /** The shared merge loop: returns the final (tok, freq, syms) vocab —
    * persisted — and the adopted (step, pair, count) rules. One driver
    * round-trip (a 1-row collect) and one cached re-segmentation per
    * merge — fine at oracle-gate merge counts; a production tokenizer
    * run (10k–100k merges) uses [[bpeLoopBatched]], which amortizes the
    * round-trip over `batch` merges per round.
    */
  private def bpeLoop(docs: DataFrame, textCol: String,
                      merges: Int): (DataFrame, Seq[(Int, String, Long)]) = {
    require(merges >= 1, "bpeTrain: need at least one merge round")
    // localCheckpoint per round, NOT persist: a persisted chain keeps the
    // whole logical-plan lineage, and the nested merge folds make
    // re-analysis cost grow with every round — measured superlinear wall
    // time by merges=64 (BASELINE.md, round-11 BPE trainer row). The
    // checkpoint severs lineage so every round re-plans a constant-size
    // frame; round N−1's blocks are dropped as soon as round N
    // materializes (connected-components hygiene,
    // graft.engine.Scoped.unpersistCheckpoint).
    var vocab = bpeSeedVocab(docs, textCol).localCheckpoint()
    val adopted = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= merges && !exhausted) {
      val top = bpeRankedPairs(vocab, 1).collect()
      if (top.isEmpty) exhausted = true
      else {
        val (pair, cnt) = (top(0).getString(0), top(0).getLong(1))
        adopted += ((step, pair, cnt))
        val Array(a, b) = pair.split(" ", 2)
        val next = bpeApplyMerges(vocab, Seq((a, b))).localCheckpoint()
        graft.engine.Scoped.unpersistCheckpoint(vocab)
        vocab = next
        step += 1
      }
    }
    (vocab, adopted.toSeq)
  }

  /** The BATCHED merge loop — the driver-bottleneck fix for production
    * merge counts (round-10 verdict): the sequential loop pays one
    * driver round-trip and one job launch per merge, which at 10k–100k
    * merges serializes exactly the kind of driver-side fixed point a
    * large cluster starves on. Here each ROUND collects one ranked pair
    * prefix and adopts up to `batch` pairwise-COMPATIBLE pairs from it
    * (greedy by rank; [[bpeCompatible]] guarantees the rules cannot
    * interact), then applies them all in ONE simultaneous
    * re-segmentation pass — driver round-trips drop from `merges` to
    * ~`merges / batch`.
    *
    * Batched BPE is the standard large-corpus trainer variant: within a
    * round, counts are those at round START (pair 2 of a round is the
    * best compatible pair by the round-start counts, not the post-merge
    * recount), so rule order can differ from the sequential trainer's —
    * compatibility makes each round's rules ORDER-INDEPENDENT among
    * themselves, and batch = 1 reproduces the sequential trainer
    * exactly (spec-asserted both ways).
    */
  private def bpeLoopBatched(docs: DataFrame, textCol: String, merges: Int,
                             batch: Int,
                             prefix0: Int = 0): (DataFrame, Seq[(Int, String, Long)]) = {
    require(merges >= 1 && batch >= 1, "bpeTrainBatched: merges and batch must be >= 1")
    // checkpoint-per-round, same rationale as [[bpeLoop]]
    var vocab = bpeSeedVocab(docs, textCol).localCheckpoint()
    val adopted = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Long)]
    var step = 1
    var exhausted = false
    while (step <= merges && !exhausted) {
      val want = math.min(batch, merges - step + 1)
      // a generous ranked prefix: the greedy compatible scan almost never
      // needs more than ~2× want candidates. If it DOES exhaust a
      // truncated prefix before filling the batch (every prefix pair
      // shares a symbol with an earlier selection), re-rank with a 4×
      // larger limit instead of adopting fewer: the oracle's SQL scans
      // the FULL pair table for each round's top compatible pairs, so
      // adopting a short round off a truncated prefix would renumber
      // steps and diverge (ADVICE r11). Only when the collected prefix
      // is the WHOLE table (length < limit) is a short round genuinely
      // "no more compatible pairs exist" — which is what the oracle
      // computes too.
      var limit = if (prefix0 >= 1) prefix0 else math.max(64, 8 * want)
      var ranked = bpeRankedPairs(vocab, limit).collect()
      def greedy(rs: Array[org.apache.spark.sql.Row]): Seq[(String, String, Long)] = {
        val sel = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        for (r <- rs if sel.size < want) {
          val Array(a, b) = r.getString(0).split(" ", 2)
          if (bpeCompatible(sel.map(s => (s._1, s._2)).toSeq, a, b))
            sel += ((a, b, r.getLong(1)))
        }
        sel.toSeq
      }
      var sel = greedy(ranked)
      while (sel.size < want && ranked.length == limit && limit < Int.MaxValue) {
        limit = if (limit > Int.MaxValue / 4) Int.MaxValue else limit * 4
        ranked = bpeRankedPairs(vocab, limit).collect()
        sel = greedy(ranked)
      }
      if (ranked.isEmpty) exhausted = true
      else {
        val next = bpeApplyMerges(vocab, sel.map(s => (s._1, s._2)).toSeq).localCheckpoint()
        graft.engine.Scoped.unpersistCheckpoint(vocab)
        vocab = next
        adopted ++= sel.zipWithIndex.map { case ((a, b, c), i) => (step + i, s"$a $b", c) }
        step += sel.size
      }
    }
    (vocab, adopted.toSeq)
  }

  /** [[bpeTrain]]'s batched twin: same (step, pair, cnt) output contract
    * over [[bpeLoopBatched]].
    */
  def bpeTrainBatched(docs: DataFrame, textCol: String, merges: Int,
                      batch: Int): DataFrame =
    bpeTrainBatchedPrefix(docs, textCol, merges, batch, prefix0 = 0)

  /** [[bpeTrainBatched]] with the INITIAL ranked-prefix limit exposed —
    * the test seam for the escalating re-rank: prefix0 = 1 forces the
    * truncated-prefix regime on any fixture (every round starts from a
    * 1-pair prefix and must escalate to fill its batch), proving the
    * adopted merges equal the generous-prefix run's bit-for-bit.
    * prefix0 = 0 (production) starts at max(64, 8·want).
    */
  private[graft] def bpeTrainBatchedPrefix(docs: DataFrame, textCol: String,
                                           merges: Int, batch: Int,
                                           prefix0: Int): DataFrame = {
    val (vocab, adopted) = bpeLoopBatched(docs, textCol, merges, batch, prefix0)
    graft.engine.Scoped.unpersistCheckpoint(vocab)
    import docs.sparkSession.implicits._
    adopted.toDF("step", "pair", "cnt")
  }

  /** DuckDB twin of [[bpeTrain]]: the merge loop unrolled `merges` times
    * over a (token, freq, pos, symbol) row representation. The greedy
    * non-overlapping scan is the run-parity identity: consecutive match
    * positions (only possible when a = b) form runs, and the scan adopts
    * exactly the odd (1st, 3rd, …) positions of each run — window
    * functions, no recursion. Each round: weighted pair counts → 1-row
    * top pair → match marks → run-parity selection → re-segmented rows
    * (consumed positions dropped, selected positions rewritten to the
    * merged symbol, positions renumbered).
    */
  def bpeTrainSqlFor(merges: Int): String = {
    val steps = (1 to merges).map { i =>
      if (i == 1) s"SELECT 1 AS step, pair, cnt FROM t1"
      else s"SELECT $i, pair, cnt FROM t$i"
    }.mkString("\n  UNION ALL ")
    s"""${bpeSqlCtes(merges)}
       |fin AS (
       |  $steps)
       |SELECT CAST(step AS INT) AS step, pair, cnt FROM fin""".stripMargin
  }

  /** One unrolled round block per merge — see [[bpeTrainSqlFor]]'s
    * scaladoc for the run-parity greedy-merge identity each block
    * implements.
    */
  private def bpeRoundCtes(merges: Int): String =
    (1 to merges).map { i =>
      s"""p$i AS (
         |  SELECT a.sym || ' ' || b.sym AS pair, CAST(sum(a.freq) AS BIGINT) AS cnt
         |  FROM s${i - 1} a JOIN s${i - 1} b ON b.tok = a.tok AND b.pos = a.pos + 1
         |  GROUP BY 1),
         |t$i AS MATERIALIZED (SELECT pair, cnt FROM p$i ORDER BY cnt DESC, pair ASC LIMIT 1),
         |m$i AS MATERIALIZED (
         |  SELECT a.tok, a.freq, a.pos, a.sym,
         |         coalesce(a.sym || ' ' || b.sym = (SELECT pair FROM t$i), false) AS mt
         |  FROM s${i - 1} a LEFT JOIN s${i - 1} b ON b.tok = a.tok AND b.pos = a.pos + 1),
         |r$i AS (
         |  SELECT tok, pos, pos - row_number() OVER (PARTITION BY tok ORDER BY pos) AS grp
         |  FROM m$i WHERE mt),
         |sel$i AS MATERIALIZED (
         |  SELECT tok, pos FROM (
         |    SELECT tok, pos, row_number() OVER (PARTITION BY tok, grp ORDER BY pos) AS rn
         |    FROM r$i) WHERE rn % 2 = 1),
         |s$i AS MATERIALIZED (
         |  SELECT tok, freq, CAST(row_number() OVER (PARTITION BY tok ORDER BY opos) AS BIGINT) AS pos, sym
         |  FROM (
         |    SELECT m.tok, m.freq, m.pos AS opos,
         |           CASE WHEN sl.pos IS NOT NULL THEN replace((SELECT pair FROM t$i), ' ', '')
         |                ELSE m.sym END AS sym
         |    FROM m$i m
         |      LEFT JOIN sel$i sl ON sl.tok = m.tok AND sl.pos = m.pos
         |      LEFT JOIN sel$i pr ON pr.tok = m.tok AND pr.pos = m.pos - 1
         |    WHERE pr.pos IS NULL)),""".stripMargin
    }.mkString("\n")

  /** The shared CTE chain of the BPE oracles: vocab rows s0 through the
    * `merges`-times-unrolled round blocks ending at s`merges`. A round
    * whose pair CTE is empty (corpus exhausted) passes its rows through
    * unchanged — matching [[bpeTrain]]'s early stop.
    */
  /** The seed of every BPE oracle: weighted distinct tokens exploded to
    * (token, freq, pos, single-char symbol) rows.
    */
  private val bpeSeedSqlCtes: String =
    s"""WITH toks AS (
       |  SELECT tok, CAST(count(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
       |  WHERE length(tok) >= 1 GROUP BY 1),
       |s0 AS MATERIALIZED (
       |  SELECT tok, freq, CAST(i AS BIGINT) AS pos, substr(tok, CAST(i AS INT), 1) AS sym
       |  FROM (SELECT tok, freq, unnest(generate_series(1, CAST(length(tok) AS BIGINT))) AS i
       |        FROM toks)),""".stripMargin

  private def bpeSqlCtes(merges: Int): String =
    s"""$bpeSeedSqlCtes
       |${bpeRoundCtes(merges)}""".stripMargin

  /** DuckDB twin of [[bpeTrainBatched]] at batch = 2: `rounds` unrolled
    * round blocks, each selecting the top pair (ta) AND the top
    * COMPATIBLE pair (tb — no symbol equal to a symbol or the merged
    * output of ta, mirroring [[bpeCompatible]]), then applying both in
    * one simultaneous re-segmentation. Match marks for the two rules are
    * computed on the same round-start snapshot; compatibility guarantees
    * their match sites can never overlap or touch, so the per-rule
    * run-parity selections compose position-wise. Step numbering is
    * fixed (2 per round) — on a corpus so degenerate that a round has no
    * compatible second pair the Spark side renumbers and the hash gate
    * fails loudly rather than silently drifting.
    */
  def bpeTrainBatchedB2SqlFor(rounds: Int): String = {
    val blocks = (1 to rounds).map { i =>
      s"""p$i AS (
         |  SELECT a.sym || ' ' || b.sym AS pair, CAST(sum(a.freq) AS BIGINT) AS cnt
         |  FROM s${i - 1} a JOIN s${i - 1} b ON b.tok = a.tok AND b.pos = a.pos + 1
         |  GROUP BY 1),
         |ta$i AS MATERIALIZED (SELECT pair, cnt FROM p$i ORDER BY cnt DESC, pair ASC LIMIT 1),
         |ua$i AS (SELECT string_split(pair, ' ')[1] AS u FROM ta$i
         |         UNION ALL SELECT string_split(pair, ' ')[2] FROM ta$i
         |         UNION ALL SELECT replace(pair, ' ', '') FROM ta$i),
         |tb$i AS MATERIALIZED (
         |  SELECT pair, cnt FROM p$i
         |  WHERE string_split(pair, ' ')[1] NOT IN (SELECT u FROM ua$i)
         |    AND string_split(pair, ' ')[2] NOT IN (SELECT u FROM ua$i)
         |    AND replace(pair, ' ', '') NOT IN (SELECT u FROM ua$i)
         |  ORDER BY cnt DESC, pair ASC LIMIT 1),
         |m$i AS MATERIALIZED (
         |  SELECT a.tok, a.freq, a.pos, a.sym,
         |         coalesce(a.sym || ' ' || b.sym = (SELECT pair FROM ta$i), false) AS mta,
         |         coalesce(a.sym || ' ' || b.sym = (SELECT pair FROM tb$i), false) AS mtb
         |  FROM s${i - 1} a LEFT JOIN s${i - 1} b ON b.tok = a.tok AND b.pos = a.pos + 1),
         |ra$i AS (SELECT tok, pos, pos - row_number() OVER (PARTITION BY tok ORDER BY pos) AS grp
         |         FROM m$i WHERE mta),
         |sa$i AS MATERIALIZED (
         |  SELECT tok, pos FROM (
         |    SELECT tok, pos, row_number() OVER (PARTITION BY tok, grp ORDER BY pos) AS rn
         |    FROM ra$i) WHERE rn % 2 = 1),
         |rb$i AS (SELECT tok, pos, pos - row_number() OVER (PARTITION BY tok ORDER BY pos) AS grp
         |         FROM m$i WHERE mtb),
         |sb$i AS MATERIALIZED (
         |  SELECT tok, pos FROM (
         |    SELECT tok, pos, row_number() OVER (PARTITION BY tok, grp ORDER BY pos) AS rn
         |    FROM rb$i) WHERE rn % 2 = 1),
         |s$i AS MATERIALIZED (
         |  SELECT tok, freq, CAST(row_number() OVER (PARTITION BY tok ORDER BY opos) AS BIGINT) AS pos, sym
         |  FROM (
         |    SELECT m.tok, m.freq, m.pos AS opos,
         |           CASE WHEN xa.pos IS NOT NULL THEN replace((SELECT pair FROM ta$i), ' ', '')
         |                WHEN xb.pos IS NOT NULL THEN replace((SELECT pair FROM tb$i), ' ', '')
         |                ELSE m.sym END AS sym
         |    FROM m$i m
         |      LEFT JOIN sa$i xa ON xa.tok = m.tok AND xa.pos = m.pos
         |      LEFT JOIN sb$i xb ON xb.tok = m.tok AND xb.pos = m.pos
         |      LEFT JOIN sa$i pa ON pa.tok = m.tok AND pa.pos = m.pos - 1
         |      LEFT JOIN sb$i pb ON pb.tok = m.tok AND pb.pos = m.pos - 1
         |    WHERE pa.pos IS NULL AND pb.pos IS NULL)),""".stripMargin
    }.mkString("\n")
    val steps = (1 to rounds).map { i =>
      s"""SELECT ${2 * i - 1} AS step, pair, cnt FROM ta$i
         |  UNION ALL SELECT ${2 * i}, pair, cnt FROM tb$i""".stripMargin
    }.mkString("\n  UNION ALL ")
    s"""$bpeSeedSqlCtes
       |$blocks
       |fin AS (
       |  $steps)
       |SELECT CAST(step AS INT) AS step, pair, cnt FROM fin""".stripMargin
  }

  /** DuckDB twin of [[bpeVocab]]: the same unrolled chain, then the
    * weighted symbol histogram of the final segmentation.
    */
  def bpeVocabSqlFor(merges: Int, k: Int): String =
    s"""${bpeSqlCtes(merges)}
       |fin AS (
       |  SELECT sym, CAST(sum(freq) AS BIGINT) AS cnt FROM s$merges GROUP BY 1)
       |SELECT sym, cnt FROM fin ORDER BY cnt DESC, sym ASC LIMIT $k""".stripMargin

  /** Tokenizer APPLICATION at corpus scale — the encode pass that
    * follows [[bpeTrain]]: segment every document by the trained merge
    * table and emit per-document token statistics (words, characters,
    * BPE tokens, chars-per-token — the "fertility" figure tokenizer
    * reports track, and the number that converts a corpus byte budget
    * into a training token budget).
    *
    * Scale shape — why encode costs barely more than the trainer:
    * the trainer's final vocabulary already holds each DISTINCT token's
    * segmentation, so encoding never re-runs merges per occurrence — the
    * corpus joins its exploded words to the (tok → |syms|) vocab (a
    * corpus-vocabulary-sized build side, broadcastable), then one
    * per-doc aggregation. Text shuffles only as (doc, word) pairs, the
    * same granularity token_count already pays.
    */
  /** The trained tokenizer as a deployable artifact: each DISTINCT
    * corpus token's BPE token count after `merges` rounds — the static
    * frame the streaming encode twin joins against
    * ([[graft.streaming.StreamingOps.bpeEncodeStream]]), and the build
    * side of [[bpeEncodeStats]].
    */
  def bpeSegmentation(docs: DataFrame, textCol: String, merges: Int): DataFrame = {
    val (vocab, _) = bpeLoop(docs, textCol, merges)
    vocab.select(col("tok"), size(col("syms")).cast("long").as("n_syms"))
  }

  def bpeEncodeStats(docs: DataFrame, idCol: String, textCol: String,
                     merges: Int): DataFrame =
    bpeEncodeStatsFromSeg(docs, idCol, textCol, bpeSegmentation(docs, textCol, merges))

  /** The encode pass over an ALREADY-BUILT (tok, n_syms) segmentation —
    * shared by the inline [[bpeEncodeStats]] (which trains in-query) and
    * the staged serve ([[SigIndex.bpeEncodeStaged]], segmentation off
    * the tokenizer store), so the two can never diverge on the join or
    * the stats arithmetic.
    */
  private[graft] def bpeEncodeStatsFromSeg(docs: DataFrame, idCol: String,
                                           textCol: String, seg: DataFrame): DataFrame = {
    // r20: the corpus joins the segmentation at (doc, tok) MAP grain
    // ([[TokenCounts]]) instead of every occurrence; per-doc stats
    // weight by `c` — identical integers (inner-join drop semantics for
    // out-of-vocab tokens are grain-independent).
    val words = docs.select(col(idCol),
        explode(VectorExpressions.tokenCounts(col(textCol))).as("tc"))
      .select(col(idCol), col("tc.tok").as("tok"), col("tc.cnt").as("c"))
      .filter(length(col("tok")) >= 1)
    val vt = seg.select(col("tok").as("v_tok"), col("n_syms"))
    words.join(vt, col("tok") === col("v_tok"))
      .groupBy(col(idCol))
      .agg(sum(col("c")).as("n_words"),
        sum(col("c") * length(col("tok")).cast("long")).as("n_chars"),
        sum(col("c") * col("n_syms")).as("n_tokens"))
      .withColumn("chars_per_token",
        round(col("n_chars").cast("double") / col("n_tokens"), 4))
  }

  /** DuckDB twin of [[bpeEncodeStats]]: the same unrolled training
    * chain, the per-token symbol counts of the final segmentation, then
    * the corpus join + per-doc aggregate.
    */
  def bpeEncodeStatsSqlFor(merges: Int): String =
    s"""${bpeSqlCtes(merges)}
       |vt AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_syms FROM s$merges GROUP BY 1),
       |dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       |j AS (SELECT d.doc_id, d.tok, vt.n_syms FROM dw d JOIN vt ON vt.tok = d.tok
       |      WHERE length(d.tok) >= 1)
       |SELECT doc_id, count(*) AS n_words,
       |       CAST(sum(length(tok)) AS BIGINT) AS n_chars,
       |       CAST(sum(n_syms) AS BIGINT) AS n_tokens,
       |       round(CAST(sum(length(tok)) AS DOUBLE) / sum(n_syms), 4) AS chars_per_token
       |FROM j GROUP BY 1""".stripMargin

  /** Document fingerprint: full-content hash plus a winnowing-style
    * min-shingle-hash (stable under small appends, unlike the full hash).
    */
  def fingerprint(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // r19: the min-shingle-hash tracks row-locally ([[MinShingleMd5]] —
    // one pass, min as two unsigned longs) instead of exploding every
    // shingle through a per-doc min aggregate and a left join back to
    // the corpus (88.8 s at sf100 for a one-scan shape). min is
    // duplicate-insensitive, so walk order is irrelevant; docs shorter
    // than the shingle width get the expression's null = the old left
    // join's missing-row null.
    docs.select(col(idCol), md5(col(textCol)).as("fp_full"),
      VectorExpressions.minShingleMd5(col(textCol), 8, 4).as("fp_min"))
  }

  val fingerprintSql: String =
    s"""WITH sh AS (${shinglesSql()}),
       |m AS (SELECT doc_id, min(md5(sh)) AS fp_min FROM sh GROUP BY 1)
       |SELECT d.doc_id, md5(d.text) AS fp_full, m.fp_min
       |FROM documents d LEFT JOIN m ON d.doc_id = m.doc_id""".stripMargin

  /** Canonical text normalization for dedup pipelines: lowercase, strip
    * non-alphanumerics to spaces, collapse whitespace, trim — then a
    * content hash of the normal form (catches case/punctuation-only dups
    * that exact hashing misses).
    */
  def normalize(textCol: Column): Column =
    VectorExpressions.normalizeText(textCol) // compiled single pass; bit-parity contract in [[NormalizeText]]

  def normalizedHash(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    docs.select(col(idCol), md5(normalize(col(textCol))).as("norm_hash"))
  }

  val normalizedHashSql: String =
    "SELECT doc_id, md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS norm_hash FROM documents"

  /** Corpus-level word-bigram frequencies, top-k (tie-break on the bigram
    * text). The positional pairing stays per-document (small arrays), the
    * count is a plain mergeable aggregation — at 100 TB the shuffle
    * carries |distinct bigrams|, and a df-cap/threshold would bound a
    * pathological vocabulary.
    */
  def topBigrams(docs: DataFrame, textCol: String, k: Int): DataFrame = {
    // r20: occurrence-grain bigram explode → [[BigramCounts]] map grain
    // (one compiled pass per doc; null = the size(w) >= 2 filter); the
    // global count becomes Σ of per-doc weights — identical integers.
    docs.select(explode(VectorExpressions.bigramCounts(col(textCol))).as("bc"))
      .groupBy(col("bc.bigram").as("bigram")).agg(sum(col("bc.cnt")).as("cnt"))
      .orderBy(col("cnt").desc, col("bigram").asc)
      .limit(k)
  }

  val topBigramsSql: String =
    """WITH ws AS (SELECT string_split(text, ' ') AS w FROM documents),
      |bg AS (SELECT unnest(list_transform(generate_series(1, len(w)-1), i -> w[i] || ' ' || w[i+1])) AS bigram
      |       FROM ws WHERE len(w) >= 2)
      |SELECT bigram, count(*) AS cnt FROM bg GROUP BY 1
      |ORDER BY cnt DESC, bigram ASC LIMIT 20""".stripMargin

  /** Top-k terms per document by TF-IDF with RAW idf (score = tf·N/df, no
    * log): tf·N is an exact integer product, so the score is a single IEEE
    * division — bit-identical across engines, where log-idf would differ
    * in the last ulp between libm implementations and break the oracle
    * hash. Raw idf preserves the tf-idf ranking's monotonicity in tf and
    * 1/df; ties (equal tf and df) break on the term text.
    *
    * Scale shape: tf is one (doc, term) hash aggregation off the token
    * explosion (map-side combined); df aggregates the tf table again, so
    * the shuffle carries |vocabulary|, not corpus tokens; N joins in as a
    * broadcast scalar; the per-doc top-k is a window over doc partitions —
    * each partition is one document's distinct terms, never the corpus.
    */
  def tfidfTopTerms(docs: DataFrame, idCol: String, textCol: String, k: Int = 3): DataFrame = {
    // r20: tf is per-document-local work — [[TokenCounts]] emits the
    // (doc, term, tf) triples straight from one compiled pass, deleting
    // the corpus-token explode AND the (doc, term) hash-aggregate
    // exchange that produced the same frame.
    // tf feeds the df aggregation AND the scored join → persist
    val tf = docs.select(col(idCol),
        explode(VectorExpressions.tokenCounts(col(textCol))).as("tc"))
      .select(col(idCol), col("tc.tok").as("term"), col("tc.cnt").as("tf"))
      .persist()
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val nDocs = docs.agg(count(lit(1)).as("n_docs"))
    val scored = tf.join(dfreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .select(col(idCol), col("term"),
        ((col("tf") * col("n_docs")).cast("double") / col("df")).as("tfidf"))
    val w = Window.partitionBy(col(idCol)).orderBy(col("tfidf").desc, col("term").asc)
    scored
      .select(col(idCol), row_number().over(w).cast("long").as("rnk"), col("term"), col("tfidf"))
      .filter(col("rnk") <= k)
  }

  /** BM25 lexical retrieval: top-`k` documents per query term under the
    * Okapi BM25 score (k1 = 1.2, b = 0.75, Lucene's ln(1 + ·) idf so the
    * score is always positive). The lexical-retrieval primitive a
    * curation pipeline uses for benchmark-adjacent mining and
    * quote-source attribution where embedding recall is too fuzzy.
    *
    * Within one term, BM25 ordering is exactly the ordering of the
    * tf-normalization factor tf·(k1+1)/(tf + k1·(1−b+b·dl/avgdl)) — the
    * idf is a per-term positive constant — so the rank window orders by
    * that RATIONAL factor (exact-integer inputs, IEEE-identical across
    * engines) and the transcendental ln() appears only in the reported
    * score, rounded to 4 decimals.
    *
    * Scale shape: the `isin` literal filter prunes the token stream to
    * query-term postings BEFORE any shuffle (at 100 TB the term
    * dictionary is a broadcast join against a query-workload table —
    * same plan); df and corpus stats are broadcast one-row/`|terms|`-row
    * frames; the per-term top-k window ranks only those postings.
    */
  def bm25TopK(docs: DataFrame, idCol: String, textCol: String,
               queryTerms: Seq[String], k: Int = 5): DataFrame = {
    require(queryTerms.nonEmpty, "bm25TopK: empty query-term workload")
    val toks = docs.select(col(idCol), explode(split(col(textCol), " ")).as("term"))
      .filter(col("term").isin(queryTerms: _*))
    val tf = toks.groupBy(col(idCol), col("term")).agg(count(lit(1)).as("tf"))
    val dl = docs.select(col(idCol), size(split(col(textCol), " ")).cast("long").as("dl"))
    val stats = docs.agg(count(lit(1)).as("n_docs"),
        sum(size(split(col(textCol), " ")).cast("long")).as("sum_dl"))
      .select(col("n_docs"), (col("sum_dl").cast("double") / col("n_docs")).as("avgdl"))
    bm25Rank(tf, dl, stats, idCol, k)
  }

  /** The BM25 scoring + per-term top-k over pre-built query-term tf
    * (idCol, term, tf), doc-length (idCol, dl), and 1-row corpus-stats
    * (n_docs, avgdl) frames — shared by the inline [[bm25TopK]] and the
    * staged postings serve ([[SigIndex.bm25TopKStaged]]), so the two can
    * never diverge on the score arithmetic.
    */
  private[functions] def bm25Rank(tf0: DataFrame, dl: DataFrame, stats: DataFrame,
                                  idCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col("term")).orderBy(col("tfn").desc, col(idCol).asc)
    bm25Scored(tf0, dl, stats, idCol)
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("term"), col("rnk"), col(idCol), col("bm25"))
  }

  /** The scored-but-unranked BM25 candidates (term, idCol, tfn, bm25) —
    * the piece of [[bm25Rank]] below the rank window, exposed because the
    * STREAMING serve ranks per micro-batch in a stateful group instead
    * of a window (windows are unsupported on streams):
    * [[graft.streaming.StreamingOps.bm25TopKStream]] joins a query-term
    * stream against exactly this frame, so the two serves can never
    * diverge on score arithmetic.
    */
  private[graft] def bm25Scored(tf0: DataFrame, dl: DataFrame, stats: DataFrame,
                                idCol: String): DataFrame = {
    // tf feeds scoring AND the df aggregation → persist
    val tf = tf0.persist()
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val tfn = (col("tf") * lit(2.2)) /
      (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * (col("dl") / col("avgdl"))))
    val idf = log(lit(1.0) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    tf.join(dl, Seq(idCol))
      .join(broadcast(dfreq), Seq("term"))
      .crossJoin(broadcast(stats))
      .withColumn("tfn", tfn)
      .select(col("term"), col(idCol), col("tfn"), round(idf * col("tfn"), 4).as("bm25"))
  }

  /** Registered BM25 query workload: three head terms plus the one rare
    * marker token in the synthetic vocabulary ('dup', df ≈ 5%), so the
    * report exercises both the high- and low-idf regimes.
    */
  val Bm25Terms: Seq[String] = Seq("dup", "spark", "vector", "window")

  def bm25TopKSqlFor(queryTerms: Seq[String], k: Int): String = {
    val set = queryTerms.map(t => s"'$t'").mkString(", ")
    s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks
       |       WHERE term IN ($set) GROUP BY 1, 2),
       |dl AS (SELECT doc_id, CAST(len(string_split(text, ' ')) AS BIGINT) AS dl FROM documents),
       |stats AS (SELECT count(*) AS n_docs,
       |                 CAST(sum(len(string_split(text, ' '))) AS DOUBLE) / count(*) AS avgdl
       |          FROM documents),
       |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |scored AS (
       |  SELECT tf.term, tf.doc_id,
       |         (tf * 2.2) / (tf + 1.2 * (0.25 + 0.75 * (dl / avgdl))) AS tfn,
       |         ln(1.0 + (n_docs - df + 0.5) / (df + 0.5)) AS idf
       |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN stats),
       |r AS (SELECT term, doc_id, round(idf * tfn, 4) AS bm25,
       |             row_number() OVER (PARTITION BY term ORDER BY tfn DESC, doc_id ASC) AS rnk
       |      FROM scored)
       |SELECT term, rnk, doc_id, bm25 FROM r WHERE rnk <= $k""".stripMargin
  }

  val tfidfTopTermsSql: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
      |n AS (SELECT count(*) AS n_docs FROM documents),
      |scored AS (
      |  SELECT doc_id, term, CAST(tf * n_docs AS DOUBLE) / df AS tfidf
      |  FROM tf JOIN df USING (term) CROSS JOIN n),
      |r AS (SELECT doc_id, row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rnk,
      |             term, tfidf
      |      FROM scored)
      |SELECT doc_id, rnk, term, tfidf FROM r WHERE rnk <= 3""".stripMargin

  /** Deterministic train/validation/test split by content-independent id
    * hash — the reproducible data-splitting primitive every training
    * pipeline needs. Hash-based (not random) so the assignment is stable
    * under reshuffles, re-runs, and incremental corpus growth; md5 keeps
    * it portable across engines. Split fractions: test = first two hex
    * chars < '1a' (~10.2%), val < '33' (~19.9% − test), train otherwise.
    */
  /** The split assignment as a pure column expression — usable per-row on
    * a STREAM (no lookup table, no state), which is what makes the
    * streaming leakage monitor stateless on the split side.
    */
  def splitOf(id: Column): Column = {
    val h = substring(md5(id.cast("string")), 1, 2)
    when(h < "1a", "test").when(h < "33", "val").otherwise("train")
  }

  def dataSplit(docs: DataFrame, idCol: String): DataFrame =
    docs.select(col(idCol), splitOf(col(idCol)).as("split"))

  val dataSplitSql: String =
    """SELECT doc_id,
      |  CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '1a' THEN 'test'
      |       WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '33' THEN 'val'
      |       ELSE 'train' END AS split
      |FROM documents""".stripMargin

  /** Mixture sampling: keep each document with a per-source rate
    * (down-weighting noisy sources, up-weighting scarce ones is the core
    * corpus-mixing op). Deterministic hash-thresholding again — the kept
    * set is reproducible and grows monotonically with the rate.
    */
  def sourceMix(docs: DataFrame, idCol: String, sourceCol: String,
                rates: Map[String, String], defaultThreshold: String): DataFrame = {
    val h = substring(md5(col(idCol).cast("string")), 3, 2)
    val threshold = rates.foldLeft(lit(defaultThreshold)) { case (acc, (src, thr)) =>
      when(col(sourceCol) === src, thr).otherwise(acc)
    }
    docs.filter(h < threshold).select(col(idCol), col(sourceCol))
  }

  val sourceMixSql: String =
    """SELECT doc_id, source FROM documents
      |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 3, 2) <
      |  CASE WHEN source IN ('src0', 'src1', 'src2') THEN '80' ELSE 'cc' END""".stripMargin

  /** Gopher-style repetition signals per document: word count, distinct-
    * word ratio, and the fraction of the document occupied by its single
    * most frequent word-bigram. High top-bigram fraction / low distinct
    * ratio flag boilerplate and degenerate generations — the standard
    * repetition filters a pretraining pipeline applies after dedup.
    *
    * Scale shape: the distinct ratio is per-row map work (array_distinct
    * inside the row, no shuffle); the bigram mode needs one (doc, bigram)
    * hash aggregation (map-side combined — duplicate bigrams collapse
    * before the exchange) and a per-doc max. Both shuffles carry counts,
    * never text. Divisions are single IEEE ops on exact integers —
    * engine-portable.
    */
  def docRepetition(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // r19: all three counters are per-document-local, so they come from
    // ONE compiled pass ([[RepetitionStats]], bit-parity contract in its
    // scaladoc) — the composition exploded every bigram through two
    // per-doc aggregates and a join back to the corpus (110.3 s at
    // sf100, paid AGAIN inside quality_filter). The when() reproduces
    // the old null-left-join → coalesce(…, 0.0) for sub-2-token docs.
    docs.select(col(idCol), VectorExpressions.repetitionStats(col(textCol)).as("st"))
      .select(col(idCol),
        col("st.n_words").as("n_words"),
        (col("st.n_distinct").cast("double") / col("st.n_words")).as("distinct_ratio"),
        when(col("st.n_words") >= 2,
          col("st.top_bigram").cast("double") / (col("st.n_words") - 1))
          .otherwise(lit(0.0)).as("top_bigram_frac"))
  }

  val docRepetitionSql: String =
    """WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
      |bg AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w)-1), i -> w[i] || ' ' || w[i+1])) AS bigram
      |       FROM ws WHERE len(w) >= 2),
      |bc AS (SELECT doc_id, bigram, count(*) AS cnt FROM bg GROUP BY 1, 2),
      |tp AS (SELECT doc_id AS t_id, max(cnt) AS top_cnt FROM bc GROUP BY 1)
      |SELECT ws.doc_id, CAST(len(w) AS BIGINT) AS n_words,
      |  CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS distinct_ratio,
      |  coalesce(CAST(tp.top_cnt AS DOUBLE) / (len(w) - 1), 0.0) AS top_bigram_frac
      |FROM ws LEFT JOIN tp ON ws.doc_id = tp.t_id""".stripMargin

  // PII/sensitive-term scrubbing patterns. ASCII-only constructs (\b,
  // character classes, bounded repeats, alternation) behave identically
  // under Java regex (Spark) and RE2 (DuckDB) — the oracle depends on it.
  val emailPattern = "[a-z0-9.]+@[a-z0-9.]+"
  val longNumPattern = "[0-9]{6,}"
  val dictPattern = "\\b(customer|order|supplier|part)\\b"

  /** PII / sensitive-term scrubbing: count and redact email-shaped spans,
    * long digit runs (phone/account-number-shaped), and a dictionary of
    * sensitive terms, then fingerprint the scrubbed form. Pure per-row
    * regex map work — codegen'd, no shuffle, embarrassingly parallel; the
    * replacement ORDER is part of the contract (emails first, then digit
    * runs, then dictionary terms) so downstream hashes are reproducible.
    */
  def piiScrub(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // r21 (VERDICT r20 item 2): the three regexp_count passes on the
    // original text plus the three CHAINED regexp_replace passes — six
    // full-text Java-regex walks, each with a UTF8String↔String round
    // trip — fuse into [[PiiScrubStats]]'s byte scans (parity contract
    // and the no-backtracking argument in its scaladoc; CurationSpec
    // pins the expression against this exact composition). The md5 stays
    // the same built-in Column it always was.
    docs.select(col(idCol),
        VectorExpressions.piiScrubStats(col(textCol)).as("ps"))
      .select(col(idCol),
        col("ps.n_email").as("n_email"),
        col("ps.n_num").as("n_num"),
        col("ps.n_dict").as("n_dict"),
        md5(col("ps.scrubbed")).as("scrub_hash"))
  }

  val piiScrubSql: String =
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '$emailPattern')) AS BIGINT) AS n_email,
       |  CAST(len(regexp_extract_all(text, '$longNumPattern')) AS BIGINT) AS n_num,
       |  CAST(len(regexp_extract_all(text, '$dictPattern')) AS BIGINT) AS n_dict,
       |  md5(regexp_replace(regexp_replace(regexp_replace(text,
       |      '$emailPattern', '<EMAIL>', 'g'),
       |      '$longNumPattern', '<NUM>', 'g'),
       |      '$dictPattern', '<ENT>', 'g')) AS scrub_hash
       |FROM documents""".stripMargin

  /** The [[langId]] argmax as a single inline Column (marker counts as
    * subexpressions instead of materialized c_* columns) — for composition
    * into wider per-doc projections.
    */
  private def langPred(textCol: Column): Column = {
    // r20: counts come off ONE compiled [[LangMarkerCounts]] walk (the
    // element_at probes over the same subtree CSE into a single
    // evaluation under whole-stage codegen) instead of five
    // split+filter subexpressions.
    val lmc = VectorExpressions.langMarkerCounts(textCol, langMarkers.map(_._2))
    val counts = langMarkers.map(_._1).zipWithIndex.map {
      case (l, i) => l -> element_at(lmc, i + 1) }.toMap
    val langs = langMarkers.map(_._1)
    langs.init.foldRight(lit(langs.last): Column) { (lang, els) =>
      val others = langs.filterNot(_ == lang).map(counts)
      when(counts(lang) >= greatest(others: _*), lang).otherwise(els)
    }
  }

  /** Composite C4/Gopher-style keep/drop decision: language, length, and
    * repetition thresholds combined into one boolean per document — the
    * filter stage a pretraining pipeline runs after dedup, with the
    * signals kept alongside the verdict for threshold audits.
    *
    * Composition stays columnar: language and length are per-row map work
    * in a single projection over the scan; only the repetition signals
    * (one map-side-combined bigram aggregation) need a join back on the
    * document id. Two shuffles total at any corpus size, both carrying
    * per-doc scalars.
    */
  def qualityFilter(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val rep = docRepetition(docs, idCol, textCol)
      .select(col(idCol).as("r_id"), col("n_words"), col("distinct_ratio"), col("top_bigram_frac"))
    docs.select(col(idCol), langPred(col(textCol)).as("lang_pred"))
      .join(rep, col(idCol) === col("r_id"))
      .select(col(idCol), col("n_words"), col("distinct_ratio"), col("top_bigram_frac"), col("lang_pred"),
        (col("n_words") >= 30 && col("distinct_ratio") >= 0.4 &&
          col("top_bigram_frac") <= 0.08 && col("lang_pred") === "en").as("keep"))
  }

  val qualityFilterSql: String = {
    // langIdSql / docRepetitionSql reused verbatim as nested CTEs so the
    // oracle can never drift from the single-signal definitions
    s"""WITH rep AS ($docRepetitionSql),
       |lang AS ($langIdSql)
       |SELECT rep.doc_id, rep.n_words, rep.distinct_ratio, rep.top_bigram_frac, lang.lang_pred,
       |  (rep.n_words >= 30 AND rep.distinct_ratio >= 0.4
       |   AND rep.top_bigram_frac <= 0.08 AND lang.lang_pred = 'en') AS keep
       |FROM rep JOIN lang ON rep.doc_id = lang.doc_id""".stripMargin
  }

  /** Per-source corpus length statistics — the profile a pipeline checks
    * before setting mixture rates and length filters: document count,
    * total characters, and exact interpolated length percentiles. One
    * partial+final aggregation; the percentile state is per-group sorted
    * values, bounded here by docs-per-source (for an approximate variant
    * at extreme cardinality, `approx_percentile` drops in).
    */
  def docLenStats(docs: DataFrame, sourceCol: String, lenCol: String): DataFrame =
    docs.groupBy(col(sourceCol))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col(lenCol)).as("total_chars"),
        round(expr(s"percentile($lenCol, 0.5)"), 6).as("p50_chars"),
        round(expr(s"percentile($lenCol, 0.9)"), 6).as("p90_chars"))

  val docLenStatsSql: String =
    """SELECT source, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS total_chars,
      |  round(quantile_cont(n_chars, 0.5), 6) AS p50_chars,
      |  round(quantile_cont(n_chars, 0.9), 6) AS p90_chars
      |FROM documents GROUP BY 1""".stripMargin

  /** Balanced stratified sampling: per-stratum keep rates computed IN the
    * plan so every stratum downsamples to (approximately) the size of the
    * smallest one — the corpus-balancing op behind "equalize languages /
    * sources before training". Rates are hash-thresholded like
    * [[sourceMix]] (reproducible, monotone under corpus growth) but
    * derived from the data: rate_s = min_count / count_s, quantized to
    * 1/65536 granularity as a 4-hex-digit threshold over an md5 slice
    * (capped at 65535/65536, so the smallest stratum keeps all but the
    * 1-in-65536 'ffff' docs — the cap is the price of a pure string
    * compare that behaves identically in every engine).
    *
    * Scale shape: the stratum census is one map-side-combined aggregation
    * (|strata| rows), the target a 1-row aggregate of that; both broadcast
    * back onto the scan, so the sample itself is a single filtered pass —
    * no per-doc shuffle at any corpus size.
    */
  def stratifiedSample(docs: DataFrame, idCol: String, stratumCol: String): DataFrame = {
    // counts feeds BOTH the min-target aggregate and the threshold rows —
    // persist the |strata|-row census or the full corpus scan runs twice
    val counts = docs.groupBy(col(stratumCol)).agg(count(lit(1)).as("cnt")).persist()
    val target = counts.agg(min(col("cnt")).as("tgt"))
    val thr = counts.crossJoin(broadcast(target))
      .select(col(stratumCol).as("t_stratum"),
        format_string("%04x",
          least(floor(col("tgt") * lit(65536.0) / col("cnt")), lit(65535.0)).cast("int")).as("h"))
    docs.join(broadcast(thr), col(stratumCol) === col("t_stratum"))
      .filter(substring(md5(col(idCol).cast("string")), 5, 4) < col("h"))
      .select(col(idCol), col(stratumCol))
  }

  val stratifiedSampleSql: String =
    """WITH c AS (SELECT lang, count(*) AS cnt FROM documents GROUP BY 1),
      |t AS (SELECT min(cnt) AS tgt FROM c),
      |thr AS (SELECT lang AS t_stratum,
      |          printf('%04x', CAST(least(floor(tgt * 65536.0 / cnt), 65535.0) AS INT)) AS h
      |        FROM c CROSS JOIN t)
      |SELECT doc_id, lang FROM documents JOIN thr ON lang = t_stratum
      |WHERE substr(md5(CAST(doc_id AS VARCHAR)), 5, 4) < h""".stripMargin

  /** Representative selection after exact dedup: group documents by
    * normalized-text hash and keep the best row per group (longest
    * original text, doc_id tie-break), reporting the group size. This is
    * the "which copy survives" half of dedup — pipelines keep the longest
    * (least-truncated) variant of each duplicate cluster.
    *
    * Scale shape: the window partitions by the 32-char md5 of the
    * normalized text, NOT the text itself — the shuffle carries
    * (hash, length, id) triples, never document bodies. Each window
    * partition is one duplicate group (tiny); no global sort anywhere.
    */
  def dedupKeepBest(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val slim = docs.select(col(idCol), md5(normalize(col(textCol))).as("nh"),
      length(col(textCol)).cast("long").as("doc_len"))
    val grp = Window.partitionBy(col("nh"))
    val pick = grp.orderBy(col("doc_len").desc, col(idCol).asc)
    slim.select(col(idCol), col("doc_len"),
        row_number().over(pick).as("rn"), count(lit(1)).over(grp).as("n_dups"))
      .filter(col("rn") === 1)
      .select(col(idCol), col("doc_len"), col("n_dups"))
  }

  val dedupKeepBestSql: String =
    """WITH n AS (SELECT doc_id,
      |    md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS nh,
      |    CAST(length(text) AS BIGINT) AS doc_len
      |  FROM documents),
      |r AS (SELECT doc_id, doc_len,
      |        row_number() OVER (PARTITION BY nh ORDER BY doc_len DESC, doc_id ASC) AS rn,
      |        count(*) OVER (PARTITION BY nh) AS n_dups
      |      FROM n)
      |SELECT doc_id, doc_len, n_dups FROM r WHERE rn = 1""".stripMargin

  /** Zipf profile: the top-k corpus tokens with their frequency rank —
    * the vocabulary sanity check (stopword head, rank/frequency curve)
    * run before tokenizer training. Token counting is one map-side-
    * combined aggregation (shuffle carries |vocabulary|); the top-k is
    * TakeOrderedAndProject (distributed partial top-k, no global sort);
    * only the final k rows pass through the single-partition ranking
    * window — 50 rows by construction, so the WindowExec
    * single-partition path is the right plan, not an accident.
    */
  def zipfTokens(docs: DataFrame, textCol: String, k: Int = 50): DataFrame = {
    val top = docs.select(explode(split(col(textCol), " ")).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("token").asc)
      .limit(k)
    top.select(
      row_number().over(Window.orderBy(col("freq").desc, col("token").asc)).cast("long").as("rnk"),
      col("token"), col("freq"))
  }

  val zipfTokensSql: String =
    """WITH f AS (SELECT token, count(*) AS freq
      |           FROM (SELECT unnest(string_split(text, ' ')) AS token FROM documents)
      |           WHERE token <> '' GROUP BY 1),
      |t AS (SELECT token, freq FROM f ORDER BY freq DESC, token ASC LIMIT 50)
      |SELECT row_number() OVER (ORDER BY freq DESC, token ASC) AS rnk, token, freq FROM t""".stripMargin

  /** Count-Min-sketch heavy hitters: build a (d × w) CMS over the token
    * stream, then report the top `k` tokens by exact count alongside their
    * CMS estimate — the sketch-vs-truth view a pipeline uses to validate
    * that a CMS sized (d, w) is accurate enough before trusting it on the
    * full corpus. Bucket hashes are `d` disjoint byte slices of ONE
    * md5(token) digest reduced mod `w` (one digest per distinct token, the
    * same slice-reuse trick as [[Dedup.minhashSignatures]]), so the sketch
    * is a pure deterministic function of the data — which is what makes a
    * DuckDB oracle possible for an "approximate" structure: CMS counters
    * are order-independent SUMS, so any engine that agrees on the hash
    * agrees on every counter and every estimate. Guarantees est ≥ exact
    * always (collisions only inflate), spec-checked.
    *
    * Scale shape: the exact count is one hash-groupBy (map-side combined —
    * this operator is the CALIBRATION view, so it keeps the exact path);
    * the sketch itself is built from the per-distinct-token counts, a d×
    * expansion of the DISTINCT vocabulary (not the token stream), and
    * collapses to d·w counter rows — constant size, broadcast-joined back
    * for the estimate lookup. A production ingest that wants ONLY the
    * sketch folds the same d expressions into one partial aggregate over
    * the raw stream: d·w cells per partition merge by + (the counters'
    * sum-structure IS the mergeability), no vocabulary shuffle at all.
    */
  def heavyHittersCms(docs: DataFrame, textCol: String,
                      w: Int = 64, d: Int = 4, k: Int = 20): DataFrame = {
    require(d >= 1 && d <= 16 && w >= 2, "need 1 <= d <= 16 byte slices and w >= 2")
    val counts = docs.select(explode(split(col(textCol), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .groupBy(col("tok")).agg(count(lit(1)).as("exact_cnt"))
    // one (r, bucket, cnt) entry per hash row per DISTINCT token
    val entries = counts.withColumn("hh", md5(col("tok")))
      .select(col("tok"), col("exact_cnt"),
        posexplode(array((0 until d).map { r =>
          pmod(conv(substring(col("hh"), 2 * r + 1, 2), 16, 10).cast("long"), lit(w.toLong))
        }: _*)).as(Seq("r", "bucket")))
      .persist() // two consumers: counter build + estimate lookup
    val counters = entries.groupBy(col("r"), col("bucket"))
      .agg(sum(col("exact_cnt")).as("cell")) // ≤ d·w rows
    entries.join(counters, Seq("r", "bucket"))
      .groupBy(col("tok"))
      .agg(min(col("cell")).as("cms_est"), min(col("exact_cnt")).as("exact_cnt"))
      .select(col("tok"), col("exact_cnt"), col("cms_est"))
      .orderBy(col("exact_cnt").desc, col("tok").asc)
      .limit(k)
  }

  /** Shared c (exact counts) + e (per-token CMS cell coordinates) CTE
    * prefix of the two CMS oracles — one definition so the Spark
    * Aggregator, the calibration query, and both SQL twins can never
    * disagree on the hash.
    */
  private def cmsEntriesSql(w: Int, d: Int): String = {
    // value of the lowercase hex digit at 1-based position o (an expression)
    def hv(o: String) =
      s"(CASE WHEN ascii(substr(hh, $o, 1)) >= 97 THEN ascii(substr(hh, $o, 1)) - 87 ELSE ascii(substr(hh, $o, 1)) - 48 END)"
    val byte = s"(${hv("CAST(2*r+1 AS INT)")} * 16 + ${hv("CAST(2*r+2 AS INT)")})"
    s"""c AS (SELECT tok, count(*) AS exact_cnt
       |      FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
       |      WHERE tok <> '' GROUP BY 1),
       |e AS (SELECT tok, exact_cnt, r, CAST($byte % $w AS BIGINT) AS bucket
       |      FROM (SELECT tok, exact_cnt, md5(tok) AS hh FROM c),
       |           unnest(generate_series(0, ${d - 1})) AS u(r))""".stripMargin
  }

  def heavyHittersCmsSqlFor(w: Int = 64, d: Int = 4, k: Int = 20): String =
    s"""WITH ${cmsEntriesSql(w, d)},
       |ct AS (SELECT r, bucket, sum(exact_cnt) AS cell FROM e GROUP BY 1, 2)
       |SELECT e.tok, CAST(min(e.exact_cnt) AS BIGINT) AS exact_cnt,
       |       CAST(min(ct.cell) AS BIGINT) AS cms_est
       |FROM e JOIN ct ON e.r = ct.r AND e.bucket = ct.bucket
       |GROUP BY 1 ORDER BY exact_cnt DESC, tok ASC LIMIT $k""".stripMargin

  /** The production CMS ingest path: fold the whole token stream into ONE
    * (d × w) counter buffer with a typed [[CmsAggregator]] — no vocabulary
    * ever shuffles. Spark runs the Aggregator as a two-phase physical agg:
    * each input partition reduces into its own d·w-cell buffer map-side,
    * and only those constant-size buffers (d·w longs ≈ 2 KB here) cross
    * the wire to merge — per-partition cost is O(rows), shuffle volume is
    * O(partitions), independent of corpus size or vocabulary. That merge
    * tree is exactly CMS's algebraic structure (counters are sums), and
    * the same property makes the aggregator valid under streaming
    * incremental execution. Emitted exploded to one row per non-empty
    * cell, bit-identical to the DuckDB rebuild from exact counts — and to
    * [[heavyHittersCms]]'s join-built counters, which is the registry's
    * cross-check that sketch-by-aggregator equals sketch-by-calibration.
    */
  def cmsCounters(docs: DataFrame, textCol: String,
                  w: Int = 64, d: Int = 4): DataFrame = {
    require(d >= 1 && d <= 16 && w >= 2, "need 1 <= d <= 16 byte slices and w >= 2")
    val agg = udaf(new CmsAggregator(w, d))
    docs.select(explode(split(col(textCol), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .agg(agg(col("tok")).as("cells"))
      .select(posexplode(col("cells")).as(Seq("i", "cell")))
      .filter(col("cell") > 0L)
      .select(expr(s"i div $w").cast("int").as("r"),
        pmod(col("i"), lit(w)).cast("long").as("bucket"), col("cell"))
  }

  def cmsCountersSqlFor(w: Int = 64, d: Int = 4): String =
    s"""WITH ${cmsEntriesSql(w, d)}
       |SELECT CAST(r AS INT) AS r, bucket, CAST(sum(exact_cnt) AS BIGINT) AS cell
       |FROM e GROUP BY 1, 2""".stripMargin

  /** Count-Min counter buffer as a typed Aggregator: cell (r, b) counts
    * tokens whose md5 byte r reduces to bucket b mod w — the same hash the
    * SQL twins recompute from hex. Flat primitive buffer, while-loop
    * reduce (the [[Dedup.SimHashAggregator]] discipline: no per-row
    * allocation beyond the digest).
    */
  class CmsAggregator(w: Int, d: Int)
    extends org.apache.spark.sql.expressions.Aggregator[String, Array[Long], Array[Long]] {
    override def zero: Array[Long] = new Array[Long](d * w)
    override def reduce(b: Array[Long], tok: String): Array[Long] = {
      val dig = java.security.MessageDigest.getInstance("MD5")
        .digest(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      var r = 0
      while (r < d) { b(r * w + (dig(r) & 0xff) % w) += 1L; r += 1 }
      b
    }
    override def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var i = 0
      while (i < x.length) { x(i) += y(i); i += 1 }
      x
    }
    override def finish(b: Array[Long]): Array[Long] = b
    override def bufferEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: org.apache.spark.sql.Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  /** Benchmark-contamination check: for every corpus document outside the
    * benchmark set, count how many of its distinct stride-sampled
    * character shingles also appear in the benchmark set — the standard
    * "is my training data contaminated with eval data" n-gram overlap
    * scan (docs with high n_shared get quarantined).
    *
    * Scale shape: both sides reuse [[shingles]] (stride-bounded volume);
    * the benchmark side collapses to its DISTINCT shingle set — benchmark
    * suites are tiny relative to a 100 TB corpus, so that set broadcasts
    * (AQE decides; no hint, so a huge benchmark degrades to a shuffled
    * join instead of an OOM). The per-doc count aggregates map-side.
    */
  /** Exact benchmark-contamination check, BLOOM-PREFILTERED (r19): the
    * candidate side no longer explodes ~1 B shingle rows into the join —
    * each document emits only its Bloom-flagged shingles
    * ([[BloomFlaggedShingles]], row-local: one md5 + 3 bit loads per
    * shingle against the broadcast corpus bitset), and the exact join
    * against the benchmark's true distinct-shingle set confirms or
    * rejects those few. Bit-identical to joining ALL distinct candidate
    * shingles because the Bloom direction has no false negatives — the
    * textbook Bloom deployment, applied to this op's own oracle
    * contract (the DuckDB SQL is unchanged). sf100: 194.1 s → the
    * benchmark-side explode+distinct is now the dominant term.
    */
  def contaminationCheck(docs: DataFrame, idCol: String, textCol: String,
                         benchPred: Column, width: Int = 8, stride: Int = 4): DataFrame =
    contaminationCheckSized(docs, idCol, textCol, benchPred, width, stride,
      ExactSetMaxShingles, MaxPrefilterBits)

  /** Benchmark sets up to this many distinct shingles take the
    * broadcast-exact-set path (zero-shuffle candidate side): 2^24
    * shingles ≈ 130 MB blob + ~260 MB index per JVM — comfortably inside
    * the bench contract heap, and far above any real benchmark suite
    * (sf100's slice is 5.3 M).
    */
  val ExactSetMaxShingles: Long = 1L << 24

  /** Prefilter cap for the > [[ExactSetMaxShingles]] fallback: 2^27 bits
    * = 16 MB broadcast, fill < 0.5 to ~31 M distinct shingles at k = 3.
    */
  val MaxPrefilterBits: Int = 1 << 27

  /** [[contaminationCheck]] with explicit size caps — the production
    * entry point passes the defaults; the spec passes tiny caps to force
    * each fallback branch and pin its parity with the exact-set plan.
    *
    * r21 (VERDICT r20 item 3, resolved by measurement): the item asked
    * for a right-sized Bloom prefilter in front of the exact join. Built
    * and probed at sf100 — and REJECTED by its own decomposition: the
    * corpus's true per-shingle contamination rate is ~100% (304.3 M of
    * ~305 M candidate shingles are genuinely in the benchmark set — the
    * scaled corpus shares its generator vocabulary), so NO prefilter can
    * shrink the join input, and the 2^25-bit filter (fill 0.379,
    * fp 5.4%) measured 57.8 s vs the r20 bypass's 48.4 s. What the
    * decomposition DID show: the walks are ~23 s and the 300 M-row
    * shingle JOIN is the dominant term. The benchmark side, however, is
    * CONSTANT-SIZE relative to the corpus (the contaminationBloom scale
    * contract) — so the primary path now broadcasts the benchmark's
    * distinct shingles as one array row and counts per-document hits
    * row-locally against a compact exact [[ShingleSet]]
    * ([[SharedShingleCount]]): the candidate side never explodes and
    * never shuffles. Fallbacks, in order, when the set exceeds
    * `maxShingles`: the right-sized wide-Bloom prefilter in front of the
    * join (fill/fpRate logged), then the straight bypass join when even
    * that saturates. All three plans are bit-identical (spec-pinned).
    *
    * PLAN-TIME JOBS (the [[Curation.semDedupAuto]] precedent, documented
    * per ADVICE r20): building this DataFrame runs `bench.count()` over
    * the benchmark slice's distinct shingles (materializing the
    * persisted set every branch reuses — the bench side is scanned ONCE
    * instead of twice), plus, on the prefilter fallback only, a
    * ≤ bits/64-row bitset aggregation over that cached set.
    * Explain/dry construction pays them too.
    */
  private[graft] def contaminationCheckSized(docs: DataFrame, idCol: String,
      textCol: String, benchPred: Column, width: Int, stride: Int,
      maxShingles: Long, maxBits: Int): DataFrame = {
    require(maxBits >= 64 && Integer.bitCount(maxBits) == 1,
      s"contaminationCheck: maxBits ($maxBits) must be a power of two >= 64")
    val spark = docs.sparkSession
    val k = Curation.BloomHashes
    val bench = docs.filter(benchPred)
      .select(explode(VectorExpressions.distinctShingles(
        col(textCol), width, stride)).as("sh"))
      .distinct()
      .persist() // consumed by the plan-time build AND the executed branch
    val n = bench.count()
    if (n <= maxShingles) {
      System.err.println(s"[contamination_check] bench_distinct=$n path=exact_set")
      val benchArr = bench.agg(collect_list(col("sh")).as("bench_sh"))
      docs.filter(!benchPred)
        .crossJoin(broadcast(benchArr))
        .select(col(idCol),
          VectorExpressions.sharedShingleCount(
            col(textCol), col("bench_sh"), width, stride, constantArray = true).as("n_shared"))
        .filter(col("n_shared") > 0)
    } else {
      val ideal = math.ceil(n.toDouble * k / math.log(2.0)).toLong
      val bits = math.min(maxBits.toLong, math.max(4096L,
        java.lang.Long.highestOneBit(math.max(1L, ideal - 1)) * 2L)).toInt
      val warr = new Array[Long](bits / 64)
      bench.select(explode(
          VectorExpressions.wideBloomPositions(col("sh"), k, bits)).as("p"))
        .groupBy(expr("p div 64").as("widx"))
        .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), p % 64))").as("wbits"))
        .collect()
        .foreach(r => warr(r.getLong(0).toInt) = r.getLong(1))
      val fill = warr.map(java.lang.Long.bitCount).sum.toDouble / bits
      val fpRate = math.pow(fill, k)
      System.err.println(f"[contamination_check] bench_distinct=$n bits=$bits " +
        f"fill=$fill%.3f fpRate=$fpRate%.4f path=${if (fpRate >= 0.5) "bypass" else "prefilter"}")
      val flagged =
        if (fpRate >= 0.5) // saturated even at the cap: the probe walk cannot pay
          docs.filter(!benchPred)
            .select(col(idCol),
              explode(VectorExpressions.distinctShingles(col(textCol), width, stride)).as("sh"))
        else {
          import spark.implicits._
          val bw = spark.createDataset(Seq(warr.toSeq)).toDF("bloom_words")
          docs.filter(!benchPred)
            .crossJoin(broadcast(bw))
            .select(col(idCol),
              explode(VectorExpressions.wideBloomFlaggedShingles(
                col(textCol), col("bloom_words"), width, stride, k,
                constantArray = true)).as("sh"))
        }
      flagged.join(bench, Seq("sh"))
        .groupBy(col(idCol)).agg(count(lit(1)).as("n_shared"))
    }
  }

  val contaminationCheckSql: String =
    """WITH bsh AS (SELECT DISTINCT substr(text, CAST(i AS INT), 8) AS sh
      |             FROM (SELECT text, unnest(generate_series(1, CAST(length(text)-7 AS BIGINT), 4)) AS i
      |                   FROM documents WHERE source = 'src0' AND length(text) >= 8)),
      |csh AS (SELECT DISTINCT doc_id, substr(text, CAST(i AS INT), 8) AS sh
      |        FROM (SELECT doc_id, text, unnest(generate_series(1, CAST(length(text)-7 AS BIGINT), 4)) AS i
      |              FROM documents WHERE source <> 'src0' AND length(text) >= 8))
      |SELECT doc_id, count(*) AS n_shared FROM csh JOIN bsh USING (sh) GROUP BY 1""".stripMargin

  /** Per-document mean token rarity — the log-free "perplexity proxy"
    * quality gate: score = mean over token occurrences of N/count(token)
    * (inverse unigram probability). Rare-vocabulary documents score high;
    * boilerplate scores ~1/p(top tokens). A real unigram LM would take
    * -log p; raw 1/p preserves the ranking and stays bit-reproducible
    * across engines (libm log implementations differ in the last ulp —
    * same reasoning as tf-idf's raw idf).
    *
    * Parity: each per-term rarity is quantized ONCE —
    * floor(N/cnt · 1e6) — a chain of exactly-specified IEEE ops, then
    * summed as exact integers (max N/cnt = N ⇒ quantized ≤ N·1e6; at
    * sf0.1's ~6M tokens that is 6e12 ≪ 2^53, and a 100 TB corpus would
    * switch the sum to decimal). The mean is one double division at the
    * end.
    *
    * Scale shape: tf is the same (doc, term) hash aggregation tf-idf
    * uses (map-side combined, persisted — it feeds the global counts AND
    * the scored join); the corpus frequency table aggregates tf again, so
    * that shuffle carries |vocabulary|; N broadcasts as a scalar; the
    * final per-doc aggregation is map-side combinable. No text on any
    * shuffle.
    */
  def tokenRarity(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    // r20: same seam as tfidfTopTerms — (doc, term, tf) straight from
    // [[TokenCounts]]'s compiled pass (empty-token filter kept), no
    // corpus-token explode, no (doc, term) aggregate exchange.
    val tf = docs.select(col(idCol),
        explode(VectorExpressions.tokenCounts(col(textCol))).as("tc"))
      .select(col(idCol), col("tc.tok").as("term"), col("tc.cnt").as("tf"))
      .filter(col("term") =!= "")
      .persist()
    val freq = tf.groupBy(col("term")).agg(sum(col("tf")).as("cnt"))
    val n = freq.agg(sum(col("cnt")).as("n_tok")) // one row
    val rarityQ = floor(col("n_tok").cast("double") / col("cnt") * lit(1e6)).cast("long")
    tf.join(freq, Seq("term"))
      .crossJoin(broadcast(n))
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * rarityQ).as("rarity_q"))
      .select(col(idCol), col("n_tokens"), col("rarity_q"),
        (col("rarity_q").cast("double") / col("n_tokens")).as("mean_rarity"))
  }

  val tokenRaritySql: String =
    """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
      |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE term <> '' GROUP BY 1, 2),
      |freq AS (SELECT term, CAST(sum(tf) AS BIGINT) AS cnt FROM tf GROUP BY 1),
      |n AS (SELECT CAST(sum(cnt) AS BIGINT) AS n_tok FROM freq)
      |SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
      |  CAST(sum(tf * CAST(floor(CAST(n_tok AS DOUBLE) / cnt * 1e6) AS BIGINT)) AS BIGINT) AS rarity_q,
      |  CAST(sum(tf * CAST(floor(CAST(n_tok AS DOUBLE) / cnt * 1e6) AS BIGINT)) AS DOUBLE)
      |    / CAST(sum(tf) AS BIGINT) AS mean_rarity
      |FROM tf JOIN freq USING (term) CROSS JOIN n
      |GROUP BY 1""".stripMargin

  /** Per-source duplication rate: the fraction of each source's documents
    * whose normalized text occurs more than once corpus-wide — the
    * curation dashboard number that decides which crawl/source gets a
    * harsher dedup pass. Composes [[normalize]]'s canonical form with a
    * corpus-wide occurrence count.
    *
    * Scale shape: occurrence counts are a hash aggregation on the 32-byte
    * md5 (map-side combined, |distinct hashes| on the wire); the join
    * back to per-doc rows is on the same hash (AQE picks broadcast only
    * if the distinct-hash table is small — at corpus scale it stays a
    * co-partitioned shuffled join); the per-source rollup carries a
    * handful of rows. Text itself never shuffles — only hashes.
    */
  def dupRatioBySource(docs: DataFrame, idCol: String, textCol: String,
                       sourceCol: String): DataFrame = {
    // Aggregate to (hash, source) counts BEFORE anything is consumed
    // twice: the persisted frame holds 32-byte hashes and counts, never
    // text, and the corpus scan runs exactly once.
    val g = docs.select(col(sourceCol), md5(normalize(col(textCol))).as("h"))
      .groupBy(col("h"), col(sourceCol)).agg(count(lit(1)).as("c_src"))
      .persist()
    val tot = g.groupBy(col("h")).agg(sum(col("c_src")).as("c"))
    g.join(tot, Seq("h"))
      .groupBy(col(sourceCol))
      .agg(sum(col("c_src")).as("n_docs"),
        sum(when(col("c") > 1, col("c_src")).otherwise(0L)).as("n_dup"))
      .select(col(sourceCol), col("n_docs"), col("n_dup"),
        (col("n_dup").cast("double") / col("n_docs")).as("dup_ratio"))
  }

  val dupRatioBySourceSql: String =
    """WITH hashed AS (
      |  SELECT source, md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'), ' +', ' ', 'g'))) AS h
      |  FROM documents),
      |counts AS (SELECT h, count(*) AS c FROM hashed GROUP BY 1)
      |SELECT source, count(*) AS n_docs,
      |  CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
      |  CAST(sum(CASE WHEN c > 1 THEN 1 ELSE 0 END) AS BIGINT) / CAST(count(*) AS DOUBLE) AS dup_ratio
      |FROM hashed JOIN counts USING (h)
      |GROUP BY 1""".stripMargin

  val defs: Seq[QueryDef] = Seq(
    QueryDef("data_split", (s, dir) => dataSplit(Tables.documents(s, dir), "doc_id"), Some(dataSplitSql)),
    QueryDef("source_mix",
      (s, dir) => sourceMix(Tables.documents(s, dir), "doc_id", "source",
        Map("src0" -> "80", "src1" -> "80", "src2" -> "80"), "cc"),
      Some(sourceMixSql)),
    QueryDef("text_normalize", (s, dir) => normalizedHash(Tables.documents(s, dir), "doc_id", "text"), Some(normalizedHashSql)),
    QueryDef("top_bigrams", (s, dir) => topBigrams(Tables.documents(s, dir), "text", 20), Some(topBigramsSql)),
    QueryDef("lang_id", (s, dir) => langId(Tables.documents(s, dir), "doc_id", "text"), Some(langIdSql)),
    QueryDef("text_quality", (s, dir) => qualityScore(Tables.documents(s, dir), "doc_id", "text"), Some(qualityScoreSql)),
    QueryDef("token_surprisal", (s, dir) => tokenSurprisal(Tables.documents(s, dir), "doc_id", "text"), Some(tokenSurprisalSql)),
    QueryDef("bigram_logprob", (s, dir) => bigramLogprob(Tables.documents(s, dir), "doc_id", "text"), Some(bigramLogprobSql)),
    QueryDef("bpe_merge_pairs", (s, dir) => bpeMergePairs(Tables.documents(s, dir), "text", 20), Some(bpeMergePairsSql)),
    QueryDef("bpe_merges_k4", (s, dir) => bpeTrain(Tables.documents(s, dir), "text", 4), Some(bpeTrainSqlFor(4))),
    // the production trainer shape: 2 rounds × 2 compatible merges —
    // driver round-trips halve; the oracle unrolls the batched selection
    // (top pair + top compatible pair) and simultaneous application
    QueryDef("bpe_merges_k4_batched", (s, dir) => bpeTrainBatched(Tables.documents(s, dir), "text", 4, 2), Some(bpeTrainBatchedB2SqlFor(2))),
    // deeper batched unroll (4 rounds × 2): later rounds select over
    // symbols minted by earlier BATCHES — the oracle proves the batched
    // selection/application loop cross-engine past the first iteration
    QueryDef("bpe_merges_k8_batched", (s, dir) => bpeTrainBatched(Tables.documents(s, dir), "text", 8, 2), Some(bpeTrainBatchedB2SqlFor(4))),
    QueryDef("bpe_vocab_k4", (s, dir) => bpeVocab(Tables.documents(s, dir), "text", 4, 30), Some(bpeVocabSqlFor(4, 30))),
    QueryDef("bpe_encode_k4",
      (s, dir) => bpeEncodeStats(Tables.documents(s, dir), "doc_id", "text", 4),
      Some(bpeEncodeStatsSqlFor(4))),
    QueryDef("token_count", (s, dir) => tokenCount(Tables.documents(s, dir), "doc_id", "text"), Some(tokenCountSql)),
    QueryDef("doc_fingerprint", (s, dir) => fingerprint(Tables.documents(s, dir), "doc_id", "text"), Some(fingerprintSql)),
    QueryDef("tfidf_top_terms", (s, dir) => tfidfTopTerms(Tables.documents(s, dir), "doc_id", "text"), Some(tfidfTopTermsSql)),
    QueryDef("bm25_topk",
      (s, dir) => bm25TopK(Tables.documents(s, dir), "doc_id", "text", Bm25Terms, 5),
      Some(bm25TopKSqlFor(Bm25Terms, 5))),
    QueryDef("doc_repetition", (s, dir) => docRepetition(Tables.documents(s, dir), "doc_id", "text"), Some(docRepetitionSql)),
    QueryDef("pii_scrub", (s, dir) => piiScrub(Tables.documents(s, dir), "doc_id", "text"), Some(piiScrubSql)),
    QueryDef("doc_len_stats", (s, dir) => docLenStats(Tables.documents(s, dir), "source", "n_chars"), Some(docLenStatsSql)),
    QueryDef("quality_filter", (s, dir) => qualityFilter(Tables.documents(s, dir), "doc_id", "text"), Some(qualityFilterSql)),
    QueryDef("stratified_sample",
      (s, dir) => stratifiedSample(Tables.documents(s, dir), "doc_id", "lang"),
      Some(stratifiedSampleSql)),
    QueryDef("dedup_keep_best",
      (s, dir) => dedupKeepBest(Tables.documents(s, dir), "doc_id", "text"),
      Some(dedupKeepBestSql)),
    QueryDef("zipf_tokens",
      (s, dir) => zipfTokens(Tables.documents(s, dir), "text"),
      Some(zipfTokensSql)),
    QueryDef("heavy_hitters_cms",
      (s, dir) => heavyHittersCms(Tables.documents(s, dir), "text"),
      Some(heavyHittersCmsSqlFor())),
    QueryDef("cms_counters",
      (s, dir) => cmsCounters(Tables.documents(s, dir), "text"),
      Some(cmsCountersSqlFor())),
    QueryDef("token_rarity",
      (s, dir) => tokenRarity(Tables.documents(s, dir), "doc_id", "text"),
      Some(tokenRaritySql)),
    QueryDef("dup_ratio_by_source",
      (s, dir) => dupRatioBySource(Tables.documents(s, dir), "doc_id", "text", "source"),
      Some(dupRatioBySourceSql)),
    QueryDef("contamination_check",
      (s, dir) => contaminationCheck(Tables.documents(s, dir), "doc_id", "text",
        col("source") === "src0"),
      Some(contaminationCheckSql)),
  )
}
