package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: runs every registered query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}.
  *
  * Each query is forced through the noop sink so the full plan executes
  * (a bare .count() would let Catalyst skip projections); one warm-up of
  * the smallest table primes the session so JVM/codegen startup is not
  * charged to the first query.
  *
  * EXPECTED warning in the tail: "WindowExec: No Partition Defined ...
  * single partition" — emitted by the global (non-keyed) window emulations
  * (count_window, session_count, window_elements...), whose
  * single-sequence semantics mirror Flink's parallelism-1
  * GlobalWindows/AllWindowed streams. Deliberate; the keyed twins are the
  * scale path (see Windows.countWindow).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    // SPARK_GRAFT_BENCH_SUBSET=r1 pins the run to the ROUND-1 registry
    // (the 59 qkeys of CORRECTNESS_r01.json): the full-registry total
    // grows with every round's additions, so round-over-round comparisons
    // of it conflate engine speed with registry size — this fixed subset
    // is the like-for-like series (recorded per round in BASELINE.md).
    // The value is matched, not discarded — and validated FIRST, before
    // the session build and table warm-up, so a typo fails in
    // milliseconds instead of after the multi-second warm-up.
    val subset = sys.env.get("SPARK_GRAFT_BENCH_SUBSET").map {
      case "r1" => Round1Keys
      case other => sys.error(
        s"SPARK_GRAFT_BENCH_SUBSET=$other not recognized (known: r1)")
    }
    // ONE builder shared with Verify/Explain/StageBench/Ab — see
    // graft.engine.RunnerSession for the full config rationale
    // (corpus-sized shuffle partitions, AQE, shuffled-hash preference,
    // UTC, SPARK_GRAFT_CONF overlay applied last).
    val spark = graft.engine.RunnerSession.build(sfDir, cpus)

    // Warm-up: touch every table once (file-index + footer + codegen/JIT
    // init) so first-touch setup is not charged to whichever query happens
    // to run first alphabetically.
    graft.engine.GraftSql.tableNames.foreach { t =>
      try {
        val df = if (t == "events") graft.engine.Tables.events(spark, sfDir)
        else graft.engine.Tables(spark, sfDir, t)
        df.write.format("noop").mode("overwrite").save()
      } catch { case _: Throwable => }
    }

    // Dev aid: SPARK_GRAFT_ONLY=q1,q2 restricts the run (unset → all).
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    // The Θ(n²)-by-construction gate twins are correctness baselines, not
    // production paths; above this corpus size their plans would dominate
    // the bench with work no pipeline should run: dedup_embedding is the
    // exact all-pairs baseline, and dedup_embedding_lsh's FIXED (32, 4)
    // band geometry carries the measured n²/2^bits candidate cliff (127 s
    // of a 412 s full-registry sf1 run; the corpus-sized
    // dedup_embedding_lsh_auto is the production path and stays in).
    // Skipping is a hard config (not convention), so a scale-up bench
    // cannot include them by accident — recorded in the JSON line.
    val QuadraticBaselines = Set("dedup_embedding", "dedup_embedding_lsh")
    val QuadraticMaxRows = 5000L
    val embRows =
      try graft.engine.Tables.rowCount(spark, sfDir, "embeddings")
      catch { case _: Throwable => 0L }
    val quadSkipped = if (embRows > QuadraticMaxRows) {
      System.err.println(
        s"[bench] skipping ${QuadraticBaselines.mkString(",")}: embeddings has " +
          s"$embRows rows > $QuadraticMaxRows — O(n²) exact baselines are " +
          "gate-only (use dedup_embedding_lsh_auto at scale)")
      QuadraticBaselines
    } else Set.empty[String]
    // semdedup_pairs scans within-cell EXACT pairs over the staged FIXED
    // 16-cell IVF postings: Σ|cell|² ≈ n²/16 — ~2.5e11 cosine pairs at
    // 2 M vectors. Round 18's first-ever full-registry sf100 run sat 65+
    // minutes inside one 2-straggler-task codegen stage of it (zero I/O,
    // pure dot-product CPU; thread dump pinned the stage) with hours-to-
    // days of work remaining — the dedup_embedding cliff in staged-IVF
    // form. It is the fixed-geometry oracle gate twin; semdedup_auto
    // (√n cells, Σ|cell|² ≈ n^1.5) is the production path and stays in.
    // Same hard-config treatment, same vector bound as the embedding
    // quadratics (1 M: the auto twin's measured envelope).
    val FixedCellPairScans = Set("semdedup_pairs")
    val FixedCellMaxRows = 1000000L
    val semdedupSkipped = if (embRows > FixedCellMaxRows) {
      System.err.println(
        s"[bench] skipping ${FixedCellPairScans.mkString(",")}: embeddings has " +
          s"$embRows rows > $FixedCellMaxRows — fixed 16-cell within-cell " +
          "exact pair scan is quadratic at this scale (gate-only baseline; " +
          "semdedup_auto is the production path)")
      FixedCellPairScans
    } else Set.empty[String]
    // The full-corpus EXACT anchors (n-gram jaccard, containment, and
    // the QA report's exact truth side — over every shingle posting,
    // staged AND inline forms alike) are correctness baselines whose
    // production paths are the sampled presets (dedup_*_staged_sampled,
    // 2.4-2.8 s at sf10). Above this corpus they are DISK-bound, not
    // compute-bound: at sf100 (5 M docs) each spills >50 GB of
    // posting-pair shuffle and ENOSPC'd this sandbox (staged forms in
    // round 14; the INLINE twins the first time the full registry ran at
    // sf100, round 15 — same posting-pair explosion, the store only
    // changes where the shingles come from). Same hard-config treatment
    // as the quadratic baselines — recorded in the JSON line, impossible
    // to include in a scale-up bench by accident.
    val ExactAnchors = Set("dedup_ngram_staged", "dedup_containment_staged",
      "dedup_ngram", "dedup_containment", "dedup_qa_report")
    val ExactAnchorMaxDocs = 1000000L
    val docRows =
      try graft.engine.Tables.rowCount(spark, sfDir, "documents")
      catch { case _: Throwable => 0L }
    val anchorSkipped = if (docRows > ExactAnchorMaxDocs) {
      System.err.println(
        s"[bench] skipping ${ExactAnchors.mkString(",")}: documents has " +
          s"$docRows rows > $ExactAnchorMaxDocs — full-corpus exact anchors " +
          "are disk-bound at this scale (use the _sampled presets)")
      ExactAnchors
    } else Set.empty[String]
    // SimHash's FIXED 4×16-bit band geometry is the dedup_embedding_lsh
    // cliff in document form: candidate volume ~ 4·n²/2^16, fine at every
    // gate scale, ~1.5 B pairs at 5 M docs — the first full-registry run
    // past the exact-anchor skip (round 16) found dedup_simhash spilling
    // ~55 GB of shuffle and dedup_simhash_md5 ENOSPC-ing right behind it.
    // Both are reference-parity correctness baselines (the md5 twin IS
    // the oracle contract); the corpus-sized near-dup paths at scale are
    // minhash-LSH and the auto-geometry embedding LSH. Same hard-config
    // treatment, same doc bound as the exact anchors.
    val FixedBandCliffs = Set("dedup_simhash", "dedup_simhash_md5")
    val simhashSkipped = if (docRows > ExactAnchorMaxDocs) {
      System.err.println(
        s"[bench] skipping ${FixedBandCliffs.mkString(",")}: documents has " +
          s"$docRows rows > $ExactAnchorMaxDocs — fixed 4×16-bit band " +
          "geometry is quadratic at this scale (gate-only baselines)")
      FixedBandCliffs
    } else Set.empty[String]
    val skipped = quadSkipped ++ anchorSkipped ++ simhashSkipped ++ semdedupSkipped
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) =>
        only.forall(_.contains(n)) && subset.forall(_.contains(n)) && !skipped.contains(n) }
    // Two timed runs per query, min reported: the second run measures
    // steady state, and min-of-2 filters co-tenant/GC noise spikes
    // (observed 0.3 s queries spiking to 20 s under external load).
    // SPARK_GRAFT_BENCH_RUNS=1 drops to a single timed run per query —
    // for time-boxed full-registry runs at the largest decades, where a
    // 3+ hour wall doubles for noise filtering that only matters on
    // sub-second queries. The JSON line records the protocol ("runs")
    // so an artifact always says which it used.
    val nRuns = sys.env.getOrElse("SPARK_GRAFT_BENCH_RUNS", "2") match {
      case "1" => 1
      case "2" => 2
      case other => sys.error(s"SPARK_GRAFT_BENCH_RUNS=$other not recognized (known: 1, 2)")
    }
    // Crash resume (SPARK_GRAFT_BENCH_RESUME=<prior artifact path>): reuse
    // the per-query seconds a prior PARTIAL run of the same registry
    // recorded, and execute only the keys it is missing or lists as
    // failed. Exists because a multi-hour full-registry run at the top
    // decade can die mid-flight (round 18: killed inside the unbounded
    // semdedup_pairs stage after 131 keys of good min-of-2 measurement) —
    // re-paying hours to re-measure already-measured keys is waste, but
    // silently splicing artifacts by hand is evidence-tampering. This
    // path makes the splice a named protocol: the JSON line carries
    // "resumed":<count> so the artifact itself says how many of its
    // numbers were carried over from the prior session.
    // Round-19 hardening (ADVICE r18): the prior artifact must come from
    // the SAME scale and subset protocol — resuming an sf10 artifact into
    // an sf100 session would silently record wrong-scale numbers, the
    // exact evidence-tampering risk the named protocol exists to prevent.
    // The spliced key NAMES land in the line ("resumed_keys"), and the
    // prior session's runs protocol is carried as "resumed_runs", so a
    // min-of-2 number spliced into a runs=1 session keeps its provenance.
    val resume: Option[(Map[String, Double], Int)] = sys.env.get("SPARK_GRAFT_BENCH_RESUME").map { p =>
      val txt = java.nio.file.Files.readString(java.nio.file.Paths.get(p))
      // Field extraction is anchored to the text AFTER the queries
      // object's closing brace (ADVICE r19): the queries map precedes
      // the top-level fields in the line Bench writes, so a qkey
      // literally named "sf"/"runs"/"subset" would otherwise be matched
      // first and silently corrupt the resume validation.
      val tail = {
        val qs = txt.indexOf("\"queries\":{")
        require(qs >= 0, s"resume artifact $p has no queries object")
        val t = txt.substring(txt.indexOf('}', qs))
        // the first '}' closes the queries object ONLY while that object
        // stays a flat map of numeric values; assert the separator Bench
        // itself writes so format drift fails loudly instead of silently
        // extracting sf/runs/subset from inside the queries body
        // (ADVICE r20)
        require(t.startsWith("},\"failed\":"),
          s"resume artifact $p: queries object does not end at the expected " +
            "'},\"failed\":' separator — format drift, refusing to parse")
        t
      }
      def strField(name: String): Option[String] =
        ("\"" + name + "\":\"([^\"]*)\"").r.findFirstMatchIn(tail).map(_.group(1))
      def intField(name: String): Option[Int] =
        ("\"" + name + "\":([0-9]+)").r.findFirstMatchIn(tail).map(_.group(1).toInt)
      val priorSf = strField("sf").getOrElse(sys.error(s"resume artifact $p has no sf field"))
      require(priorSf == sfDir,
        s"resume artifact $p measured sf '$priorSf' but this session runs '$sfDir' — " +
          "cross-scale splicing refused")
      val priorSubset = strField("subset") // None when "subset":null
      val curSubset = if (subset.isDefined) Some("r1") else None
      require(priorSubset == curSubset,
        s"resume artifact $p subset=$priorSubset but this session's is $curSubset — " +
          "cross-protocol splicing refused")
      val priorRuns = intField("runs").getOrElse(
        sys.error(s"resume artifact $p has no runs field"))
      def span(field: String, open: Char, close: Char): String = {
        val s = txt.indexOf("\"" + field + "\":" + open)
        require(s >= 0, s"resume artifact has no $field")
        val o = txt.indexOf(open, s)
        txt.substring(o + 1, txt.indexOf(close, o)).trim
      }
      val failedPrior = { val b = span("failed", '[', ']')
        if (b.isEmpty) Set.empty[String]
        else b.split(",").map(_.trim.stripPrefix("\"").stripSuffix("\"")).toSet }
      val qBody = span("queries", '{', '}')
      val m =
        if (qBody.isEmpty) Map.empty[String, Double] // zero-key artifact: resume nothing
        else qBody.split(",").iterator.map { kv =>
          kv.split(":") match {
            case Array(k, v) => k.trim.stripPrefix("\"").stripSuffix("\"") -> v.trim.toDouble
            case _ => sys.error(s"resume artifact $p: unparseable queries entry '$kv' — " +
              "these extractors expect the flat single-line JSON Bench itself writes")
          }
        }.filterNot { case (k, _) => failedPrior(k) }.toMap
      (m, priorRuns)
    }
    val resumed: Map[String, Double] = resume.map(_._1).getOrElse(Map.empty)
    if (resumed.nonEmpty)
      System.err.println(s"[bench] resume: ${resumed.size} prior keys available")
    val failed = scala.collection.mutable.LinkedHashSet.empty[String]
    val results = selected.map { case (name, fn) =>
      resumed.get(name) match {
        case Some(prior) =>
          System.err.println(f"[bench] $name resumed ${prior}%.1f s")
          name -> prior
        case None =>
      val runs = (1 to nRuns).map { i =>
        val t0 = System.nanoTime()
        val ok =
          try { fn(spark, sfDir).write.format("noop").mode("overwrite").save(); true }
          catch { case e: Throwable =>
            failed += name
            System.err.println(s"[bench] $name failed: ${e.getMessage}")
            false
          }
        val elapsed = (System.nanoTime() - t0) / 1e9
        // progress breadcrumb: a killed/hung run leaves per-query evidence
        // (round 18's first sf100 attempt died inside an unbounded query
        // with a log that showed NOTHING — the straggler had to be found
        // by thread-dumping the JVM)
        System.err.println(f"[bench] $name run$i ${elapsed}%.1f s")
        // operators persist their index frames (LSH bands, shingle index,
        // IVF centroids) and localCheckpoint their CC labels; drop both
        // kinds so cache memory from one run can't skew the next
        graft.engine.Scoped.releaseAll(spark)
        (ok, elapsed)
      }
      // min over SUCCESSFUL runs only — a fast failure must not report as a
      // fast query; if every run failed, report the worst elapsed
      val good = runs.collect { case (true, t) => t }
      name -> (if (good.nonEmpty) good.min else runs.map(_._2).max)
      }
    }
    // 3-decimal (ms) precision: sub-ms digits are pure noise, and the
    // shorter line matters — the driver keeps only a bounded stdout tail,
    // and full-precision doubles truncated BENCH_r07.json mid-JSON.
    // Locale.ROOT pins the decimal POINT: a comma-decimal default locale
    // (de_DE...) would emit "value":1,234 — invalid JSON.
    def fmt(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + fmt(v) }.mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // failed queries are listed explicitly — a planning error must not read
    // as a near-zero (i.e. improved) timing
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val skippedJson = skipped.toSeq.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val subsetJson = if (subset.isDefined) "\"r1\"" else "null"
    val resumedUsed = resumed.keySet.filter(k => selected.exists(_._1 == k)).toSeq.sorted
    val resumedKeysJson = resumedUsed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val resumedRuns = resume.map(_._2).getOrElse(nRuns)
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","queries":$qs,"failed":$failedJson,"skipped":$skippedJson,"subset":$subsetJson,"runs":$nRuns,"resumed":${resumedUsed.size},"resumed_runs":$resumedRuns,"resumed_keys":$resumedKeysJson,"sf":"$sfDir"}"""
    println(line)
    // committable evidence: the same line lands in bench_out/ (driver
    // stdout tails have repeatedly truncated it — ADVICE r7). Dev runs
    // (SPARK_GRAFT_ONLY / SPARK_GRAFT_BENCH_SUBSET) write a _dev-suffixed
    // file instead: the round-15 snapshot swept a 2-query SPARK_GRAFT_ONLY
    // scrap over the committed 177-query sf0.1 artifact because this write
    // was unconditional (VERDICT r15).
    try {
      val dir = java.nio.file.Paths.get("bench_out")
      java.nio.file.Files.createDirectories(dir)
      val sfName = sfDir.replaceAll(".*/", "")
      val suffix = if (only.isEmpty && subset.isEmpty) "" else "_dev"
      java.nio.file.Files.writeString(dir.resolve(s"bench_$sfName$suffix.json"), line + "\n")
    } catch { case e: Throwable => System.err.println(s"[bench] file write skipped: $e") }
    spark.stop()
  }

  /** The round-1 registry (CORRECTNESS_r01.json's 59 qkeys) — the pinned
    * like-for-like bench series; see SPARK_GRAFT_BENCH_SUBSET above.
    */
  val Round1Keys: Set[String] = Set(
    "anti_join", "approx_distinct", "asof_join", "coprocess_ratio", "count_window",
    "count_window_keyed", "data_split", "dedup_embedding", "dedup_exact", "dedup_minhash",
    "dedup_minhash_est", "dedup_ngram", "dedup_simhash", "distinct_users", "doc_fingerprint",
    "event_gaps", "except_op", "filter_eq", "fizzbuzz", "flatmap_range",
    "intersect_op", "interval_join", "json_props", "keyed_reduce_sum", "keyed_tumbling_count",
    "knn_brute", "knn_ivf", "knn_lsh", "lang_id", "map_double",
    "multimodal_features", "orders_by_month", "pivot_counts", "q18_big_orders", "q1_pricing",
    "q3_top_orders", "q5_region_revenue", "q9_profit", "rollup_counts", "running_sum",
    "semi_join", "session_count", "session_count_keyed", "sliding_count", "source_mix",
    "text_normalize", "text_quality", "token_count", "top_bigrams", "topk_per_key",
    "topk_window", "tumbling_count", "tumbling_count_agg", "union_streams", "value_histogram",
    "value_percentiles", "value_quartiles", "window_elements", "window_join")
}
