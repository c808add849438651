package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.{QueryDef, Stores, Tables}

/** Scale utilities: the partitioning patterns a 100 TB deployment leans on
  * when the defaults (AQE skew splitting, broadcast thresholds) need a
  * manual override. These are composable helpers, not qkeys — their
  * correctness is asserted by equivalence tests against the plain
  * operators, their plan shape by PlanSpec-style checks.
  */
object Scale {

  /** Salted inner equi-join for skewed keys — HOT KEYS ONLY.
    *
    * Big-side rows whose key is hot ([[hotKeys]]: estimated count ≥ an
    * eighth of a shuffle partition, from a 1% sample of the pruned key
    * column) get a salt in [0, buckets); the small side replicates
    * `buckets` times ONLY for those keys, once for the rest; the join
    * key becomes (key, salt) with salt pinned to 0 on the cold path. A
    * hot key that would land on one reducer spreads over `buckets` of
    * them, while the replication cost is paid only for the handful of
    * keys that need it — the classic trade when AQE's runtime skew-join
    * (enabled by default in this engine's sessions) cannot help, e.g.
    * when the skew is in a broadcast-ineligible mid-size dimension.
    *
    * The pre-r19 form blanket-replicated the ENTIRE small side ×buckets
    * regardless of skew: at sf100 `skew_join_salted` paid a 160 M-row
    * replicated dim (99.7 s) against ~12 s for the plain join it
    * demonstrates against. Now the only extra work is the sampled
    * key-column scan (the hot set broadcasts by construction), and a
    * uniform big side degenerates to exactly the plain join plus a
    * constant-zero extra join column.
    *
    * Salt is derived from a hash of the row's other columns (deterministic,
    * no RNG state on executors — re-runs and speculative tasks agree).
    * The hot-key SAMPLE uses a seeded partition-deterministic Bernoulli
    * sampler; its outcome only moves row placement between the salted
    * and unsalted paths, never the join result, so result determinism
    * holds regardless.
    */
  /** Keys of `df` that would DOMINATE A REDUCER: estimated full count at
    * least `reducerFrac` × (rows / spark.sql.shuffle.partitions) — the
    * partition-relative criterion that actually decides whether a key
    * skews a shuffle (a key at 10× the MEAN is irrelevant when the mean
    * is 30 rows; a key owning an eighth of a reducer is not). Counting
    * runs over a `sampleFraction` Bernoulli row sample of the
    * column-pruned KEY projection — hot keys are, by definition, heavy
    * enough that a 1% sample sees them thousands of times, while the
    * exact full profile costs more than the join it protects (measured:
    * exact 20 M-key counts over 600 M lineitem rows put the registered
    * qkey at 122.9 s vs ~12 s for the plain join — the diagnosis must
    * not outweigh the disease; `sampleFraction = 1.0` gives the exact
    * profile for tests/small frames). A falsely-hot borderline key only
    * adds a few replicated dim rows; a falsely-cold one only loses the
    * spread — the JOIN RESULT is identical either way, which is why
    * sampling is sound here. The result is bounded by construction (at
    * most partitions/reducerFrac keys can exceed the threshold), so it
    * always broadcasts.
    */
  private[graft] def hotKeys(df: DataFrame, key: String,
                             sampleFraction: Double = 0.01,
                             reducerFrac: Double = 0.125): DataFrame = {
    require(sampleFraction > 0 && sampleFraction <= 1.0 && reducerFrac > 0,
      "hotKeys: need 0 < sampleFraction <= 1 and reducerFrac > 0")
    val parts = df.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val keys = df.select(col(key))
    val s = if (sampleFraction >= 1.0) keys
      else keys.sample(withReplacement = false, sampleFraction, seed = 42L)
    val cnts = s.groupBy(col(key)).agg(count(lit(1)).as("cnt"))
    val total = cnts.agg(sum(col("cnt")).as("n_sampled")) // exchange reused from cnts
    cnts.crossJoin(broadcast(total))
      .filter(col("cnt").cast("double") >= lit(reducerFrac / parts) * col("n_sampled"))
      .select(col(key), col("cnt"))
  }

  /** Ceiling on the hot-key set the salted join SPREADS — [[hotKeys]]'
    * threshold already bounds its output mathematically (at most
    * partitions/reducerFrac keys can each hold ≥
    * reducerFrac·rows/partitions of the sampled mass), but that bound
    * SCALES with the session's shuffle-partition count (RunnerSession
    * sizes it from corpus bytes, up to 20 000 → a 160 000-key bound) —
    * so a big corpus with many moderately hot keys can legitimately
    * exceed any constant. The salted join therefore keeps the HOTTEST
    * `MaxHotKeys` by sampled count (deterministic count-desc/key-asc
    * order) instead of require-crashing (ADVICE r19): an unspread
    * borderline key only loses the spread — the JOIN RESULT is
    * identical, which is the same argument that makes the sampling
    * sound. The plan-time `take` stays a BOUNDED collect of the
    * `ivfCellsFor`-count class, independent of corpus size.
    */
  private val MaxHotKeys = 1024

  def saltedJoin(big: DataFrame, small: DataFrame, key: String, buckets: Int,
                 sampleFraction: Double = 0.01): DataFrame = {
    require(!big.columns.contains("_salt") && !small.columns.contains("_salt"),
      "saltedJoin: inputs must not already have a _salt column (it would be clobbered)")
    // plan-time constant, like semDedupAuto's corpus count: the take is
    // bounded by MaxHotKeys regardless of data size (see its scaladoc),
    // and literal IN-lists beat two broadcast-join attachments of the
    // same frame. The sort input is the hotKeys frame itself — ≤
    // partitions/reducerFrac rows, a TakeOrdered, never corpus-sized.
    val hotRows = hotKeys(big, key, sampleFraction)
      .orderBy(col("cnt").desc, col(key).asc)
      .take(MaxHotKeys + 1)
    // truncation must be VISIBLE (ADVICE r20): keys past the cap silently
    // lose their skew spreading — correct join, hard-to-diagnose perf
    if (hotRows.length > MaxHotKeys)
      System.err.println(s"[saltedJoin] hot-key set exceeds MaxHotKeys=$MaxHotKeys: " +
        s"spreading only the $MaxHotKeys hottest sampled keys on '$key'; " +
        "keys beyond the cap join unspread")
    val hotVals = hotRows.take(MaxHotKeys).map(_.get(0)).toSeq
    if (hotVals.isEmpty) return big.join(small, Seq(key)) // nothing skews: THE plain join
    val isHot = col(key).isin(hotVals: _*)
    val salts = small.sparkSession.range(0, buckets).select(col("id").cast("int").as("_salt"))
    // small side: hot keys carry every salt, cold keys only salt 0
    val saltedSmall = small.crossJoin(broadcast(salts))
      .filter(isHot || col("_salt") === 0)
    // big side: one scan; hot rows spread over the buckets, cold pin to 0
    val saltedBig = big.withColumn("_salt",
      when(isHot, pmod(xxhash64(struct(big.columns.map(col): _*)), lit(buckets)).cast("int"))
        .otherwise(lit(0)))
    saltedBig.join(saltedSmall, Seq(key, "_salt")).drop("_salt")
  }

  /** Write both sides bucketed by the join key so subsequent joins are
    * co-located: no exchange on either side, just a bucket-aware scan +
    * sort-merge. At 100 TB this turns every repeated fact⋈fact join on the
    * same key into a shuffle-free operation — the storage-layout analog of
    * Flink's keyed-stream partitioning.
    */
  def writeBucketed(df: DataFrame, table: String, key: String, buckets: Int): Unit =
    df.write.mode("overwrite")
      .bucketBy(buckets, key)
      .sortBy(key)
      .format("parquet")
      .saveAsTable(table)

  /** Joins over bucketed tables pin SORT-MERGE explicitly: bucket files
    * are pre-sorted on the key, so SMJ runs with zero exchange AND zero
    * sort — while the runners' session-wide shuffled-hash preference
    * (RunnerSession) would instead hash-build each co-partitioned bucket
    * in memory, which is unbounded in the per-bucket row count (measured:
    * 600 M-row lineitem over 8 buckets OOMed the build at sf100). The
    * hint scopes the strategy to exactly the joins whose storage layout
    * guarantees merge is free.
    */
  def bucketedJoin(spark: SparkSession, leftTable: String, rightTable: String, key: String): DataFrame =
    spark.table(leftTable).hint("merge").join(spark.table(rightTable), Seq(key))

  /** TPC-H Q18 shape off bucketed staging — the end-to-end demonstration
    * that [[writeBucketed]] layout pays: `lineitem` and `orders` are staged
    * once per sf-dir bucketed (and sorted) by order key, after which BOTH
    * the per-order aggregation AND the fact join run without a single hash
    * exchange — the scans themselves deliver the required partitioning.
    * At 100 TB this is the difference between re-shuffling the fact table
    * per query and paying the layout cost once at ingest; the same staging
    * serves every downstream orderkey join/agg.
    *
    * Staging prunes to the referenced columns (the bucketed "index" is
    * narrow), and [[Stores.stageTable]] makes re-runs in one session reuse
    * the layout — which is exactly what the bench's min-of-2 then measures:
    * the steady-state bucketed-scan query, not the one-time ingest.
    */
  def q18Bucketed(spark: SparkSession, dir: String, buckets: Int = 0): DataFrame = {
    // bucket count sizes to the CORPUS like every other partitioning in
    // the runners (buckets ≤ 0 → derive): the original fixed 8 capped
    // the whole exchange-free pipeline at 8-way parallelism forever —
    // measured 72 s at sf100, where 600 M lineitem rows aggregated and
    // merge-joined in 8 tasks. Bucket layout is the long-lived artifact
    // a 100 TB deployment sizes ONCE at write time; deriving from
    // on-disk bytes is exactly that sizing rule.
    val nBuckets =
      if (buckets > 0) buckets else shufflePartitionsFor(dirBytes(dir))
    // table names carry an sf-dir fingerprint so different test scales
    // never silently share staging
    val liT = Stores.stageTable(spark, dir, "bkt", "lineitem")(writeBucketed(
      Tables.lineitem(spark, dir).select("l_orderkey", "l_quantity"), _, "l_orderkey", nBuckets))
    val ordT = Stores.stageTable(spark, dir, "bkt", "orders")(writeBucketed(
      Tables.orders(spark, dir).select("o_orderkey", "o_orderdate"), _, "o_orderkey", nBuckets))
    val big = spark.table(liT).groupBy(col("l_orderkey"))
      .agg(sum(col("l_quantity")).as("total_qty"))
      .filter(col("total_qty") > 150)
    // merge-pinned for the same reason as bucketedJoin: both sides are
    // bucket-sorted on the key, so SMJ is exchange- and memory-free where
    // the session SHJ preference would hash-build a 75 M-row bucket
    spark.table(ordT).hint("merge").join(big, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_orderkey"), unix_timestamp(col("o_orderdate")).as("odate"),
        col("total_qty"))
  }

  /** Write a table hive-partitioned by a column — the 100 TB layout lever
    * complementary to [[writeBucketed]]: bucketing co-locates JOIN keys,
    * directory partitioning lets predicate-bearing scans skip whole
    * partitions at FILE LISTING time (partition pruning — the scan never
    * opens, or even lists, non-matching directories). Partition by
    * low-cardinality scan predicates (date, language, source); bucket by
    * high-cardinality join keys.
    */
  def writePartitioned(df: DataFrame, table: String, partCol: String): Unit =
    df.write.mode("overwrite")
      .partitionBy(partCol)
      .format("parquet")
      .saveAsTable(table)

  /** Per-source counts of English documents off language-partitioned
    * staging — partition pruning as a registered, oracle-audited
    * capability. The `lang = 'en'` predicate resolves against the
    * partition COLUMN: the scan lists only the lang=en directory (the
    * executed plan shows it as a PartitionFilter, not a data filter), so
    * at 100 TB a one-language query reads one language's bytes. The
    * oracle runs the same query on the unpartitioned parquet — layout
    * changes the plan, never the answer (same contract as
    * [[q18Bucketed]]).
    */
  def prunedLangCounts(spark: SparkSession, dir: String): DataFrame = {
    val docT = Stores.stageTable(spark, dir, "part", "documents")(writePartitioned(
      Tables.documents(spark, dir).select("doc_id", "source", "lang"), _, "lang"))
    spark.table(docT)
      .filter(col("lang") === "en")
      .groupBy(col("source")).agg(count(lit(1)).as("cnt"))
  }

  /** Revenue by brand off a salted lineitem⋈part join — [[saltedJoin]] as a
    * registered, oracle-audited capability. The salt only changes physical
    * row placement (a hot part key spreads over `buckets` reducers instead
    * of one); the logical result is the plain join's, so the oracle is the
    * UNSALTED SQL — "same answer, skew-proof plan" is the contract being
    * hash-checked. l_partkey is near-uniform at every TPC-H scale, so the
    * hot-key detector finds nothing and the demonstrated plan IS the plain
    * join plus one per-key-count pass and a constant-zero salt column —
    * which is the point: the technique now costs only what its diagnosis
    * says the data needs. The salted path engages exactly when a skewed
    * mid-size dimension is broadcast-ineligible and AQE's skew split
    * can't help (e.g. the skew survives into a required sort-merge join);
    * ScaleSpec drives it with a 90%-one-key fixture.
    */
  def saltedBrandRevenue(spark: SparkSession, dir: String, buckets: Int = 8): DataFrame = {
    import Parity._
    val li = Tables.lineitem(spark, dir)
      .select(col("l_partkey"), col("l_extendedprice"), col("l_discount"))
    val parts = Tables.part(spark, dir)
      .select(col("p_partkey").as("l_partkey"), col("p_brand"))
    saltedJoin(li, parts, "l_partkey", buckets)
      .groupBy(col("p_brand"))
      .agg(decSum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
        count(lit(1)).as("cnt"))
  }

  /** Exact key-distribution profile — the diagnostic you run BEFORE
    * choosing between a plain join, [[saltedJoin]], and a broadcast: one
    * row of n_keys / n_rows / max / median / p99 per-key counts plus the
    * integer skew ratio max·1000·n_keys div n_rows (= 1000·max/mean,
    * exact integer arithmetic — engine-portable). A skew ratio in the
    * tens of thousands says one key owns the stage; ~1000 says uniform.
    *
    * Scale shape: per-key counts aggregate map-side (the only full-data
    * pass); every later step runs on |keys| rows. The quantiles are
    * exact rank-picks over the count multiset — a global sort of |keys|
    * scalars, fine while keys ≪ rows; at billions of keys swap the rank
    * window for the [[graft.functions.Curation.qualityTokenBudget]]
    * histogram pattern.
    */
  /** The skew ratio 1000·max/mean over (max_cnt, n_keys, n_rows) columns.
    * `div` (integer division), not `/`-then-cast: Spark's long/long `/`
    * is DOUBLE division, whose rounding can cross an integer boundary
    * the oracle's exact `//` never crosses. The numerator multiplies
    * through DECIMAL(38,0), not BIGINT: max_cnt·1000·n_keys overflows a
    * Long at large-but-plausible scale (~1e8 keys with a ~1e8-row hot
    * key), where Spark would silently wrap to a negative ratio while the
    * oracle (HUGEINT) stays exact — they would diverge exactly in the
    * regime the diagnostic targets (ADVICE r10). 38 digits cover any
    * corpus below ~3·10^17 rows (max_cnt·n_keys ≤ n_rows², so the
    * product stays < 10^38 with 3 digits to spare). Shared with the
    * OperatorsSpec overflow-regime test.
    */
  private[graft] def skewX1000Expr: Column =
    expr("cast(max_cnt as decimal(38,0)) * 1000 * n_keys div n_rows")

  def keySkewProfile(df: DataFrame, keyCol: String): DataFrame = {
    // counts feed the summary aggregate AND the rank-pick → persist
    val cnts = df.groupBy(col(keyCol)).agg(count(lit(1)).as("cnt")).persist()
    val stats = cnts.agg(count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_rows"),
      max(col("cnt")).as("max_cnt"))
    val ranked = cnts.withColumn("rn",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("cnt").asc, col(keyCol).asc)))
    def pick(p: Double, name: String): DataFrame =
      ranked.crossJoin(broadcast(stats))
        .filter(col("rn") === ceil(lit(p) * col("n_keys")).cast("long"))
        .select(col("cnt").as(name))
    // the rank-picks are 1-row frames, but the planner cannot see that
    // through the window+filter lineage: unhinted, the inner cross joins
    // planned as CartesianProduct at sf1+ (each cartesian PARTITION PAIR
    // re-evaluates both sides — the classic scale killer this profile
    // exists to diagnose). broadcast() pins BroadcastNestedLoopJoin.
    stats
      .crossJoin(broadcast(pick(0.5, "p50_cnt")))
      .crossJoin(broadcast(pick(0.99, "p99_cnt")))
      .select(col("n_keys"), col("n_rows"), col("max_cnt"), col("p50_cnt"), col("p99_cnt"),
        skewX1000Expr.as("skew_x1000"))
  }

  val keySkewProfileSql: String =
    """WITH cnts AS (SELECT user_id, count(*) AS cnt FROM events GROUP BY 1),
      |stats AS (SELECT count(*) AS n_keys, CAST(sum(cnt) AS BIGINT) AS n_rows,
      |                 max(cnt) AS max_cnt FROM cnts),
      |ranked AS (SELECT cnt, row_number() OVER (ORDER BY cnt ASC, user_id ASC) AS rn FROM cnts),
      |p50 AS (SELECT cnt AS p50_cnt FROM ranked CROSS JOIN stats
      |        WHERE rn = CAST(ceil(0.5 * n_keys) AS BIGINT)),
      |p99 AS (SELECT cnt AS p99_cnt FROM ranked CROSS JOIN stats
      |        WHERE rn = CAST(ceil(0.99 * n_keys) AS BIGINT))
      |SELECT n_keys, n_rows, max_cnt, p50_cnt, p99_cnt,
      |       -- HUGEINT (int128) numerator mirrors the Spark side's
      |       -- DECIMAL(38,0): exact integer floor-division, no Long wrap
      |       CAST((CAST(max_cnt AS HUGEINT) * 1000 * n_keys) // n_rows AS BIGINT) AS skew_x1000
      |FROM stats CROSS JOIN p50 CROSS JOIN p99""".stripMargin

  /** Same result contract as q18_big_orders — the oracle doesn't care about
    * physical layout, which is the point: bucketing changes the plan, never
    * the answer.
    */
  val defs: Seq[QueryDef] = Seq(
    QueryDef("key_skew_profile",
      (s, dir) => keySkewProfile(Tables.events(s, dir), "user_id"),
      Some(keySkewProfileSql)),
    QueryDef("bucketed_join", (s, dir) => q18Bucketed(s, dir),
      Some(
        """SELECT o_orderkey, CAST(floor(epoch(o_orderdate)) AS BIGINT) AS odate, total_qty
          |FROM orders JOIN (
          |  SELECT l_orderkey, sum(l_quantity) AS total_qty
          |  FROM lineitem GROUP BY 1 HAVING sum(l_quantity) > 150
          |) ON o_orderkey = l_orderkey""".stripMargin)),
    QueryDef("skew_join_salted", (s, dir) => saltedBrandRevenue(s, dir),
      Some(
        s"""SELECT p_brand, ${Parity.decSumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
           |  count(*) AS cnt
           |FROM lineitem JOIN part ON l_partkey = p_partkey
           |GROUP BY 1""".stripMargin)),
    QueryDef("partition_pruned_scan", (s, dir) => prunedLangCounts(s, dir),
      Some("SELECT source, count(*) AS cnt FROM documents WHERE lang = 'en' GROUP BY 1")),
  )

  /** Size shuffle partitions to the data: ceil(inputBytes / targetBytes),
    * clamped. The driver-side calculation a cluster job does from file
    * listing before kicking off a big shuffle (AQE coalescing handles the
    * too-many case at runtime; this handles the far-too-few case up front).
    */
  def shufflePartitionsFor(inputBytes: Long, targetBytes: Long = 128L << 20,
                           min: Int = 32, max: Int = 20000): Int =
    math.min(max, math.max(min, math.ceil(inputBytes.toDouble / targetBytes).toInt))

  /** On-disk bytes of a corpus dir (recursive file-length walk) — the
    * input to [[shufflePartitionsFor]] when a runner sizes its session
    * before any Spark context exists. Plain java.io so it runs
    * pre-session; missing dirs count 0 (the caller's clamp floor then
    * applies).
    */
  def dirBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
    walk(new java.io.File(path))
  }
}
