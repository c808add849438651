package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.{QueryDef, Tables}
import Parity._

/** Extended relational surface beyond the reference (SURVEY.md §2.7 notes
  * these are "free in Spark"): as-of join, grouped top-k, rollup, pivot,
  * semi/anti joins, set ops, running analytic windows, approximate
  * distinct. A user of a full analytics engine expects these; each is a
  * one-shuffle plan at scale.
  */
object Extended {

  /** As-of (point-in-time) join: for each left row, the single most recent
    * right row with `rightTs <= leftTs`, per key — the time-series /
    * feature-store join.
    *
    * Implementation is the union-scan idiom, NOT a join: tag both sides,
    * union, and carry the latest right id forward with a `last(ignoreNulls)`
    * running window per key. ONE hash shuffle on the key, zero join blowup,
    * no per-left-row aggregation — at 100 TB this beats the
    * equi-join+filter+argmax plan by the size of the intermediate pair set
    * (which is |left|×|right| per key in the worst case).
    */
  def asofJoin(left: DataFrame, right: DataFrame, keyCol: String, tsCol: String,
               leftId: String, rightId: String): DataFrame = {
    val l = left.select(col(keyCol), col(tsCol).as("t"),
      col(leftId).as("a_id"), lit(null).cast("long").as("b_id"), lit(1).as("side"))
    // Collapse duplicate (key, ts) right rows to the max id BEFORE the
    // scan: which row "wins" an exact-timestamp tie is otherwise
    // engine-defined (DuckDB's ASOF JOIN leaves it unspecified), which
    // would make the oracle comparison nondeterministic.
    val dedupW = Window.partitionBy(col(keyCol), col(tsCol)).orderBy(col(rightId).desc)
    val r = right
      .withColumn("_rn", row_number().over(dedupW)).filter(col("_rn") === 1).drop("_rn")
      .select(col(keyCol), col(tsCol).as("t"),
        lit(null).cast("long").as("a_id"), col(rightId).as("b_id"), lit(0).as("side"))
    // right rows sort before left rows at equal timestamps → "at or before"
    // is inclusive; equal right timestamps tie-break on the larger id.
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col("t"), col("side"), col("b_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    l.unionByName(r)
      .withColumn("matched", last(col("b_id"), ignoreNulls = true).over(w))
      .filter(col("side") === 1 && col("matched").isNotNull)
      .select(col("a_id"), col("matched").as("b_id"), col(keyCol))
  }

  /** Grouped top-k: the k largest rows per key by `orderCol` (ties broken
    * by `idCol`). Plans as a per-key window sort after one hash exchange;
    * with AQE a skewed key splits into multiple sorted partitions.
    */
  def topKPerKey(df: DataFrame, keyCol: String, orderCol: String, idCol: String, k: Int): DataFrame = {
    val w = Window.partitionBy(col(keyCol)).orderBy(col(orderCol).desc, col(idCol).asc)
    df.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col(keyCol), col(idCol), col(orderCol), col("rank"))
  }

  /** Hierarchical aggregation via ROLLUP (supersets: CUBE/GROUPING SETS use
    * the same expand-based plan).
    */
  def rollupCounts(li: DataFrame): DataFrame =
    li.rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("cnt"), sum(col("l_quantity")).as("sum_qty"))

  /** Full CUBE with GROUPING-id disambiguation: a group whose key VALUE is
    * null and the roll-up row aggregating across that key are identical in
    * the output columns — `grouping()` is the only thing that tells them
    * apart, so any consumer of cube output needs it. Same expand-based
    * single-shuffle plan as ROLLUP (each input row fans out to its 4
    * grouping sets map-side, partial aggregation collapses before the
    * exchange).
    */
  def cubeCounts(li: DataFrame): DataFrame =
    li.cube(col("l_returnflag"), col("l_linestatus"))
      .agg(
        (grouping(col("l_returnflag")) + lit(2) * grouping(col("l_linestatus")))
          .cast("long").as("gid"),
        count(lit(1)).as("cnt"),
        sum(col("l_quantity")).as("sum_qty"))
      .select(col("l_returnflag"), col("l_linestatus"), col("gid"), col("cnt"), col("sum_qty"))

  /** Pivot: one column per event type, zero-filled. The value set is
    * declared explicitly — at scale an undeclared pivot forces an extra
    * distinct-collect pass on the driver.
    */
  def pivotCounts(events: DataFrame, types: Seq[String]): DataFrame = {
    val pivoted = events.groupBy(col("user_id")).pivot("event_type", types).count()
    pivoted.select(col("user_id") +: types.map(t => coalesce(col(t), lit(0L)).as(t)): _*)
  }

  /** Semi/anti joins: EXISTS / NOT EXISTS as real join operators (never a
    * correlated per-row subquery). Catalyst broadcasts the small side.
    */
  def semiJoin(l: DataFrame, r: DataFrame, cond: Column): DataFrame = l.join(r, cond, "left_semi")
  def antiJoin(l: DataFrame, r: DataFrame, cond: Column): DataFrame = l.join(r, cond, "left_anti")

  /** Per-key running (prefix) sum in event order — the analytic-window
    * counterpart of the keyed reduce. Decimal accumulation keeps the
    * emitted doubles order-exact (Parity.decSum rationale).
    */
  def runningSum(events: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events.select(
      col("event_id"),
      sum(col("value").cast(org.apache.spark.sql.types.DecimalType(18, 6))).over(w)
        .cast("double").as("run_sum"))
  }

  /** HyperLogLog distinct estimate — sketch implementations differ across
    * engines, so this qkey is rows-only checked; the exact twin
    * (`distinct_users`) is oracle-checked.
    */
  /** HLL distinct-count sketch per event type — the raw estimates, the
    * shape a dashboard consumes (`approx_count_distinct` = HLL++:
    * mergeable fixed-size sketches, the 100 TB drop-in for
    * `distinct_users`' exact two-level shuffle).
    */
  def approxDistinct(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(approx_count_distinct(col("user_id")).as("approx_users"))

  /** The ORACLE-CHECKABLE projection of [[approxDistinct]] (VERDICT r15
    * item 6): sketch estimates are engine-specific (Spark HLL++ vs
    * DuckDB HLL — different registers, different bias tables), so the
    * raw estimate can never hash-match a DuckDB oracle. What IS
    * deterministic and portable: the exact count (oracle-computable)
    * and WHETHER the estimate lands inside its error envelope — default
    * rsd 0.05, 3σ ⇒ 15% relative, max'd with +2 absolute for HLL++'s
    * sparse-encoding rounding at tiny cardinalities (the same envelope
    * OperatorsSpec has pinned since round 14). The oracle emits the
    * exact counts and a constant-true flag: a sketch regression outside
    * the envelope flips the flag and fails the hash gate.
    */
  def approxDistinctChecked(events: DataFrame): DataFrame =
    events.groupBy(col("event_type"))
      .agg(
        approx_count_distinct(col("user_id")).as("est"),
        countDistinct(col("user_id")).as("exact_users"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("est") - col("exact_users")) <=
          greatest(lit(2.0), col("exact_users") * 0.15)).cast("int")
          .as("in_hll_envelope"))

  // ---- qkey registry -----------------------------------------------------

  private def slice(s: SparkSession, dir: String, t: String) =
    Tables.events(s, dir).filter(col("event_type") === t)

  val eventTypes = Seq("click", "view", "purchase", "signup", "error")

  /** Funnel analysis: per-user first-hit chain through `steps` event
    * types, each step converting only within `winUs` µs of the previous
    * step's first hit (strict '>' — a same-instant pair is not a
    * conversion). Returns one (step, n_users) row per step.
    *
    * Each step is an aggregate-then-join on the user key: step N's
    * per-user first-hit table joins step N-1's — every stage
    * hash-partitions on user_id, so one partitioning carries the whole
    * funnel. The result is ONE declarative plan (a union of the per-step
    * counts), not a driver loop of actions: step N's first-hit subtree
    * appears verbatim inside step N+1's, so Spark's ReuseExchange
    * dedupes the repeated shuffles at physical planning — the executed
    * plan builds each step's first-hit table once, exactly what the old
    * persist()-per-step version bought, but visible to (and optimizable
    * by) Catalyst, auditable in PLANS.txt, and with no driver-side
    * count() round-trips. Ordering compares epoch MICROSECONDS
    * explicitly: engines truncate sub-µs timestamp precision
    * differently, so the contract is µs everywhere.
    */
  def funnelSteps(events: DataFrame, steps: Seq[(String, String)], winUs: Long): DataFrame = {
    val ev = events.select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us"))
    val firstHits = steps.map(_._1).foldLeft(List.empty[DataFrame]) {
      case (acc, evType) =>
        val hits = ev.filter(col("event_type") === evType)
        val gated = acc match {
          case Nil => hits
          case prev :: _ =>
            hits.join(prev.select(col("user_id").as("pu"), col("t").as("pt")),
                col("user_id") === col("pu"))
              .filter(col("us") > col("pt") && col("us") <= col("pt") + winUs)
        }
        gated.groupBy(col("user_id")).agg(min(col("us")).as("t")) :: acc
    }.reverse
    steps.zip(firstHits).map { case ((_, label), hits) =>
      hits.agg(count(lit(1)).as("n_users")).select(lit(label).as("step"), col("n_users"))
    }.reduce(_ unionByName _)
  }

  /** Cohort retention: day-granularity cohort (first-seen day) ×
    * day-offset matrix of distinct active users — the "D1/D7 retention"
    * report. One user_id aggregation for first-seen, a same-key join
    * back, and a distinct count shuffling (cohort, offset, user) triples.
    * Day boundaries are epoch-second integers (cross-engine timestamp
    * parity); µs-vs-ns truncation cannot move an event across a day.
    */
  def retentionCohorts(events: DataFrame): DataFrame = {
    val ev = events.select(col("user_id"),
      unix_timestamp(date_trunc("day", col("ts"))).as("day_s"))
    val first = ev.groupBy(col("user_id")).agg(min(col("day_s")).as("cohort_day"))
      .select(col("user_id").as("fu"), col("cohort_day"))
    ev.join(first, col("user_id") === col("fu"))
      .groupBy(col("cohort_day"),
        // `/` on longs is double division; diffs are exact 86400 multiples
        // (< 2^53), so the quotient is exact and the cast is a no-op floor
        ((col("day_s") - col("cohort_day")) / 86400L).cast("long").as("day_offset"))
      .agg(countDistinct(col("user_id")).as("n_active"))
  }

  /** Hourly-grid resampling with last-observation-carried-forward — the
    * align/fill primitive for sensor and metric series. LEAD-RANGE form
    * (round 14): each event covers the grid hours from its own timestamp
    * (hour-ceiling) up to just before the NEXT event — `lead(us)` over
    * the key, then a map-side `sequence()` explode per event. ONE hash
    * shuffle of the EVENTS only; the grid rows (users × hours — 10× the
    * event count at sf100: 1.05 B grid vs 100 M events, avg user spans
    * 700 of 720 hours, so span-pruning has nothing to prune) are
    * generated AFTER the shuffle and never exchanged or sorted. The
    * previous union-scan form (tag grid + events, running
    * last(ignoreNulls) window) shuffled and window-sorted all 1.15 B
    * tagged rows: 4.6× slower at sf100 (BASELINE.md, round-14
    * resample_locf row).
    *
    * Range algebra (matches ASOF-inner-join semantics exactly):
    * event at `us` with next event at `nus` covers hours
    * [ceil_h(us), floor_h(nus − 1)]; the key's last event covers
    * [ceil_h(us), floor_h(us)] (empty unless on the hour — later hours
    * don't exist in the [first, last] grid). Consecutive ranges chain
    * gaplessly: floor_h(nus−1) + 1 h == ceil_h(nus) for every nus. Grid
    * points before a key's first event are dropped (inner semantics) —
    * they are simply never generated. An on-the-hour event is visible
    * to its own hour's point (`ceil_h(us) == us`).
    *
    * Null-valued events are dropped up front: a running
    * last(ignoreNulls=true) would skip them (carrying the OLDER value
    * forward) while an ASOF-join oracle returns the latest row's null —
    * divergent semantics. Filtering them first makes "last observation"
    * mean "last non-null observation" in both engines, and keys whose
    * events are all null produce no grid. Same-instant events per key
    * must be unique (they are, at every recorded scale — probed sf0.01
    * through sf100): under ties both this form and the ASOF oracle are
    * order-ambiguous.
    */
  def resampleLocf(events: DataFrame, keyCol: String, tsCol: String, valCol: String): DataFrame = {
    val ev = events.filter(col(valCol).isNotNull)
      .select(col(keyCol), unix_micros(col(tsCol)).as("us"), col(valCol).as("v"))
    val w = Window.partitionBy(col(keyCol)).orderBy(col("us"))
    // `div`, not `/`: Column./ on longs is DOUBLE division. All epochs
    // are positive, so truncating div == floor; hour-ceiling is the
    // (us + hour−1) div hour idiom.
    ev.withColumn("nus", lead(col("us"), 1).over(w))
      .select(col(keyCol), col("v"),
        expr("((us + 3599999999) div 3600000000) * 3600000000").as("g0"),
        expr("coalesce((nus - 1) div 3600000000, us div 3600000000) * 3600000000").as("g1"))
      .filter(col("g0") <= col("g1")) // sequence() rejects start > stop
      .select(col(keyCol),
        explode(sequence(col("g0"), col("g1"), lit(3600000000L))).as("us"),
        col("v"))
      .select(col(keyCol), expr("us div 1000000").as("gts_s"), col("v").as("locf_value"))
  }

  val defs: Seq[QueryDef] = Seq(
    QueryDef(
      "asof_join",
      (s, dir) => asofJoin(slice(s, dir, "click"), slice(s, dir, "purchase"),
        "user_id", "ts", "event_id", "event_id"),
      Some(
        """SELECT a.event_id AS a_id, b.event_id AS b_id, a.user_id AS user_id
          |FROM (SELECT * FROM events WHERE event_type = 'click') a
          |ASOF JOIN (
          |  SELECT * FROM events WHERE event_type = 'purchase'
          |  QUALIFY row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id DESC) = 1
          |) b ON a.user_id = b.user_id AND b.ts <= a.ts""".stripMargin)),
    QueryDef(
      "topk_per_key",
      (s, dir) => topKPerKey(Tables.events(s, dir), "user_id", "value", "event_id", 3),
      Some(
        """SELECT user_id, event_id, value, CAST(rn AS INT) AS rank
          |FROM (SELECT user_id, event_id, value,
          |        row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS rn
          |      FROM events)
          |WHERE rn <= 3""".stripMargin)),
    QueryDef(
      "rollup_counts",
      (s, dir) => rollupCounts(Tables.lineitem(s, dir)),
      Some("SELECT l_returnflag, l_linestatus, count(*) AS cnt, sum(l_quantity) AS sum_qty " +
        "FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)")),
    QueryDef(
      "cube_counts",
      (s, dir) => cubeCounts(Tables.lineitem(s, dir)),
      Some("SELECT l_returnflag, l_linestatus, " +
        "CAST(grouping(l_returnflag) + 2*grouping(l_linestatus) AS BIGINT) AS gid, " +
        "count(*) AS cnt, sum(l_quantity) AS sum_qty " +
        "FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)")),
    QueryDef(
      "pivot_counts",
      (s, dir) => pivotCounts(Tables.events(s, dir), eventTypes),
      Some("SELECT user_id, " +
        eventTypes.map(t => s"count(*) FILTER (WHERE event_type = '$t') AS $t").mkString(", ") +
        " FROM events GROUP BY 1")),
    QueryDef(
      "semi_join",
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val o = Tables.orders(s, dir)
        semiJoin(c, o, c("c_custkey") === o("o_custkey")).select(col("c_custkey"), col("c_name"))
      },
      Some("SELECT c_custkey, c_name FROM customer " +
        "WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)")),
    QueryDef(
      "anti_join",
      (s, dir) => {
        val c = Tables.customer(s, dir)
        val o = Tables.orders(s, dir)
        antiJoin(c, o, c("c_custkey") === o("o_custkey")).select(col("c_custkey"), col("c_name"))
      },
      Some("SELECT c_custkey, c_name FROM customer " +
        "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)")),
    QueryDef(
      "except_op",
      (s, dir) => {
        val e = Tables.events(s, dir)
        e.filter(col("value") > 100).select(col("event_id"))
          .except(e.filter(col("event_type") === "error").select(col("event_id")))
      },
      Some("SELECT event_id FROM events WHERE value > 100 " +
        "EXCEPT SELECT event_id FROM events WHERE event_type = 'error'")),
    QueryDef(
      "intersect_op",
      (s, dir) => {
        val e = Tables.events(s, dir)
        e.filter(col("event_type") === "signup").select(col("user_id"))
          .intersect(e.filter(col("event_type") === "purchase").select(col("user_id")))
      },
      Some("SELECT user_id FROM events WHERE event_type = 'signup' " +
        "INTERSECT SELECT user_id FROM events WHERE event_type = 'purchase'")),
    QueryDef(
      "running_sum",
      (s, dir) => runningSum(Tables.events(s, dir)),
      Some(
        """SELECT event_id,
          |  CAST(sum(CAST(value AS DECIMAL(18,6))) OVER (
          |    PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS DOUBLE) AS run_sum
          |FROM events""".stripMargin)),
    QueryDef(
      "approx_distinct",
      // [[approxDistinctChecked]]: the deterministic projection — exact
      // counts + the in-envelope flag — so the sketch qkey is
      // hash-gated, not rows-only (VERDICT r15 item 6). The raw-estimate
      // form stays available as [[approxDistinct]].
      (s, dir) => approxDistinctChecked(Tables.events(s, dir)),
      Some("SELECT event_type, count(DISTINCT user_id) AS exact_users, " +
        "1 AS in_hll_envelope FROM events GROUP BY 1")),
    QueryDef(
      "approx_percentiles",
      // approx_percentile = mergeable quantile sketch (Spark's GK-style
      // summary): per-partition summaries merge on the reduce side, so
      // memory is O(1/accuracy) per group regardless of group size —
      // the 100 TB drop-in for value_percentiles' exact sort-based state.
      // Sketch VALUES are engine-specific (DuckDB uses t-digest), so the
      // oracle-checkable projection is the RANK-BAND flag (VERDICT r15
      // item 6): with accuracy 10000 the returned element's rank errs by
      // ≤ n/10000, so it must lie between the exact interpolated
      // quantiles at q ∓ 0.02 — a 200× slack that is still tight enough
      // to catch any real sketch regression. Inclusive bounds: an
      // element can EQUAL an interpolated bound when ranks tie. The
      // exact quantile pass rides the same shuffle as the sketch (one
      // groupBy), and its per-group state is a distinct-value count map
      // — bounded by the value domain, not the row count.
      //
      // SMALL-GROUP ESCAPE (ADVICE r16): the band contract is
      // scale-dependent — approx_percentile returns a dataset ELEMENT
      // whose rank errs by ≤ n/10000, while percentile(q∓0.02)
      // INTERPOLATES at (q∓0.02)(n−1); below ~50-75 rows the ±1-rank
      // discretization gap exceeds the 0.02·n slack (n=2, values
      // [0,100]: approx p50=0 but percentile(0.48)=48), so the flag
      // would flip on a tiny/skewed group even with a perfect sketch.
      // Groups under 100 rows therefore pass unconditionally: the band
      // check is vacuous there by arithmetic, and the envelope it
      // guards only has meaning at the scale the sketch exists for.
      (s, dir) => Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          expr("approx_percentile(value, 0.5, 10000)").as("p50"),
          expr("approx_percentile(value, 0.9, 10000)").as("p90"),
          expr("percentile(value, array(0.48, 0.52, 0.88, 0.92))").as("ex"),
          count(lit(1)).as("n"))
        .select(col("event_type"),
          (col("n") < 100 ||
            (col("p50") >= col("ex")(0) && col("p50") <= col("ex")(1)))
            .cast("int").as("p50_in_rank_band"),
          (col("n") < 100 ||
            (col("p90") >= col("ex")(2) && col("p90") <= col("ex")(3)))
            .cast("int").as("p90_in_rank_band")),
      Some("SELECT event_type, 1 AS p50_in_rank_band, 1 AS p90_in_rank_band " +
        "FROM events GROUP BY 1")),
    QueryDef(
      "event_gaps",
      // lead/lag analytic: per-user inter-event gap in µs — the
      // sessionization primitive underlying gap-based windows
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
        Tables.events(s, dir).select(
          col("event_id"),
          (unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w)).as("gap_us"))
      },
      Some("SELECT event_id, epoch_us(ts) - lag(epoch_us(ts)) OVER " +
        "(PARTITION BY user_id ORDER BY ts, event_id) AS gap_us FROM events")),
    QueryDef(
      "value_quartiles",
      (s, dir) => {
        val w = Window.partitionBy(col("user_id")).orderBy(col("value"), col("event_id"))
        Tables.events(s, dir).select(
          col("user_id"), col("event_id"), ntile(4).over(w).as("quartile"))
      },
      Some("SELECT user_id, event_id, CAST(ntile(4) OVER " +
        "(PARTITION BY user_id ORDER BY value, event_id) AS INT) AS quartile FROM events")),
    QueryDef(
      "funnel_steps",
      // Funnel analysis: view → click → purchase with a 2-day conversion
      // window per step — the product-analytics staple. Each step is an
      // aggregate-then-join on user_id: step N's per-user first-hit table
      // joins step N-1's (same key ⇒ one hash partitioning carries the
      // whole chain — PlanAuditSpec-asserted that user_id is the ONLY
      // shuffle key in the plan). Ordering compares epoch MICROSECONDS
      // explicitly — engines truncate sub-µs precision differently, so
      // the contract is µs everywhere. Strict '>' between steps: a
      // same-instant view+click is NOT a conversion.
      (s, dir) => funnelSteps(Tables.events(s, dir),
        Seq("view" -> "step1_view", "click" -> "step2_click", "purchase" -> "step3_purchase"),
        2L * 86400L * 1000000L),
      Some(
        """WITH s1 AS (SELECT user_id, min(epoch_us(ts)) AS t1 FROM events
          |            WHERE event_type = 'view' GROUP BY 1),
          |s2 AS (SELECT e.user_id, min(epoch_us(ts)) AS t2 FROM events e JOIN s1 ON e.user_id = s1.user_id
          |       WHERE event_type = 'click' AND epoch_us(ts) > t1
          |         AND epoch_us(ts) <= t1 + 172800000000 GROUP BY 1),
          |s3 AS (SELECT e.user_id, min(epoch_us(ts)) AS t3 FROM events e JOIN s2 ON e.user_id = s2.user_id
          |       WHERE event_type = 'purchase' AND epoch_us(ts) > t2
          |         AND epoch_us(ts) <= t2 + 172800000000 GROUP BY 1)
          |SELECT 'step1_view' AS step, count(*) AS n_users FROM s1
          |UNION ALL SELECT 'step2_click', count(*) FROM s2
          |UNION ALL SELECT 'step3_purchase', count(*) FROM s3""".stripMargin)),
    QueryDef(
      "retention_cohorts",
      // Cohort retention: day-granularity cohort (first-seen day) ×
      // day-offset activity matrix of distinct active users — the
      // engagement report behind every "D1/D7 retention" metric. The
      // first-seen table is one user_id aggregation; the join back is on
      // the same key; the distinct count shuffles (cohort, offset, user)
      // triples. Day boundaries are epoch-integer outputs (the recipe for
      // cross-engine timestamp parity); µs truncation cannot move a
      // timestamp across a DAY boundary, so nanos-vs-µs is moot here.
      (s, dir) => retentionCohorts(Tables.events(s, dir)),
      Some(
        """WITH f AS (SELECT user_id, CAST(floor(epoch(date_trunc('day', min(ts)))) AS BIGINT) AS cohort_day
          |           FROM events GROUP BY 1)
          |SELECT cohort_day,
          |  CAST((CAST(floor(epoch(date_trunc('day', ts))) AS BIGINT) - cohort_day) / 86400 AS BIGINT) AS day_offset,
          |  count(DISTINCT e.user_id) AS n_active
          |FROM events e JOIN f ON e.user_id = f.user_id
          |GROUP BY 1, 2""".stripMargin)),
    QueryDef(
      "resample_locf",
      // Time-series resampling to an hourly grid with last-observation-
      // carried-forward — the align-sensors/fill-gaps primitive. Lead-
      // range form: lead(us) over user_id, then each event map-side
      // sequence()-explodes the grid hours it covers — ONE shuffle of
      // the EVENTS only; the (much larger) grid is generated after the
      // exchange and never shuffled or sorted. Never a per-grid-point
      // subquery or a grid×events join. Grid points before a user's
      // first event have nothing to carry forward and are never emitted
      // (ASOF inner-join semantics in the oracle). Comparisons are in
      // epoch µs; an on-the-hour event covers its own hour's grid point.
      (s, dir) => resampleLocf(Tables.events(s, dir), "user_id", "ts", "value"),
      Some(
        """WITH ev AS (SELECT user_id, epoch_us(ts) AS us, value FROM events
          |           WHERE value IS NOT NULL),
          |b AS (SELECT user_id, (min(us) // 3600000000) * 3600000000 AS us0,
          |             (max(us) // 3600000000) * 3600000000 AS us1
          |      FROM ev GROUP BY 1),
          |grid AS (SELECT user_id, unnest(generate_series(us0, us1, 3600000000)) AS gus FROM b)
          |SELECT g.user_id, CAST(g.gus / 1000000 AS BIGINT) AS gts_s, e.value AS locf_value
          |FROM grid g ASOF JOIN ev e ON g.user_id = e.user_id AND g.gus >= e.us""".stripMargin)),
    QueryDef(
      "sql_surface",
      // The SQL text surface as a registered capability: the same engine
      // through `spark.sql(...)` over GraftSql's temp views, INCLUDING the
      // engine's own codegen vector_dot function in the SQL dialect — what
      // a user arriving from a SQL-speaking system runs on day one. The
      // query self-joins embeddings on the first label's vectors and
      // scores pairs with the custom expression; plan and performance are
      // identical to the DataFrame path (same Catalyst plan underneath).
      // `+ 0.0` normalizes IEEE negative zero: round() of a tiny negative
      // dot yields -0.0 in DuckDB but 0.0 in Spark — same value, different
      // bytes, and the hash compare is byte-level.
      (s, dir) => {
        graft.engine.GraftSql.registerTables(s, dir)
        s.sql(
          """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
            |  round(vector_dot(a.embedding, b.embedding), 4) + 0.0 AS dot
            |FROM embeddings a JOIN embeddings b
            |  ON a.label = b.label AND a.vec_id < b.vec_id
            |WHERE a.label = 0 AND a.vec_id < 200 AND b.vec_id < 200""".stripMargin)
      },
      Some(
        """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
          |  round(list_inner_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])), 4) + 0.0 AS dot
          |FROM embeddings a JOIN embeddings b
          |  ON a.label = b.label AND a.vec_id < b.vec_id
          |WHERE a.label = 0 AND a.vec_id < 200 AND b.vec_id < 200""".stripMargin)),
    QueryDef(
      "orders_by_month",
      (s, dir) => Tables.orders(s, dir)
        .groupBy(year(col("o_orderdate")).as("y"), month(col("o_orderdate")).as("m"))
        .agg(count(lit(1)).as("cnt")),
      Some("SELECT CAST(year(o_orderdate) AS INT) AS y, CAST(month(o_orderdate) AS INT) AS m, " +
        "count(*) AS cnt FROM orders GROUP BY 1, 2")),
    QueryDef(
      "value_histogram",
      (s, dir) => Tables.events(s, dir)
        .groupBy(floor(col("value") / 20).cast("long").as("bin"))
        .agg(count(lit(1)).as("cnt")),
      Some("SELECT CAST(floor(value/20) AS BIGINT) AS bin, count(*) AS cnt FROM events GROUP BY 1")),
    QueryDef(
      "value_percentiles",
      // exact interpolated percentiles (both engines sort-and-interpolate;
      // round(6) absorbs last-ulp formula differences)
      (s, dir) => Tables.events(s, dir)
        .groupBy(col("event_type"))
        .agg(
          round(expr("percentile(value, 0.5)"), 6).as("p50"),
          round(expr("percentile(value, 0.9)"), 6).as("p90")),
      Some("SELECT event_type, round(quantile_cont(value, 0.5), 6) AS p50, " +
        "round(quantile_cont(value, 0.9), 6) AS p90 FROM events GROUP BY 1")),
  )
}
