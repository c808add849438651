package graft

import org.apache.spark.sql.functions._

import graft.operators.{Extended, KeyedAggs, MultiStream, Stateless}

class StatelessSpec extends SparkSpec {

  test("fizzbuzz keeps exactly the multiples of 15") {
    // property per FIXTURES.md A.4: output == "fizzbuzz" ⟺ n % 15 == 0
    val nums = spark.range(1, 101).select(col("id").as("n"))
    val got = Stateless.fizzbuzz(nums, "n").collect().map(_.getLong(0)).sorted
    assert(got.toSeq === (1L to 100L).filter(_ % 15 == 0))
  }

  test("fizzbuzz tag classification") {
    val nums = spark.range(1, 16).select(col("id").as("n"))
    val tags = nums.select(col("n"), Stateless.fizzbuzzTag(col("n")).as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(tags(3L) === "fizz" && tags(5L) === "buzz" && tags(15L) === "fizzbuzz" && tags(7L) === "7")
  }

  test("mapDouble doubles") {
    val got = Stateless.mapDouble(spark.range(1, 4).select(col("id").as("n")), "n")
      .collect().map(_.getLong(0)).sorted
    assert(got.toSeq === Seq(2L, 4L, 6L))
  }

  test("flatMapRange expands 1→n-1 and drops n<2") {
    import spark.implicits._
    val df = Seq((10L, 1), (11L, 3)).toDF("k", "n")
    val got = Stateless.flatMapRange(df, "k", "n").collect()
      .map(r => (r.getLong(0), r.getLong(2))).sorted
    assert(got.toSeq === Seq((11L, 1L), (11L, 2L))) // k=10 (n=1) vanishes
  }
}

class KeyedAggSpec extends SparkSpec {

  test("columnar keyed sum equals typed reduceGroups (keyBy+reduce parity)") {
    import spark.implicits._
    val data = Seq((1L, 1.5), (1L, 2.5), (2L, 3.0), (2L, -1.0), (3L, 0.0))
    val columnar = KeyedAggs.keyedReduceSum(data.toDF("user_id", "value"), "user_id", "value")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val typed = KeyedAggs.keyedReduceSumTyped(data.toDS()).collect().toMap
    assert(columnar === Map(1L -> 4.0, 2L -> 2.0, 3L -> 0.0))
    assert(typed === columnar)
  }
}

class MultiStreamSpec extends SparkSpec {

  private def evDf(rows: Seq[(Long, Long, String, Double)]) = {
    import spark.implicits._
    rows.toDF("event_id", "user_id", "event_type", "off")
      .select(col("event_id"), col("user_id"), col("event_type"),
        expr("timestamp_seconds(1704067200 + off)").as("ts"))
  }

  test("union preserves cardinality |A|+|B|") {
    import spark.implicits._
    val a = Seq(1, 2, 3).toDF("x")
    val b = Seq(3, 4).toDF("x")
    assert(MultiStream.unionStreams(a, b).count() === 5)
  }

  test("window join matches only same-bucket pairs") {
    val clicks = evDf(Seq((1L, 7L, "click", 10.0), (2L, 7L, "click", 100.0)))
    val buys = evDf(Seq((3L, 7L, "purchase", 50.0), (4L, 8L, "purchase", 20.0)))
    val got = MultiStream.windowJoin(clicks, buys, "user_id", "ts", 60L, "event_id", "event_id")
      .collect().map(r => (r.getLong(2), r.getLong(3)))
    // click@10s and purchase@50s share minute bucket; click@100s does not;
    // user 8 never matches user 7
    assert(got.toSeq === Seq((1L, 3L)))
  }

  test("interval join bounds are exclusive") {
    val a = evDf(Seq((1L, 7L, "click", 100.0)))
    val b = evDf(Seq(
      (2L, 7L, "purchase", 102.0),   // +2s: excluded (exclusive upper)
      (3L, 7L, "purchase", 101.9),   // +1.9s: included
      (4L, 7L, "purchase", 98.0),    // -2s: excluded (exclusive lower)
      (5L, 7L, "purchase", 98.1)))   // -1.9s: included
    val got = MultiStream.intervalJoin(a, b, "user_id", "ts", "2 SECONDS", "event_id", "event_id")
      .collect().map(_.getLong(2)).sorted
    assert(got.toSeq === Seq(3L, 5L))
  }

  test("asof join picks the latest right row at-or-before each left row") {
    import graft.operators.Extended
    val clicks = evDf(Seq((1L, 7L, "click", 3.0), (2L, 7L, "click", 7.0), (3L, 7L, "click", 10.0), (4L, 8L, "click", 7.0)))
    val buys = evDf(Seq((10L, 7L, "purchase", 5.0), (11L, 7L, "purchase", 10.0)))
    val got = Extended.asofJoin(clicks, buys, "user_id", "ts", "event_id", "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    // click@3 precedes every purchase → dropped; click@7 → purchase@5;
    // click@10 → purchase@10 (inclusive at-or-before); user 8 never matches
    assert(got === Map(2L -> 10L, 3L -> 11L))
  }

  test("coprocess ratio computes a*100/(a+b)") {
    val u = evDf(Seq((1L, 1L, "click", 0.0), (2L, 1L, "click", 1.0), (3L, 1L, "purchase", 2.0)))
    val got = MultiStream.coProcessRatio(u, "event_type", "click", "purchase").collect()(0).getDouble(0)
    assert(math.abs(got - 200.0 / 3.0) < 1e-12)
  }

  test("funnel steps honor ordering and the conversion window") {
    val day = 86400.0
    // u1: full conversion; u2: click BEFORE view (not a conversion);
    // u3: click 3 days after view (outside the 2-day window)
    val df = evDf(Seq(
      (1L, 1L, "view", 0.0), (2L, 1L, "click", day), (3L, 1L, "purchase", day + 10),
      (4L, 2L, "click", 0.0), (5L, 2L, "view", 10.0),
      (6L, 3L, "view", 0.0), (7L, 3L, "click", 3 * day)))
    val got = Extended.funnelSteps(df,
        Seq("view" -> "s1", "click" -> "s2", "purchase" -> "s3"), 2L * 86400L * 1000000L)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("s1" -> 3L, "s2" -> 1L, "s3" -> 1L)) // only u1 converts
    spark.catalog.clearCache()
  }

  test("retention cohorts count distinct users per cohort-day offset") {
    val day = 86400.0
    // u1 first seen day 0, active days 0 and 2; u2 first seen day 1
    val df = evDf(Seq(
      (1L, 1L, "view", 0.0), (2L, 1L, "view", 100.0), (3L, 1L, "click", 2 * day),
      (4L, 2L, "view", day)))
    val got = Extended.retentionCohorts(df)
      .collect().map(r => (r.getLong(0) - 1704067200L, r.getLong(1)) -> r.getLong(2)).toMap
    assert(got === Map((0L, 0L) -> 1L, (0L, 2L) -> 1L, (86400L, 0L) -> 1L))
  }

  test("resample LOCF carries values across gap hours and drops pre-first-event points") {
    val sf = "/root/testdata/sf0.001"
    val got = SparkEntry.queries("resample_locf")(spark, sf)
    val rows = got.collect()
    assert(rows.nonEmpty)
    // grid points are exact hours
    assert(rows.forall(_.getLong(1) % 3600 == 0))
    // per user: consecutive grid points are exactly one hour apart (no gaps
    // in the grid itself — LOCF fills value gaps instead)
    val byUser = rows.groupBy(_.getLong(0)).values
    byUser.foreach { rs =>
      val ts = rs.map(_.getLong(1)).sorted
      assert(ts.zip(ts.tail).forall { case (a, b) => b - a == 3600 },
        s"grid has holes for user ${rs.head.getLong(0)}")
    }
    // spot equivalence: the value at each grid point equals the latest
    // event value at-or-before it (checked via a direct per-user scan)
    val ev = graft.engine.Tables.events(spark, sf)
      .select(col("user_id"), unix_micros(col("ts")).as("us"), col("value"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val sample = rows.take(50)
    sample.foreach { r =>
      val (u, g) = (r.getLong(0), r.getLong(1) * 1000000L)
      val expected = ev.filter(e => e._1 == u && e._2 <= g).maxBy(_._2)._3
      assert(r.getDouble(2) === expected, s"user $u grid $g")
    }
  }

  test("approx_percentiles tracks the exact sketch-free percentiles") {
    val sf = "/root/testdata/sf0.001"
    val exact = SparkEntry.queries("value_percentiles")(spark, sf)
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap
    val approx = rawApproxPercentiles(sf)
    assert(approx.keySet === exact.keySet)
    // accuracy=10000 ⇒ rank error ≤ n/10000; at sf0.001 (~2k rows/group)
    // the sketch returns an element within a handful of ranks of the true
    // percentile — assert a loose value envelope, not bit equality
    approx.foreach { case (k, (p50, p90)) =>
      val (e50, e90) = exact(k)
      assert(math.abs(p50 - e50) <= math.abs(e50) * 0.05 + 0.1, s"$k p50 $p50 vs $e50")
      assert(math.abs(p90 - e90) <= math.abs(e90) * 0.05 + 0.1, s"$k p90 $p90 vs $e90")
      assert(p50 <= p90)
    }
  }

  test("approx_distinct tracks the exact distinct counts within the HLL error bound") {
    // the error-bound contract behind the registered projection: the raw
    // sketch output is engine-specific, but its distance from the
    // oracle-backed exact twin IS checkable — default rsd 0.05 ⇒ a 3σ
    // envelope of 15% relative error; +2 absolute covers the
    // tiny-cardinality regime where HLL++'s sparse encoding rounds
    val sf = "/root/testdata/sf0.001"
    val exact = SparkEntry.queries("distinct_users")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = Extended.approxDistinct(graft.engine.Tables.events(spark, sf))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(approx.keySet === exact.keySet)
    exact.foreach { case (k, e) =>
      assert(math.abs(approx(k) - e) <= math.max(2.0, e * 0.15),
        s"$k: approx ${approx(k)} vs exact $e exceeds the HLL envelope")
    }
  }

  test("the registered sketch projections self-check: every envelope flag is 1") {
    // the qkeys now ship the DETERMINISTIC projection (exact values +
    // in-envelope flags) so DuckDB can hash-gate them (VERDICT r15
    // item 6); this is the local twin of that gate — a sketch regression
    // (or a broken bound formula) flips a flag to 0 here first
    val sf = "/root/testdata/sf0.001"
    val ad = SparkEntry.queries("approx_distinct")(spark, sf).collect()
    assert(ad.nonEmpty)
    ad.foreach(r => assert(r.getInt(2) === 1, s"approx_distinct ${r.getString(0)} out of envelope"))
    val ap = SparkEntry.queries("approx_percentiles")(spark, sf).collect()
    assert(ap.nonEmpty)
    ap.foreach { r =>
      assert(r.getInt(1) === 1, s"approx_percentiles ${r.getString(0)} p50 out of rank band")
      assert(r.getInt(2) === 1, s"approx_percentiles ${r.getString(0)} p90 out of rank band")
    }
  }

  /** The raw (pre-projection) sketch values the rank/envelope contracts
    * test — the registered qkey now emits flags, not estimates.
    */
  private def rawApproxPercentiles(sf: String): Map[String, (Double, Double)] =
    graft.engine.Tables.events(spark, sf)
      .groupBy(col("event_type"))
      .agg(
        expr("approx_percentile(value, 0.5, 10000)").as("p50"),
        expr("approx_percentile(value, 0.9, 10000)").as("p90"))
      .collect().map(r => r.getString(0) -> ((r.getDouble(1), r.getDouble(2)))).toMap

  test("approx_percentiles rank error stays within the sketch accuracy contract") {
    // the rank-error bound approx_percentile actually promises (the value
    // envelope above is a symptom; this is the contract): with
    // accuracy=10000 the returned element's rank differs from ceil(q·n)
    // by at most n/10000 (+1 for discretization at exact ranks)
    val sf = "/root/testdata/sf0.001"
    val approx = rawApproxPercentiles(sf)
    val vals = graft.engine.Tables.events(spark, sf)
      .filter(col("value").isNotNull)
      .select(col("event_type"), col("value")).collect()
      .groupBy(_.getString(0)).map { case (k, rs) => k -> rs.map(_.getDouble(1)).sorted }
    assert(approx.keySet === vals.keySet)
    for ((k, (p50, p90)) <- approx; (q, a) <- Seq(0.5 -> p50, 0.9 -> p90)) {
      val v = vals(k)
      val n = v.length
      val lt = v.count(_ < a)
      val le = v.count(_ <= a)
      val target = q * n
      val slack = n.toDouble / 10000 + 1
      assert(lt - slack <= target && target <= le + slack,
        s"$k q=$q: approx $a has rank window [$lt,$le], target $target of $n")
    }
  }

  test("heavyHittersCms equals an independent JVM sketch; est >= exact always") {
    import spark.implicits._
    val docs = Seq("a a a b b c", "a b d e", "c c f g a").toDF("text")
    val w = 8; val d = 2 // tiny width forces collisions — the interesting case
    val out = graft.functions.TextAnalysis.heavyHittersCms(docs, "text", w = w, d = d, k = 100)
      .as[(String, Long, Long)].collect()
    // independent reference sketch: same md5 byte-slice hashing, plain Maps
    val toks = Seq("a a a b b c", "a b d e", "c c f g a").flatMap(_.split(" "))
    val exact = toks.groupBy(identity).map { case (t, xs) => t -> xs.size.toLong }
    def bucket(t: String, r: Int): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(2 * r, 2 * r + 2), 16) % w
    }
    val cells = scala.collection.mutable.Map.empty[(Int, Long), Long].withDefaultValue(0L)
    for ((t, c) <- exact; r <- 0 until d) cells((r, bucket(t, r))) += c
    val estRef = exact.map { case (t, _) => t -> (0 until d).map(r => cells((r, bucket(t, r)))).min }
    assert(out.length === exact.size)
    out.foreach { case (t, ex, est) =>
      assert(ex === exact(t), s"exact($t)")
      assert(est === estRef(t), s"est($t)")
      assert(est >= ex, s"CMS must overestimate: $t")
    }
    // the tiny sketch must actually have collided somewhere, or w=8 proved nothing
    assert(out.exists { case (_, ex, est) => est > ex })
  }

  test("cmsCounters (typed Aggregator) rebuilds the identical sketch cell-for-cell") {
    import spark.implicits._
    val texts = Seq("a a a b b c", "a b d e", "c c f g a")
    val docs = texts.toDF("text")
    val w = 8; val d = 2
    val got = graft.functions.TextAnalysis.cmsCounters(docs, "text", w = w, d = d)
      .as[(Int, Long, Long)].collect().map(t => (t._1, t._2) -> t._3).toMap
    // independent reference: same md5 byte-slice hash, plain Maps
    val toks = texts.flatMap(_.split(" "))
    val cells = scala.collection.mutable.Map.empty[(Int, Long), Long].withDefaultValue(0L)
    for (t <- toks; r <- 0 until d) {
      val dig = java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8"))
      cells((r, ((dig(r) & 0xff) % w).toLong)) += 1L
    }
    assert(got === cells.toMap)
    // total mass: every row of every hash line counts each token once
    assert(got.values.sum === toks.size.toLong * d)
  }

  test("JsonFastLong fast path + from_json fallback equals plain from_json") {
    import spark.implicits._
    // fast-grammar hits, legitimate deferrals (floats, strings, nulls,
    // extra fields, leading zeros, huge numbers), and malformed inputs —
    // the composed when(fast, fast).otherwise(slow) column must be
    // bit-identical to the plain from_json column on ALL of them
    val rows = Seq(
      """{"k": 76}""", """{"k":0}""", """{ "k" : -42 }""", """{"k":	123}""",
      """{"k": 999999999999999999}""", """{"k": 9999999999999999999}""",
      """{"k": 07}""", """{"k": -0}""", """{"k": 1.5}""", """{"k": "12"}""",
      """{"k": null}""", """{"k": 1, "x": 2}""", """{"x": 1}""", """{"K": 1}""",
      """{"k": 1""", """not json""", """{}""", """ {"k": 5}""", """{"k": 5} """,
      """{"kk": 3}""", """{"k": +5}""", """{"k": 5e2}""")
      .zipWithIndex.map { case (s, i) => (i.toLong, s) }
    val df = rows.toDF("id", "props")
    val slow = from_json(col("props"),
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT")).getField("k")
    val fast = graft.functions.VectorExpressions.jsonFastLong(col("props"), "k")
    val composed = df.select(col("id"), when(fast.isNotNull, fast).otherwise(slow).as("k"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    val plain = df.select(col("id"), slow.as("k"))
      .collect().map(r => r.getLong(0) -> (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
    assert(composed === plain)
    // and the fixture events corpus agrees end to end
    val ev = graft.engine.Tables.events(spark, "/root/testdata/sf0.001")
    val got = graft.operators.Relational.jsonPropSum(ev)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val ref = ev.select(col("event_type"), slow.as("k"))
      .groupBy(col("event_type")).agg(sum(col("k")).as("s"), count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === ref)
  }
}

