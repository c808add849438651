package graft

import org.apache.spark.sql.functions._

import graft.engine.Tables
import graft.functions.{Curation, TextAnalysis}

/** Corpus-curation operators: per-source caps, sequence packing, and the
  * Bloom contamination filter. Runs on the sf0.001 fixture tables.
  */
class CurationSpec extends SparkSpec {
  private val dir = "/root/testdata/sf0.001"

  test("packingStats: totals reconcile with the packer, defect counts match a direct scan") {
    val docs = Tables.documents(spark, dir)
    val packed = Curation.seqPacking(docs, "doc_id", "source", "text", 256, 4)
      .collect().map(r => (r.getLong(3), r.getLong(4))) // (n_docs, seq_tokens)
    val got = Curation.packingStats(docs, "doc_id", "source", "text", 256, 4).collect().head
    assert(got.getLong(0) === packed.length.toLong)
    assert(got.getLong(1) === packed.map(_._1).sum)
    assert(got.getLong(2) === packed.map(_._2).sum)
    assert(got.getLong(3) === packed.count(_._2 > 256).toLong)
    assert(got.getLong(4) === packed.count(_._2 < 256).toLong)
    assert(got.getLong(5) === packed.map(_._2).max)
    assert(got.getLong(6) ===
      packed.map(_._2).sum * 1000 / (packed.length.toLong * 256))
    spark.catalog.clearCache()
  }

  test("qualitySurvival: thr=0 covers the corpus, survival monotone non-increasing") {
    val docs = Tables.documents(spark, dir)
    val rows = Curation.qualitySurvival(docs, "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    val total = docs.count()
    assert(rows.head._1 === 0L && rows.head._2 === total,
      "threshold 0 must keep every document")
    // docs and tokens both shrink (weakly) as the quality bar rises
    assert(rows.sliding(2).forall(p => p(1)._2 <= p(0)._2 && p(1)._3 <= p(0)._3),
      s"survival curve not monotone: ${rows.mkString(",")}")
    assert(rows.last._2 < total, "the top decile bar must actually cut something")
  }

  test("qualitySurvival: emits all 10 thresholds even when the curve collapses") {
    import spark.implicits._
    // adversarial corpus: zero stopwords anywhere → q = 0 for every doc,
    // so thresholds 100..900 have zero survivors. The curve must still
    // carry their (thr, 0, 0) rows — an inner theta-join would drop them
    // and downstream sweep-walkers would index past the end (ADVICE r10)
    val docs = Seq((1L, "xyzzy plugh qwrt"), (2L, "zzz qqq")).toDF("doc_id", "text")
    val rows = Curation.qualitySurvival(docs, "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sortBy(_._1)
    assert(rows.map(_._1).toSeq === (0L to 900L by 100L).toSeq,
      s"curve must always have 10 rows: ${rows.mkString(",")}")
    assert(rows.head === ((0L, 2L, 5L)))
    assert(rows.tail.forall(r => r._2 === 0L && r._3 === 0L))
  }

  test("corpusDiff classifies added/removed/changed by content digest, drops unchanged") {
    import spark.implicits._
    val oldRev = Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma")).toDF("doc_id", "text")
    val newRev = Seq((1L, "alpha"), (2L, "BETA!"), (4L, "delta")).toDF("doc_id", "text")
    val got = Curation.corpusDiff(oldRev, newRev, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toMap
    assert(got === Map(2L -> "changed", 3L -> "removed", 4L -> "added"))
    // the registered revision simulation must exercise every status on
    // the real corpus (that is what the %11/%13/%17 moduli are for)
    val real = SparkEntry.queries("corpus_diff")(spark, dir)
      .groupBy("status").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(real.keySet === Set("added", "removed", "changed"))
    assert(real.values.forall(_ > 0))
  }

  test("sourceCap keeps at most k docs per source, ranked by length") {
    val docs = Tables.documents(spark, dir)
    val capped = Curation.sourceCap(docs, "doc_id", "source", "n_chars", 5)
    val perSource = capped.groupBy("source").count().collect()
    assert(perSource.nonEmpty && perSource.forall(_.getLong(1) <= 5))
    // the kept set per source is exactly the 5 longest (doc_id tie-break)
    val src = perSource.head.getString(0)
    val expect = docs.filter(col("source") === src)
      .orderBy(col("n_chars").desc, col("doc_id").asc).limit(5)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val got = capped.filter(col("source") === src)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(got === expect)
  }

  test("sourceCap mega-source guard: identical output to the naive window, bounded sorts") {
    import spark.implicits._
    // fixture docs plus a synthetic mega source holding ~10× any other
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), col("n_chars"))
      .unionByName(
        spark.range(100000L, 105000L).select(
          col("id").as("doc_id"), lit("mega").as("source"),
          pmod(col("id") * 37L, lit(4001L)).cast("int").as("n_chars")))
    val k = 5
    val naive = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("n_chars").desc, col("doc_id").asc)
      docs.withColumn("rnk", row_number().over(w).cast("long"))
        .filter(col("rnk") <= k).select("doc_id", "source", "rnk")
    }
    val guarded = Curation.sourceCap(docs, "doc_id", "source", "n_chars", k)
    val naiveSet = naive.as[(Long, String, Long)].collect().toSet
    val guardedSet = guarded.as[(Long, String, Long)].collect().toSet
    assert(guardedSet === naiveSet,
      "guarded sourceCap must produce byte-identical (id, source, rnk) rows")
    // plan shape: the salted local phase exists (a Window partitioned by
    // (source, pmod(id))) — this is the task-size bound for mega sources —
    // and the naive form has exactly one Window while the guard has three
    // (under rank, over local rank, over global rank)
    val plan = guarded.queryExecution.executedPlan.toString
    assert(plan.contains("pmod"), "expected the shard-salted local window in the plan")
    def nWindows(p: String) = "\\+- Window ".r.findAllIn(p).size
    assert(nWindows(naive.queryExecution.executedPlan.toString) === 1)
    assert(nWindows(plan) === 3,
      s"expected 3 Window nodes (under rank, local prune, global rank), plan:\n$plan")
  }

  test("seqPacking conserves tokens and packs next-fit within each shard") {
    val docs = Tables.documents(spark, dir)
    val budget = 256
    val packed = Curation.seqPacking(docs, "doc_id", "source", "text", budget, 4)
      .collect()
    val totalPacked = packed.map(_.getAs[Long]("seq_tokens")).sum
    val totalDocs = docs.select(sum(size(split(col("text"), " ")).cast("long")))
      .collect().head.getLong(0)
    assert(totalPacked === totalDocs, "packing must conserve every token")
    // seq ids are dense from 0 within each (source, shard): next-fit never
    // skips a sequence
    packed.groupBy(r => (r.getAs[String]("source"), r.getAs[Long]("shard"))).foreach {
      case (_, rows) =>
        val ids = rows.map(_.getAs[Long]("seq_id")).sorted
        assert(ids.head === 0L && ids === (0L until ids.length).toVector.sorted,
          s"seq ids not dense: ${ids.mkString(",")}")
    }
    // next-fit boundary invariant: sequence s+1 only opens once the shard's
    // running total has crossed (s+1)·budget, so the prefix sum through any
    // non-final sequence s must be >= (s+1)·budget
    packed.groupBy(r => (r.getAs[String]("source"), r.getAs[Long]("shard"))).foreach {
      case (_, rows) =>
        val tok = rows.sortBy(_.getAs[Long]("seq_id")).map(_.getAs[Long]("seq_tokens"))
        tok.scanLeft(0L)(_ + _).tail.dropRight(1).zipWithIndex.foreach { case (prefix, s) =>
          assert(prefix >= (s + 1L) * budget,
            s"prefix through seq $s is $prefix < ${(s + 1L) * budget}")
        }
    }
  }

  test("mixtureSqrtSample: sqrt quotas flatten the mixture; guard matches naive window") {
    import spark.implicits._
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
      .unionByName(
        spark.range(200000L, 202500L).select(col("id").as("doc_id"), lit("mega").as("source")))
    val perSqrt = 4
    val got = Curation.mixtureSqrtSample(docs, "doc_id", "source", perSqrt)
    val kept = got.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val counts = docs.groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // per-source quota: min(cnt, 4·floor(sqrt(cnt)))
    counts.foreach { case (src, cnt) =>
      val quota = math.min(cnt, perSqrt * math.sqrt(cnt.toDouble).floor.toLong)
      assert(kept.getOrElse(src, 0L) === quota, s"source $src: kept ${kept.get(src)} != quota $quota")
    }
    // flattening: the 2500-doc mega source keeps a smaller FRACTION than a
    // ~25-doc source, but more absolute docs
    val smallSrc = counts.filter(_._2 < 100).keys.head
    assert(kept("mega").toDouble / counts("mega") < kept(smallSrc).toDouble / counts(smallSrc))
    assert(kept("mega") > kept(smallSrc))
    // the guarded two-phase form equals the naive single-window selection
    val naive = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(md5(col("doc_id").cast("string")).asc)
      docs.withColumn("rnk", row_number().over(w))
        .join(
          docs.groupBy("source").agg(count(lit(1)).as("cnt"))
            .select(col("source"),
              least(col("cnt"), lit(perSqrt.toLong) * floor(sqrt(col("cnt").cast("double"))).cast("long")).as("quota")),
          Seq("source"))
        .filter(col("rnk") <= col("quota")).select("doc_id", "source")
    }
    assert(got.as[(Long, String)].collect().toSet === naive.as[(Long, String)].collect().toSet)
  }

  test("corpusShuffle: total, dense-per-shard, deterministic assignment with no global sort") {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val n = docs.count()
    val shuffled = Curation.corpusShuffle(docs, "doc_id", nShards = 8)
    val rows = shuffled.as[(Long, Long, Long)].collect()
    assert(rows.length === n && rows.map(_._1).distinct.length === n) // every doc exactly once
    assert(rows.forall(r => r._2 >= 0 && r._2 < 8))
    // positions are dense 0..n_s-1 within each shard
    rows.groupBy(_._2).foreach { case (_, rs) =>
      assert(rs.map(_._3).sorted.toSeq === (0L until rs.length).toSeq)
    }
    // deterministic: a second run produces the identical assignment
    val again = Curation.corpusShuffle(docs, "doc_id", nShards = 8).as[(Long, Long, Long)].collect()
    assert(rows.toSet === again.toSet)
    // hash-uniform shards: no shard is empty or dominant on 500 docs
    val sizes = rows.groupBy(_._2).view.mapValues(_.length)
    assert(sizes.size === 8 && sizes.values.max < n / 4)
    // scale guard: the plan has NO global (unpartitioned) sort — the only
    // window partitions by shard
    val plan = shuffled.queryExecution.executedPlan.toString
    assert(!plan.contains("Sort [h"), s"global sort crept in:\n$plan")
    assert(plan.contains("windowspecdefinition(shard"), s"expected per-shard window:\n$plan")
  }

  test("docChunks: stride geometry, overlap context, content digests") {
    import spark.implicits._
    val text = (1 to 150).map(i => s"t$i").mkString(" ") // 150 tokens
    val d = Seq((1L, text), (2L, "a b c")).toDF("doc_id", "text")
    val chunks = Curation.docChunks(d, "doc_id", "text", chunkTokens = 64, overlap = 16)
      .as[(Long, Long, Long, String)].collect().groupBy(_._1)
    // doc 1: starts 0, 48, 96, 144 → sizes 64, 64, 54, 6
    val c1 = chunks(1L).sortBy(_._2)
    assert(c1.map(_._2).toSeq === Seq(0L, 1L, 2L, 3L))
    assert(c1.map(_._3).toSeq === Seq(64L, 64L, 54L, 6L))
    // digests match a locally computed reference (content, not just counts)
    val toks = text.split(" ")
    c1.foreach { case (_, idx, _, digest) =>
      val s = (idx * 48).toInt
      val expect = toks.slice(s, math.min(s + 64, toks.length)).mkString(" ")
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(expect.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(digest === hex, s"chunk $idx digest mismatch")
    }
    // short doc: a single whole-doc chunk
    assert(chunks(2L).toSeq.map(c => (c._2, c._3)) === Seq((0L, 3L)))
    // consecutive chunks share exactly `overlap` tokens of context
    assert(toks.slice(48, 64).toSeq === toks.slice(48, 112).take(16).toSeq)
  }

  test("spanDedup: drops only cross-document spans, reassembles in order") {
    import spark.implicits._
    // spans of 4: doc1 = [A][B], doc2 = [A][C], doc3 = [D] — span A is
    // shared across docs 1+2 and must be dropped from both; B, C, D stay.
    val a = "w1 w2 w3 w4"; val b = "b1 b2 b3 b4"; val c = "c1 c2 c3 c4"
    val d = Seq((1L, s"$a $b"), (2L, s"$a $c"), (3L, "d1 d2")).toDF("doc_id", "text")
    val out = Curation.spanDedup(d, "doc_id", "text", spanTokens = 4, maxDf = 1)
      .as[(Long, Long, Long, String)].collect().sortBy(_._1)
    def hex(s: String) = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(out === Array(
      (1L, 4L, 1L, hex(b)), // A dropped, B kept
      (2L, 4L, 1L, hex(c)), // A dropped, C kept
      (3L, 2L, 0L, hex("d1 d2")))) // short doc untouched, partial span kept
    // within-doc repetition alone (df = 1) is NOT boilerplate — kept whole
    val solo = Seq((9L, s"$a $a")).toDF("doc_id", "text")
    val so = Curation.spanDedup(solo, "doc_id", "text", 4, 1)
      .as[(Long, Long, Long, String)].collect()
    assert(so === Array((9L, 8L, 0L, hex(s"$a $a"))))
  }

  test("qualityTokenBudget: under budget, quality-maximal, next-fit boundary") {
    import spark.implicits._
    val docs = Tables.documents(spark, dir)
    val budget = 5000L
    val kept = Curation.qualityTokenBudget(docs, "doc_id", "text", budget)
      .as[(Long, Long, Long)].collect()
    assert(kept.nonEmpty && kept.map(_._3).sum <= budget, "kept tokens must fit the budget")
    // reference model computed locally from the same per-doc scalars
    val perDoc = TextAnalysis.qualityScore(docs, "doc_id", "text")
      .select(col("doc_id"), floor(col("stop_ratio") * 1000.0).cast("long"),
        col("n_tokens"))
      .as[(Long, Long, Long)].collect()
    assert(perDoc.map(_._3).sum > budget, "fixture must exceed the budget for a real cut")
    val expected = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    var used = 0L
    // full buckets from the top; then the boundary bucket next-fit by id
    perDoc.groupBy(_._2).toSeq.sortBy(-_._1).foreach { case (_, ds) =>
      val btok = ds.map(_._3).sum
      if (used + btok <= budget) { expected ++= ds; used += btok }
      else if (used < budget) {
        // prefix rule: the running total never resets, so the first doc
        // that crosses the budget ends the bucket's kept prefix
        var run = 0L
        ds.sortBy(_._1).foreach { d =>
          run += d._3
          if (used + run <= budget) expected += d
        }
        used = budget // boundary handled once; everything below drops
      }
    }
    assert(kept.toSet === expected.toSet,
      s"kept ${kept.length} docs != reference ${expected.length}")
    // quality-maximal: no dropped doc outranks any kept doc
    val keptIds = kept.map(_._1).toSet
    val dropped = perDoc.filterNot(d => keptIds.contains(d._1))
    if (dropped.nonEmpty && kept.nonEmpty)
      assert(dropped.map(_._2).max <= kept.map(_._2).min)
  }

  test("contaminationBloom never misses an exact contamination hit") {
    val docs = Tables.documents(spark, dir)
    val bench = col("source") === "src0"
    val exact = TextAnalysis.contaminationCheck(docs, "doc_id", "text", bench)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val bloom = Curation.contaminationBloom(docs, "doc_id", "text", bench)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Bloom errs only toward false positives: every exactly-shared shingle
    // sets all k of its positions, so per doc n_flagged >= n_shared
    exact.foreach { case (doc, nShared) =>
      assert(bloom.getOrElse(doc, 0L) >= nShared,
        s"doc $doc: bloom flagged ${bloom.getOrElse(doc, 0L)} < exact $nShared")
    }
    // and the false-positive inflation stays bounded on the fixture
    // (4096 bits / k=3 against ~1k benchmark shingles)
    val exactTotal = exact.values.sum.toDouble
    val bloomTotal = bloom.values.sum.toDouble
    assert(bloomTotal <= exactTotal * 3 + 50,
      s"bloom total $bloomTotal implausibly far above exact $exactTotal")
  }

  test("contaminationBloom packed-bitset equals the explode+join composition") {
    // r19 rewrite contract: the broadcast 64-long bitset + row-local
    // 3-probe conjunction must count exactly what the composable form
    // counted — explode 3 position rows per shingle, join the distinct
    // bloom-position frame, keep (doc, digest) pairs hitting all 3.
    val docs = Tables.documents(spark, dir)
    val bench = col("source") === "src0"
    def composed: Map[Long, Long] = {
      val posExprs = (0 until Curation.BloomHashes).map { i =>
        val o = 1 + 3 * i
        expr(s"""(CASE WHEN ascii(substr(d,$o,1))>=97 THEN ascii(substr(d,$o,1))-87 ELSE ascii(substr(d,$o,1))-48 END)*256
                |+(CASE WHEN ascii(substr(d,${o + 1},1))>=97 THEN ascii(substr(d,${o + 1},1))-87 ELSE ascii(substr(d,${o + 1},1))-48 END)*16
                |+(CASE WHEN ascii(substr(d,${o + 2},1))>=97 THEN ascii(substr(d,${o + 2},1))-87 ELSE ascii(substr(d,${o + 2},1))-48 END)""".stripMargin.replace("\n", ""))
      }
      val benchSh = TextAnalysis.shingles(docs.filter(bench), "doc_id", "text")
      val bloom = benchSh.select(md5(col("sh")).as("d"))
        .select(explode(array(posExprs: _*)).as("pos")).distinct()
      val candSh = TextAnalysis.shingles(docs.filter(!bench), "doc_id", "text")
        .select(col("doc_id"), md5(col("sh")).as("d"))
      candSh.select(col("doc_id"), col("d"), explode(array(posExprs: _*)).as("pos"))
        .join(bloom, Seq("pos"))
        .groupBy(col("doc_id"), col("d")).agg(count(lit(1)).as("n_hit"))
        .filter(col("n_hit") === Curation.BloomHashes)
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_flagged"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val packed = Curation.contaminationBloom(docs, "doc_id", "text", bench)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(packed === composed)
  }

  test("bloom-prefiltered contaminationCheck equals the straight shingle join") {
    // r19 contract: the Bloom direction has no false negatives, so
    // prefiltering candidate shingles row-locally and exact-confirming
    // only the flagged ones must give the SAME per-doc shared counts as
    // joining every distinct candidate shingle
    val docs = Tables.documents(spark, dir)
    val bench = col("source") === "src0"
    val composed = {
      val b = TextAnalysis.shingles(docs.filter(bench), "doc_id", "text").select(col("sh")).distinct()
      TextAnalysis.shingles(docs.filter(!bench), "doc_id", "text")
        .join(b, Seq("sh"))
        .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    }
    val prefiltered = TextAnalysis.contaminationCheck(docs, "doc_id", "text", bench)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(prefiltered === composed)
  }

  test("contaminationCheck: every fallback branch equals the exact-set path") {
    // VERDICT r20 item 3 ("what's wrong" #2): the non-default branches
    // previously had no gate coverage of their own plans — the small-SF
    // gates only ever exercised one. maxShingles=0 forces the wide-Bloom
    // PREFILTER fallback; maxShingles=0 + maxBits=64 saturates the
    // filter (fill → 1, fpRate ≥ 0.5) and forces the BYPASS join. All
    // three plans must agree bit-for-bit — the exact-set membership and
    // the Bloom no-false-negative argument under any geometry.
    val docs = Tables.documents(spark, dir)
    val bench = col("source") === "src0"
    def run(maxShingles: Long, maxBits: Int): Map[Long, Long] =
      TextAnalysis.contaminationCheckSized(docs, "doc_id", "text", bench, 8, 4,
          maxShingles, maxBits)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exactSet = TextAnalysis.contaminationCheck(docs, "doc_id", "text", bench)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exactSet.nonEmpty, "fixture must actually exhibit contamination")
    assert(run(0L, 1 << 20) === exactSet, "prefilter fallback must equal the exact-set plan")
    assert(run(0L, 64) === exactSet, "forced-bypass join must equal the exact-set plan")
    spark.catalog.clearCache()
  }

  test("ShingleSet.setFor: two array columns of one UnsafeRow get their own sets") {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, UnsafeProjection}
    import org.apache.spark.sql.catalyst.util.ArrayData
    import org.apache.spark.sql.types._
    import org.apache.spark.unsafe.types.UTF8String
    import graft.functions.ShingleSet
    def arr(xs: String*) = ArrayData.toArrayData(xs.map(UTF8String.fromString).toArray)
    val proj = UnsafeProjection.create(Array[DataType](ArrayType(StringType), ArrayType(StringType)))
    // equal lengths: the two arrays differ only in their offset in the row
    val row = proj(InternalRow(arr("alpha", "beta"), arr("gamma", "delta"))).copy()
    val (a, b) = (row.getArray(0), row.getArray(1))
    assert(a.asInstanceOf[UnsafeArrayData].getBaseObject eq
      b.asInstanceOf[UnsafeArrayData].getBaseObject, "fixture: both arrays must share one buffer")
    def has(set: ShingleSet, s: String): Boolean = {
      val bytes = s.getBytes("UTF-8")
      set.indexOf(bytes, 0, bytes.length) >= 0
    }
    val sa = ShingleSet.setFor(a)
    val sb = ShingleSet.setFor(b)
    assert(has(sa, "alpha") && has(sa, "beta") && !has(sa, "gamma"))
    assert(has(sb, "gamma") && has(sb, "delta") && !has(sb, "alpha"),
      "the second column must not be served the first column's set")
    // a fresh wrapper over the same bytes still hits the memo
    assert(ShingleSet.setFor(row.getArray(1)) eq sb)
  }

  test("MinShingleMd5 expression equals the explode+min+left-join composition") {
    import spark.implicits._
    val edge = Seq(
      1L -> "", 2L -> "short", 3L -> "exactly8", 4L -> "exactly9!",
      5L -> "a longer document with many shingles to scan through here",
      6L -> "ünïcödé shïnglés 日本語テキストのドキュメント 𝔘𝔫𝔦 with multibyte content")
      .toDF("doc_id", "text")
    def composed(df: org.apache.spark.sql.DataFrame): Map[Long, Option[String]] = {
      val sh = TextAnalysis.shingles(df, "doc_id", "text", distinct = false)
      val m = sh.groupBy(col("doc_id")).agg(min(md5(col("sh"))).as("fp_min"))
      df.select(col("doc_id")).join(m, Seq("doc_id"), "left")
        .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    }
    def compiled(df: org.apache.spark.sql.DataFrame): Map[Long, Option[String]] =
      df.select(col("doc_id"),
          graft.functions.VectorExpressions.minShingleMd5(col("text"), 8, 4).as("fp_min"))
        .collect().map(r => r.getLong(0) -> Option(r.getString(1))).toMap
    assert(compiled(edge) === composed(edge)) // incl. null for width-short docs
    val sfDocs = Tables.documents(spark, dir)
    assert(compiled(sfDocs) === composed(sfDocs))
  }

  test("RepetitionStats expression is bit-parity with the split/bigram composition") {
    import spark.implicits._
    val edge = Seq(
      1L -> "", 2L -> " ", 3L -> "one", 4L -> "a b", 5L -> "a a a a a",
      6L -> "a b a b a b", 7L -> "x  y  x  y", // empty tokens count and pair up
      8L -> "the cat sat on the mat the cat sat again",
      9L -> "ünï ünï ünï 日本 語 日本 語 𝔘 𝔫", 10L -> "trailing space ")
      .toDF("doc_id", "text")
    def composed(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long, Long)] = {
      val ws = df.select(col("doc_id"), split(col("text"), " ").as("w"))
      val top = ws.filter(size(col("w")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(w)-2), i -> concat(element_at(w, i+1), ' ', element_at(w, i+2)))"))
          .as("bigram"))
        .groupBy(col("doc_id"), col("bigram")).agg(count(lit(1)).as("cnt"))
        .groupBy(col("doc_id")).agg(max(col("cnt")).as("top_cnt"))
      ws.select(col("doc_id"), size(col("w")).cast("long").as("nw"),
          size(array_distinct(col("w"))).cast("long").as("nd"))
        .join(top, Seq("doc_id"), "left")
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), if (r.isNullAt(3)) 0L else r.getLong(3)))).toMap
    }
    def compiled(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long, Long)] =
      df.select(col("doc_id"), graft.functions.VectorExpressions.repetitionStats(col("text")).as("st"))
        .select(col("doc_id"), col("st.n_words"), col("st.n_distinct"), col("st.top_bigram"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(compiled(edge) === composed(edge))
    val sfDocs = Tables.documents(spark, dir)
    assert(compiled(sfDocs) === composed(sfDocs))
  }

  test("TextStats expression is bit-parity with the split/regex composition") {
    import spark.implicits._
    // every tokenization/charset edge: empty text, lone/leading/adjacent/
    // trailing spaces (split limit=-1 keeps empty tokens), no-space docs,
    // uppercase (NOT lowercased — [^a-z0-9 ] counts 'T'), digits,
    // multi-byte UTF-8 incl. supplementary planes (count per CODE POINT),
    // and marker tokens at start/middle/end/adjacent positions
    val edge = Seq(
      1L -> "", 2L -> " ", 3L -> "   ",
      4L -> "the quick brown fox is a dog", 5L -> "The Quick BROWN",
      6L -> "a  of   to", 7L -> "the", 8L -> " the ", 9L -> "to to to",
      10L -> "no-marker tokens, with punct!?", 11L -> "123 4a5 _",
      12L -> "ünïcödé tökens — 日本語 und ß 𝔘𝔫𝔦𝔠𝔬𝔡𝔢",
      13L -> "tab\tand\nnewline are nonalnum").toDF("doc_id", "text")
    val markers = TextAnalysis.langMarkers.head._2
    val old = edge.select(col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        size(filter(split(col("text"), " "), t => t.isin(markers: _*))).cast("long").as("n_stops"),
        (length(col("text")) - length(regexp_replace(col("text"), "[^a-z0-9 ]", ""))).cast("long").as("n_nonalnum"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val neu = edge.select(col("doc_id"),
        graft.functions.VectorExpressions.textStats(col("text"), markers).as("st"))
      .select(col("doc_id"), col("st.n_chars"), col("st.n_tokens"), col("st.n_stops"), col("st.n_nonalnum"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(neu === old)
    // and on a real corpus slice, not just crafted edges
    val sfDocs = Tables.documents(spark, dir)
    val o2 = sfDocs.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("t"),
        (length(col("text")) - length(regexp_replace(col("text"), "[^a-z0-9 ]", ""))).cast("long").as("na"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val n2 = sfDocs.select(col("doc_id"),
        graft.functions.VectorExpressions.textStats(col("text"), markers).as("st"))
      .select(col("doc_id"), col("st.n_tokens"), col("st.n_nonalnum"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(n2 === o2)
  }

  test("NormalizeText expression is bit-parity with the lower+regex chain") {
    import spark.implicits._
    val edge = Seq(
      1L -> "", 2L -> "   ", 3L -> "...!!!", 4L -> "Hello, World! 123",
      5L -> "  multiple   spaces  and--dashes__underscores  ",
      6L -> "MiXeD CaSe AnD ünïcödé ÉÀÇ 日本語 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 end",
      7L -> "already clean lowercase 09", 8L -> "a.b,c;d:e f\tg\nh",
      9L -> "İstanbul ß STRASSE").toDF("doc_id", "text")
    val old = edge.select(col("doc_id"),
        trim(regexp_replace(regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " ")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val neu = edge.select(col("doc_id"),
        graft.functions.VectorExpressions.normalizeText(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(neu === old)
    val sfDocs = Tables.documents(spark, dir)
    val o2 = sfDocs.select(col("doc_id"),
        trim(regexp_replace(regexp_replace(lower(col("text")), "[^a-z0-9 ]", " "), " +", " ")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val n2 = sfDocs.select(col("doc_id"),
        graft.functions.VectorExpressions.normalizeText(col("text")).as("n"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(n2 === o2)
  }

  test("curriculumOrder: bucketed rank equals the naive per-source window, interleave holds") {
    val docs = Tables.documents(spark, dir)
    val got = Curation.curriculumOrder(docs, "doc_id", "source", "n_chars")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // naive reference: single window per source, position arithmetic
    val naiveRank = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("n_chars").desc, col("doc_id").asc)
      docs.withColumn("r", row_number().over(w).cast("long") - 1)
        .select("doc_id", "source", "r").collect()
        .map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    }
    val sources = got.map(_._2).distinct.sorted
    val si = sources.zipWithIndex.toMap
    got.foreach { case (id, src, rank, pos) =>
      assert(rank === naiveRank((id, src)),
        s"doc $id: bucketed rank $rank != naive ${naiveRank((id, src))}")
      assert(pos === rank * sources.length + si(src))
    }
    // the schedule interleaves: the first |sources| positions are one doc
    // per source, each source's best
    val head = got.sortBy(_._4).take(sources.length)
    assert(head.map(_._2).toSet === sources.toSet)
    assert(head.forall(_._3 == 0L))
  }

  test("splitLeakage returns exactly the cross-split minhash pairs") {
    val docs = Tables.documents(spark, dir)
    val got = Curation.splitLeakage(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
    // reference: compose the two primitives independently collect-side
    val splits = TextAnalysis.dataSplit(docs, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val pairs = graft.functions.Dedup.minhashLshPairs(docs, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val expect = pairs.filter { case (a, b) => splits(a) != splits(b) }
      .map { case (a, b) => (a, b, splits(a), splits(b)) }
    assert(got.toSet === expect.toSet)
    // every reported pair is a genuine leak (splits differ by construction)
    assert(got.forall { case (_, _, sa, sb) => sa != sb })
  }
  test("BigramCounts expression equals the size-filter + bigram-explode composition") {
    import spark.implicits._
    val edge = Seq(
      1L -> "", 2L -> " ", 3L -> "one", 4L -> "a b", 5L -> "a a a a a",
      6L -> "a b a b a b", 7L -> "x  y  x  y", // empty tokens pair up
      8L -> "the cat sat on the mat the cat sat again",
      9L -> "ünï ünï ünï 日本 語 日本 語 𝔘 𝔫", 10L -> "trailing space ")
      .toDF("doc_id", "text")
    def composed(df: org.apache.spark.sql.DataFrame): Map[(Long, String), Long] =
      df.select(col("doc_id"), split(col("text"), " ").as("w"))
        .filter(size(col("w")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(0, size(w)-2), i -> concat(element_at(w, i+1), ' ', element_at(w, i+2)))"))
          .as("bigram"))
        .groupBy(col("doc_id"), col("bigram")).agg(count(lit(1)).as("c"))
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    def compiled(df: org.apache.spark.sql.DataFrame): Map[(Long, String), Long] =
      df.select(col("doc_id"),
          explode(graft.functions.VectorExpressions.bigramCounts(col("text"))).as("bc"))
        .select(col("doc_id"), col("bc.bigram"), col("bc.cnt"))
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(compiled(edge) === composed(edge))
    val sfDocs = Tables.documents(spark, dir)
    assert(compiled(sfDocs) === composed(sfDocs))
  }

  test("TokenCounts expression equals the token-explode + per-doc count composition") {
    import spark.implicits._
    val edge = Seq(
      1L -> "", 2L -> " ", 3L -> "one", 4L -> "a b a", 5L -> "x  y  x",
      6L -> "ünï 日本 ünï 𝔘", 7L -> "trailing space ").toDF("doc_id", "text")
    def composed(df: org.apache.spark.sql.DataFrame): Map[(Long, String), Long] =
      df.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("c"))
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    def compiled(df: org.apache.spark.sql.DataFrame): Map[(Long, String), Long] =
      df.select(col("doc_id"),
          explode(graft.functions.VectorExpressions.tokenCounts(col("text"))).as("tc"))
        .select(col("doc_id"), col("tc.tok"), col("tc.cnt"))
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(compiled(edge) === composed(edge))
    val sfDocs = Tables.documents(spark, dir)
    assert(compiled(sfDocs) === composed(sfDocs))
  }

  test("BpePairCounts expression equals the token+pair double-explode composition") {
    import spark.implicits._
    val edge = Seq(
      1L -> "", 2L -> " ", 3L -> "a", 4L -> "ab", 5L -> "abab cd ab",
      6L -> "aaa", 7L -> "x y z", // 1-char tokens contribute nothing
      8L -> "ünïcödé 日本語 𝔘𝔫 mixed12 a", 9L -> "  ab  ").toDF("doc_id", "text")
    def composed(df: org.apache.spark.sql.DataFrame): Map[(Long, String), Long] =
      df.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
        .filter(length(col("tok")) >= 2)
        .select(col("doc_id"), explode(expr(
          "transform(sequence(1, length(tok)-1), i -> substring(tok, i, 2))")).as("pair"))
        .groupBy(col("doc_id"), col("pair")).agg(count(lit(1)).as("c"))
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    def compiled(df: org.apache.spark.sql.DataFrame): Map[(Long, String), Long] =
      df.select(col("doc_id"),
          explode(graft.functions.VectorExpressions.bpePairCounts(col("text"))).as("pc"))
        .select(col("doc_id"), col("pc.pair"), col("pc.cnt"))
        .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(compiled(edge) === composed(edge))
    val sfDocs = Tables.documents(spark, dir)
    assert(compiled(sfDocs) === composed(sfDocs))
  }

  test("SpanTiles expression equals the posexplode-over-sequence + slice composition") {
    import spark.implicits._
    val edge = Seq(
      1L -> "", 2L -> " ", 3L -> "one two three four five six seven",
      4L -> "a b c d", 5L -> "a b c d e", 6L -> "x  y  z ", // empties kept
      7L -> "ünï 日本 語 𝔘 𝔫 extra words here beyond one span")
      .toDF("doc_id", "text")
    def composed(df: org.apache.spark.sql.DataFrame, k: Int): Set[(Long, Int, String, Int)] = {
      val toks = split(col("text"), " ")
      df.select(col("doc_id"), toks.as("toks"), size(toks).as("n"))
        .select(col("doc_id"), col("toks"),
          posexplode(sequence(lit(0), greatest(col("n") - 1, lit(0)), lit(k)))
            .as(Seq("span_idx", "start")))
        .select(col("doc_id"), col("span_idx"),
          array_join(slice(col("toks"), col("start") + lit(1), lit(k)), " ").as("span"),
          size(slice(col("toks"), col("start") + lit(1), lit(k))).as("ntok"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3))).toSet
    }
    def compiled(df: org.apache.spark.sql.DataFrame, k: Int): Set[(Long, Int, String, Int)] =
      df.select(col("doc_id"),
          posexplode(graft.functions.VectorExpressions.spanTiles(col("text"), k))
            .as(Seq("span_idx", "tile")))
        .select(col("doc_id"), col("span_idx"), col("tile.span"), col("tile.ntok"))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2), r.getInt(3))).toSet
    for (k <- Seq(1, 3, 4, 7)) assert(compiled(edge, k) === composed(edge, k), s"k=$k")
    val sfDocs = Tables.documents(spark, dir)
    assert(compiled(sfDocs, 16) === composed(sfDocs, 16))
  }

  test("DistinctShingles expression equals the shingle-explode + distinct composition") {
    import spark.implicits._
    val edge = Seq(
      1L -> "", 2L -> "short", 3L -> "exactly8", 4L -> "abcabcabcabc",
      5L -> "aaaaaaaaaaaaaaaa", // heavy within-doc duplication
      6L -> "ünïcödé 日本語 𝔘𝔫𝔦𝔠𝔬𝔡𝔢 multibyte shingles walk by code point")
      .toDF("doc_id", "text")
    def composed(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
      TextAnalysis.shingles(df, "doc_id", "text", 8, 4)
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    def compiled(df: org.apache.spark.sql.DataFrame): Set[(Long, String)] =
      df.select(col("doc_id"),
          explode(graft.functions.VectorExpressions.distinctShingles(col("text"), 8, 4)).as("sh"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(compiled(edge) === composed(edge))
    val sfDocs = Tables.documents(spark, dir)
    assert(compiled(sfDocs) === composed(sfDocs))
  }
  test("TokenizeCounts expression equals the split + regexp_count composition") {
    import spark.implicits._
    val edge = Seq(
      1L -> "", 2L -> " ", 3L -> "abc", 4L -> "abc123def", 5L -> "123",
      6L -> "a1b2 c3!d4?", 7L -> "UPPER Case mIx", 8L -> "...!!!",
      9L -> "ünïcödé 日本語 𝔘𝔫 a9z", 10L -> "  double  spaces  ",
      11L -> "tab\tnewline\nmix 42x").toDF("doc_id", "text")
    def composed(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] =
      df.select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("ws"),
          regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")).cast("long").as("re"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    def compiled(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] =
      df.select(col("doc_id"),
          graft.functions.VectorExpressions.tokenizeCounts(col("text")).as("tc"))
        .select(col("doc_id"), col("tc.ws_tokens"), col("tc.re_tokens"))
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(compiled(edge) === composed(edge))
    val sfDocs = Tables.documents(spark, dir)
    assert(compiled(sfDocs) === composed(sfDocs))
  }

  test("LangMarkerCounts expression equals the five split+filter marker counts") {
    import spark.implicits._
    val edge = Seq(
      1L -> "", 2L -> "the the the und und es", 3L -> "le los das a of",
      4L -> " the  und ", 5L -> "THE The",  // case-sensitive: no hits
      6L -> "de5 shi4 wo3 le5 dans une est", 7L -> "nomarkers here at all")
      .toDF("doc_id", "text")
    val sets = TextAnalysis.langMarkers.map(_._2)
    def composed(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      df.select(col("doc_id") +: sets.zipWithIndex.map { case (m, i) =>
          size(filter(split(col("text"), " "), t => t.isin(m: _*))).cast("long").as(s"c$i") }: _*)
        .collect().map(r => r.getLong(0) -> (1 to sets.length).map(r.getLong(_)).toSeq).toMap
    def compiled(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] =
      df.select(col("doc_id"),
          graft.functions.VectorExpressions.langMarkerCounts(col("text"), sets).as("c"))
        .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toSeq).toMap
    assert(compiled(edge) === composed(edge))
    val sfDocs = Tables.documents(spark, dir)
    assert(compiled(sfDocs) === composed(sfDocs))
  }

  test("PiiScrubStats expression is bit-parity with the regexp_count + chained regexp_replace composition") {
    import spark.implicits._
    val edge = Seq(
      1L -> "", 2L -> "no pii here",
      // email shapes: plain, leftmost-first over runs, adjacent @s,
      // dots in both sides, digits absorbed into the email match
      3L -> "a@b", 4L -> "x a.b@c.d y", 5L -> "a@b@c", 6L -> "x@@y",
      7L -> "1234567@1234567", 8L -> "123@456789012345", 9L -> "a@bb@cc",
      10L -> "abc def@x", 11L -> "@nostart trailing@",
      // digit runs: exactly 6, 5 (no match), long, adjacent to words
      12L -> "12345 123456 1234567", 13L -> "abc123456def",
      // dictionary + \b edges, incl. the boundary CREATED by chaining:
      // customer123456 -> customer<NUM> exposes a \b the original lacked
      14L -> "customer order supplier part", 15L -> "customers parting",
      16L -> "customer123456", 17L -> "part_x part-x part",
      18L -> "order", 19L -> "ORDER Customer",
      // multibyte neighbours: Java \b is isLetterOrDigit per code point
      // (letters like 日/é SUPPRESS the boundary; punctuation keeps it)
      20L -> "日本part語 ünïcödé@x part日本", 21L -> "é123456é order日",
      22L -> "a.b.c@d.e.f 99999@99999 part.order",
      23L -> "𝔘part𝔘 «order» ！supplier。 ¡part")
      .toDF("doc_id", "text")
    val scrub = regexp_replace(regexp_replace(regexp_replace(col("text"),
      TextAnalysis.emailPattern, "<EMAIL>"),
      TextAnalysis.longNumPattern, "<NUM>"),
      TextAnalysis.dictPattern, "<ENT>")
    def composed(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long, Long, String)] =
      df.select(col("doc_id"),
          regexp_count(col("text"), lit(TextAnalysis.emailPattern)).cast("long"),
          regexp_count(col("text"), lit(TextAnalysis.longNumPattern)).cast("long"),
          regexp_count(col("text"), lit(TextAnalysis.dictPattern)).cast("long"),
          scrub)
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    def compiled(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long, Long, String)] =
      df.select(col("doc_id"),
          graft.functions.VectorExpressions.piiScrubStats(col("text")).as("ps"))
        .select(col("doc_id"), col("ps.n_email"), col("ps.n_num"), col("ps.n_dict"), col("ps.scrubbed"))
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getLong(3), r.getString(4)))).toMap
    assert(compiled(edge) === composed(edge))
    val sfDocs = Tables.documents(spark, dir)
    assert(compiled(sfDocs) === composed(sfDocs))
  }
}
