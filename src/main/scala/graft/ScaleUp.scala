package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev-only bench-data scaler: builds an sf1-equivalent RELATIONAL dataset
  * from the driver's sf0.1 tables by replicating each SF-scaling table
  * `copies` times with injective key remapping (key' = key*copies + r for
  * replica r), leaving all non-key attributes — and therefore value
  * distributions, date ranges, and selectivities — untouched. Fixed-
  * cardinality dims (nation, region) copy as-is, exactly how TPC-H itself
  * scales. Foreign keys remap with the same formula as their primary keys,
  * so referential integrity and join fan-outs are preserved; per-key group
  * sizes (lines per order, orders per customer) stay identical, which is
  * the property the TPC-H plan shapes depend on.
  *
  * The pipeline tables scale with structure-preserving per-replica
  * transforms instead of naive copies (which would create 10-way
  * exact-dup clusters and quadratically inflate every dedup pair count,
  * measuring the replication instead of the operator):
  *  - documents: replica r applies an AFFINE letter map x → a·x + b
  *    (mod 26) to the letters of `text`, with (a, b) derived from r —
  *    a BIJECTION, so every intra-replica dup/near-dup relation, shingle
  *    frequency, and length stays bit-identical, while replicas share
  *    (almost) no shingles: corpus duplicate DENSITY is constant under
  *    scaling, exactly how a real corpus grows. For r < 26 the map is
  *    a = 1, b = r — plain Caesar, byte-identical to the pre-round-11
  *    generator, so data/sf1 regenerates unchanged; r ≥ 26 walks the 12
  *    units of Z₂₆ for `a`, giving 312 distinct maps (enough for ×100 =
  *    sf10 from sf0.1); r ≥ 312 switches to seeded Fisher–Yates letter
  *    PERMUTATIONS (still bijections — the 26! family, enough for
  *    ×1000 = sf100; see [[docAlphabet]]). (lang/quality scores of mapped replicas shift —
  *    the scaled text points are for the dedup/index operators, not the
  *    linguistic scores.)
  *  - embeddings: replica r circularly shifts vector dimensions by
  *    r mod 64 and NEGATES the vector for r ≥ 64 — norms and all
  *    intra-replica cosines are exactly preserved under both (cos(−a,−b)
  *    = cos(a,b)); cross-replica cosines are distributed like
  *    independent pairs. 128 distinct transforms; r < 64 is
  *    byte-identical to the pre-round-11 generator.
  *  - events: ids remap, timestamps/values/props unchanged — per-user
  *    session and funnel structure replicates exactly.
  *
  * Usage: sbt "runMain graft.ScaleUp [srcDir] [dstDir] [copies]"
  *        (defaults: /root/testdata/sf0.1 → /root/repo/data/sf1 × 10;
  *         output is NOT committed — regenerate on demand.)
  */
object ScaleUp {

  /** Per-replica orthogonal transform for the embeddings table.
    *
    * r < 128: circular dim shift by r mod `dims`, negated on the odd
    * half-cycle (r in [64, 128)) — byte-identical to the pre-round-12
    * generator, so data/sf1 and data/sf10 regenerate unchanged. r >= 128
    * (the fourth-decade extension): the same shift/negate COMPOSED with a
    * per-replica DIAGONAL ±1 map whose signs come from
    * xxhash64(replica, dim) — an orthogonal involution, so norms and
    * every intra-replica cosine are still EXACTLY preserved, while the
    * 2^64 sign patterns make distinct replicas collision-free in practice
    * (the bare shift/negate family has only 128 members; composing
    * replicated dirs would alias without this).
    *
    * The half-cycle test is INTEGER modular arithmetic
    * (pmod(r, 2·dims) < dims). `(r / dims) % 2 === 0` would be Spark
    * DOUBLE division (see the Curation.scala integer-division note) and
    * negates replicas 1..63 — aliasing r with r+64 for every
    * non-multiple-of-dims replica (ADVICE r12, high).
    */
  def embReplica(emb: org.apache.spark.sql.Column,
                 r: org.apache.spark.sql.Column,
                 dims: Int = 64): org.apache.spark.sql.Column = {
    val shift = r % dims
    val shifted = concat(
      slice(emb, shift + 1, size(emb) - shift),
      slice(emb, lit(1), shift))
    val negated = when(pmod(r, lit(2 * dims)) < dims, shifted)
      .otherwise(transform(shifted, x => -x))
    val flipped = transform(negated, (x, i) =>
      when(pmod(xxhash64(r, i), lit(2)) === 0, x).otherwise(-x))
    when(r < 2 * dims, negated).otherwise(flipped)
  }

  private val az = "abcdefghijklmnopqrstuvwxyz"
  // the 12 multiplicative units of Z26 — each (a, b) is a distinct
  // bijection on letters; a = 1 first so r < 26 stays plain Caesar
  private val units = Seq(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)

  /** Mapped alphabet for document replica r — always a BIJECTION on
    * letters, so every intra-replica dup/near-dup relation, shingle
    * frequency, and length is preserved bit-identically while replicas
    * share (almost) no shingles.
    *
    * r < 312: the affine maps x → a·x + b (mod 26) in the historical
    * order — r < 26 is plain Caesar and the whole range is byte-identical
    * to the pre-round-13 generator, so data/sf1 (×10) and data/sf10
    * (×100) regenerate unchanged. r >= 312 (the fourth-decade extension,
    * sf100 = ×1000): a Fisher–Yates permutation seeded from r via
    * java.util.Random — the LCG is JLS-spec-defined, so the family is
    * deterministic forever, and 26! members make collisions (with each
    * other or with the affine subfamily) practically impossible; the
    * generator CHECKS distinctness of the alphabets it uses rather than
    * trusting this.
    */
  def docAlphabet(r: Int): String = {
    require(r >= 0, s"docAlphabet: negative replica $r")
    if (r < 26 * units.length) {
      val a = units((r / 26) % units.length)
      val b = r % 26
      (0 until 26).map(i => az((a * i + b) % 26)).mkString
    } else {
      val rnd = new java.util.Random(0x9E3779B97F4A7C15L * (r + 1))
      val arr = az.toCharArray
      var i = arr.length - 1
      while (i > 0) {
        val j = rnd.nextInt(i + 1)
        val t = arr(i); arr(i) = arr(j); arr(j) = t
        i -= 1
      }
      new String(arr)
    }
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val dst = if (args.length > 1) args(1) else "/root/repo/data/sf1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = graft.engine.GraftSession.local(cpus.toInt, "graft-scaleup")
    spark.sparkContext.setLogLevel("ERROR")

    def replicate(name: String, keys: Seq[String]): Unit = {
      val df = graft.engine.Tables(spark, src, name)
      val out = df
        .withColumn("__r", explode(sequence(lit(0L), lit(copies - 1L))))
        .select(df.columns.map(c =>
          if (keys.contains(c)) (col(c) * copies + col("__r")).as(c) else col(c)): _*)
      out.write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scaleup] $name: ${df.count()} -> ${graft.engine.Tables(spark, dst, name).count()} rows")
    }
    def copy(name: String): Unit = {
      graft.engine.Tables(spark, src, name)
        .write.mode("overwrite").parquet(s"$dst/$name.parquet")
      println(s"[scaleup] $name: copied unscaled (fixed dim)")
    }

    replicate("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    replicate("orders", Seq("o_orderkey", "o_custkey"))
    replicate("customer", Seq("c_custkey"))
    replicate("supplier", Seq("s_suppkey"))
    replicate("part", Seq("p_partkey"))
    copy("nation")
    copy("region")

    // ---- pipeline tables: structure-preserving replication ----
    def affine(c: org.apache.spark.sql.Column, r: Int) =
      translate(c, az + az.toUpperCase,
        docAlphabet(r) + docAlphabet(r).toUpperCase)

    def replicateDocs(): Unit = {
      // collision-freedom is CHECKED, not assumed: the affine family is
      // exactly 312 maps (group closure — composing affines stays
      // affine), the seeded-permutation extension draws from 26!, and
      // this driver-side set-size check makes any alias an error at
      // generation time instead of a silent exact cross-replica dup
      val alphabets = (0 until copies).map(docAlphabet)
      require(alphabets.distinct.size == copies,
        s"documents: replica alphabet collision at copies=$copies")
      val df = graft.engine.Tables(spark, src, "documents")
      val out = df
        .withColumn("__r", explode(sequence(lit(0), lit(copies - 1))))
        .select(
          (col("doc_id") * copies + col("__r")).as("doc_id"),
          // per-replica CASE: translate's maps must be literals, so each
          // replica gets its own affine-map literal
          (1 until copies).foldLeft(when(col("__r") === 0, col("text"))) {
            (acc, r) => acc.when(col("__r") === r, affine(col("text"), r))
          }.as("text"),
          col("lang"), col("source"), col("n_chars"))
      out.write.mode("overwrite").parquet(s"$dst/documents.parquet")
      println(s"[scaleup] documents: affine-letter replication × $copies")
    }

    def replicateEmb(): Unit = {
      require(copies <= 100000,
        s"embeddings: keep the replica budget sane, got copies=$copies")
      val df = graft.engine.Tables(spark, src, "embeddings")
      val out = df
        .withColumn("__r", explode(sequence(lit(0), lit(copies - 1))))
        .select(
          (col("vec_id") * copies + col("__r")).as("vec_id"),
          embReplica(col("embedding"), col("__r")).as("embedding"),
          col("label"))
      out.write.mode("overwrite").parquet(s"$dst/embeddings.parquet")
      println(s"[scaleup] embeddings: dim-rotated/negated/sign-flipped replication × $copies")
    }

    def replicateEvents(): Unit = {
      // events.ts is TIMESTAMP(NANOS) — go through the engine loader
      // (nanosAsLong) and write back as µs timestamps, which the engine
      // reads identically
      val df = graft.engine.Tables.events(spark, src)
      val out = df
        .withColumn("__r", explode(sequence(lit(0L), lit(copies - 1L))))
        .select(
          (col("event_id") * copies + col("__r")).as("event_id"),
          col("ts"),
          (col("user_id") * copies + col("__r")).as("user_id"),
          col("event_type"), col("value"), col("props"))
      out.write.mode("overwrite").parquet(s"$dst/events.parquet")
      println(s"[scaleup] events: id-remapped replication × $copies")
    }

    replicateDocs()
    replicateEmb()
    replicateEvents()
    spark.stop()
  }
}
