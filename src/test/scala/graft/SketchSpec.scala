package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.Row

import graft.sketch.{MinKHashes, Sketches}

/** Sketch semantics: HLL register math and estimate accuracy, KMV
  * bottom-k buffer laws (dedup, bound, merge associativity/commutativity
  * — the partial-aggregation contract), and estimator error floors. */
class SketchSpec extends SparkSuite {
  import spark.implicits._

  // ---- HLL ----

  test("hll registers: rho matches a reference leading-zeros computation") {
    val regs = Sketches.hllRegisters(
      (1L to 200L).toDF("v").withColumn("g", lit("x")), Seq("g"), col("v"))
      .collect()
    // reference: recompute bucket/rho in plain Scala from the same md5
    val expect = (1L to 200L).map { v =>
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(v.toString.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val bucket = Integer.parseInt(hex.substring(0, 2), 16)
      val w = java.lang.Long.parseLong(hex.substring(2, 15), 16)
      val rho = if (w == 0L) 53 else 53 - (64 - java.lang.Long.numberOfLeadingZeros(w))
      bucket -> rho
    }.groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).max }
    val got = regs.map(r => r.getInt(r.fieldIndex("bucket")) -> r.getInt(r.fieldIndex("r"))).toMap
    assert(got == expect)
  }

  test("hll estimate: within 3 standard errors of exact, and sharded merge is identical") {
    val n = 5000
    val df = (1 to n).map(i => ("g", i.toLong)).toDF("g", "v")
    val est = Sketches.hllEstimate(df, Seq("g"), col("v")).head
    val e = est.getDouble(est.fieldIndex("est_hll"))
    // m=256 → standard error 1.04/16 ≈ 6.5%; 3σ ≈ 19.5%
    assert(math.abs(e - n) / n < 0.195, s"estimate $e vs exact $n")

    val merged = Sketches.hllEstimateSharded(df, Seq("g"), col("v"), shards = 8).head
    assert(merged.getDouble(merged.fieldIndex("est_merged")) == e,
      "sharded merge tree must reproduce the direct estimate bit-for-bit")
  }

  test("hll union law: MAX-merged pair registers ≡ registers of the unioned data") {
    val a = (1 to 900).map(i => ("A", i.toLong)).toDF("g", "v")
    val b = (501 to 1400).map(i => ("B", i.toLong)).toDF("g", "v")
    val regs = Sketches.hllRegisters(a.unionAll(b), Seq("g"), col("v"))
    // union-by-MAX from the two per-set sketches alone…
    val merged = regs.groupBy(col("bucket")).agg(max(col("r")).as("r"))
      .collect().map(r => r.getInt(0) -> r.getInt(1)).toMap
    // …must equal the sketch built from the unioned raw data
    val direct = Sketches.hllRegisters(
        a.unionAll(b).withColumn("g", lit("U")), Seq("g"), col("v"))
      .collect().map(r => r.getInt(r.fieldIndex("bucket")) -> r.getInt(r.fieldIndex("r"))).toMap
    assert(merged == direct, "register MAX is the lossless sketch union")
  }

  test("hll index: batching-invariant, retry-idempotent, bytes-sized") {
    val idx = java.nio.file.Files.createTempDirectory("hllidx").toString + "/idx"
    val df = (1 to 3000).map(i => (if (i % 3 == 0) "A" else "B", i.toLong)).toDF("g", "v")
    // ingest in 4 uneven batches
    Seq(1 to 100, 101 to 1700, 1701 to 1701, 1702 to 3000).zipWithIndex.foreach {
      case (range, b) =>
        Sketches.hllIndexAddBatch(df.filter(col("v").between(range.head, range.last)),
          Seq("g"), col("v"), idx, b.toLong)
    }
    // retry of an already-committed batch must be a no-op
    Sketches.hllIndexAddBatch(df.filter(col("v").between(101, 1700)),
      Seq("g"), col("v"), idx, 1L)
    val served = Sketches.hllIndexRead(spark, idx, Seq("g"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getInt(2)).toMap
    val direct = Sketches.hllRegisters(df, Seq("g"), col("v"))
      .collect().map(r => (r.getString(0), r.getInt(1)) -> r.getInt(2)).toMap
    assert(served == direct,
      "merged index registers must equal the sketch of all data ever ingested")
    assert(served.size <= 2 * Sketches.HllM, "index stays sketch-bounded")
  }

  test("hll estimate: duplicate values do not move the estimate") {
    val base = (1 to 800).map(i => ("g", i.toLong)).toDF("g", "v")
    val dup = base.union(base).union(base)
    val a = Sketches.hllEstimate(base, Seq("g"), col("v")).head
    val b = Sketches.hllEstimate(dup, Seq("g"), col("v")).head
    assert(a.getLong(a.fieldIndex("s_scaled")) == b.getLong(b.fieldIndex("s_scaled")))
  }

  // ---- Count-Min ----

  test("cms: estimates dominate exact counts; counters merge by sum") {
    val items = (1 to 2000).map(i => "t%03d".format(i % 97)).toDF("v")
    val counters = Sketches.cmsCounters(items, col("v"))
    val exact = items.groupBy(col("v")).agg(count(lit(1)).as("exact_n"))
    val est = Sketches.cmsPointEstimates(counters, exact, "v").collect()
    assert(est.length == 97)
    est.foreach { r =>
      val (e, x) = (r.getLong(r.fieldIndex("est_n")), r.getLong(r.fieldIndex("exact_n")))
      assert(e >= x, s"CMS must never undercount: $r")
    }

    // mergeability: counters(A ∪ B) == per-bucket sum of counters(A), counters(B)
    val (a, b) = ((1 to 1000).map(i => "t%03d".format(i % 97)).toDF("v"),
      (1001 to 2000).map(i => "t%03d".format(i % 97)).toDF("v"))
    val mergedSum = Sketches.cmsCounters(a, col("v"))
      .unionAll(Sketches.cmsCounters(b, col("v")))
      .groupBy(col("i"), col("bucket")).agg(sum(col("c")).as("c"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    val direct = counters.collect()
      .map(r => (r.getInt(0), r.getInt(1)) -> r.getLong(2)).toMap
    assert(mergedSum == direct)
  }

  // ---- MinKHashes buffer laws ----

  private def agg(k: Int) = new MinKHashes(k)

  test("minK buffer: bounded, sorted, distinct, null-safe") {
    val a = agg(4)
    val buf = List("d", "b", "b", null, "a", "c", "e", "a").foldLeft(a.zero)(a.reduce)
    assert(buf == Seq("a", "b", "c", "d"))
  }

  test("minK merge: associative, commutative, and ≡ single-stream fold") {
    val a = agg(8)
    val xs = (1 to 50).map(i => "h%03d".format((i * 37) % 101))
    val (l, r) = xs.splitAt(20)
    val bl = l.foldLeft(a.zero)(a.reduce)
    val br = r.foldLeft(a.zero)(a.reduce)
    val direct = xs.foldLeft(a.zero)(a.reduce)
    assert(a.merge(bl, br) == direct)
    assert(a.merge(br, bl) == direct)
  }

  test("kmv sketch ≡ window-rank bottom-k of the distinct set") {
    val df = (1 to 3000).map(i => (if (i % 2 == 0) "A" else "B", (i % 700).toLong))
      .toDF("s", "v")
    val sk = Sketches.kmvSketch(df, col("s"), col("v"))
      .select(col("s"), col("mins")).as[(String, Seq[String])].collect().toMap
    val expect = df.select(col("s"), md5(col("v").cast("string")).as("h")).distinct()
      .as[(String, String)].collect().groupBy(_._1)
      .map { case (s, xs) => s -> xs.map(_._2).distinct.sorted.take(Sketches.KmvK).toSeq }
    assert(sk == expect)
  }

  test("cms join-size: inner-product estimate dominates the exact join size") {
    val a = (1 to 500).map(i => (i % 50).toLong).toDF("k")
    val b = (1 to 800).map(i => (i % 80).toLong).toDF("k")
    val est = Sketches.cmsJoinSize(
      Sketches.cmsCounters(a, col("k")),
      Sketches.cmsCounters(b, col("k"))).head.getLong(0)
    val exact = a.join(b, "k").count()
    assert(est >= exact, "the inner-product estimator never undercounts")
    // 130 distinct keys in 4096 buckets: collisions rare → tight estimate
    assert(est <= exact * 2, s"est $est vs exact $exact")
  }

  // ---- MinKPairs (bottom-k multiset quantile sample) ----

  test("minKPairs: bottom-k MULTISET by (hash, value) — duplicates preserved") {
    val a = new graft.sketch.MinKPairs(4)
    // duplicate hashes with different values, and a full duplicate pair
    val xs = List(("b", 2.0), ("a", 9.0), ("b", 1.0), ("a", 9.0), ("c", 0.0), ("a", 3.0))
    val buf = xs.foldLeft(a.zero)(a.reduce)
    assert(buf == Seq(("a", 3.0), ("a", 9.0), ("a", 9.0), ("b", 1.0)),
      "sorted by (hash, value), duplicate (hash, value) pairs each keep a slot")
  }

  test("minKPairs merge ≡ single-stream fold; aggregator ≡ window bottom-k on duplicate-heavy data") {
    val a = new graft.sketch.MinKPairs(16)
    val xs = (1 to 120).map(i => ("h%02d".format(i % 23), (i % 7).toDouble))
    val (l, r) = xs.splitAt(47)
    val direct = xs.foldLeft(a.zero)(a.reduce)
    assert(a.merge(l.foldLeft(a.zero)(a.reduce), r.foldLeft(a.zero)(a.reduce)) == direct)
    assert(direct == xs.sortBy(identity).take(16), "≡ sort-take of the multiset")

    // the distributed aggregator against a window-rank reference, on keys
    // with MANY hash collisions (the sf0.01 lineitem regression: non-unique
    // hash keys must not be deduped or sampled nondeterministically)
    import org.apache.spark.sql.expressions.Window
    val df = (1 to 3000).map(i => ("g", (i % 41).toLong, (i % 13).toDouble * 10))
      .toDF("g", "k", "v")
      .withColumn("h", md5(col("k").cast("string")))
    val got = Sketches.bottomKSample(df, Seq("g"), col("h"), col("v"), k = 100)
      .select("vs").as[Seq[Double]].head
    val w = Window.partitionBy(col("g")).orderBy(col("h"), col("v"))
    val expect = df.withColumn("rn", row_number().over(w)).filter(col("rn") <= 100)
      .select("v").as[Double].collect().sorted.toSeq
    assert(got == expect)
  }

  test("quantileAt: pure index selection at the exact rational indexes") {
    val df = Seq((1 to 11).map(_.toDouble)).toDF("vs")
      .withColumn("k", size(col("vs")).cast("long"))
    val r = df.select(
      Sketches.quantileAt(col("vs"), col("k"), 1, 2).as("p50"),
      Sketches.quantileAt(col("vs"), col("k"), 9, 10).as("p90"),
      Sketches.quantileAt(col("vs"), col("k"), 99, 100).as("p99")).head
    // k=11: idx(p50) = 10/2 = 5 → 6th = 6.0; idx(p90) = 90/10 = 9 → 10.0;
    // idx(p99) = 990/100 = 9 (floor 9.9) → 10.0
    assert((r.getDouble(0), r.getDouble(1), r.getDouble(2)) == ((6.0, 10.0, 10.0)))
  }

  // ---- Bloom ----

  test("bloom sizing: hex width from the key count, integer/string logic") {
    val df = Seq(1L, 16L, 4096L, 4097L, 65536L).toDF("n")
      .select(Sketches.bloomHexChars(col("n")).as("c"))
    // 16n: 16→2, 256→2, 65536→5? length(hex(16n-1)): n=1→hex(15)="F"(1);
    // n=16→hex(255)="FF"(2); n=4096→hex(65535)(4); n=4097→hex(65551)(5)?
    // 16·4097−1 = 65551 → 0x1000F → 5; n=65536→hex(1048575)="FFFFF"(5)
    assert(df.as[Int].collect().toSeq == Seq(1, 2, 4, 5, 5))
  }

  test("bloom sizing: width capped at 15 hex chars, with no 16·n overflow") {
    // uncapped: 16^13 → 14, 16^14 → 15, 16^14+1 → 16, 2^60 → 16 (16·n
    // wraps to 0), 2^60+1 → 1 (16·n wraps to 16)
    val ns = Seq(1L << 52, 1L << 56, (1L << 56) + 1, 1L << 60, (1L << 60) + 1, Long.MaxValue)
    val rows = ns.toDF("n")
      .withColumn("c", Sketches.bloomHexChars(col("n")).cast("int"))
      .withColumn("m_bits", expr("shiftleft(CAST(1 AS BIGINT), 4 * c)"))
      .select("c", "m_bits").as[(Int, Long)].collect().toSeq
    assert(rows.map(_._1) == Seq(14, 15, 15, 15, 15, 15))
    assert(rows.map(_._2) == Seq(1L << 56, 1L << 60, 1L << 60, 1L << 60, 1L << 60, 1L << 60))
  }

  test("bloom: never a false negative; false-positive rate bounded at worst fill") {
    // corpus size AT a width boundary (n = 16^(c−1)) = the WORST fill
    // for its width (exactly 16 bits/key): FP ≈ (1−e^(−1/4))^4 ≈ 0.24%
    val n = 4096
    val corpus = (1 to n).map(i => s"key$i").toDF("g")
    val params = corpus.agg(count(lit(1)).as("n_corpus"))
      .withColumn("c", Sketches.bloomHexChars(col("n_corpus")).cast("int"))
    val bits = Sketches.bloomBits(corpus.crossJoin(broadcast(params)), col("g"))
    val members = corpus.crossJoin(broadcast(params))
    val nonMembers = (1 to 20000).map(i => s"other$i").toDF("g")
      .crossJoin(broadcast(params))
    val memHits = Sketches.bloomContains(bits, members, "g")
      .filter(col("in_bloom")).count()
    assert(memHits == n, "a Bloom filter must never miss a member")
    val fp = Sketches.bloomContains(bits, nonMembers, "g")
      .filter(col("in_bloom")).count()
    assert(fp <= 200, s"false positives $fp of 20000 — expected ~0.24%")
  }

  test("kmv overlap: estimators land within tolerance on a planted overlap") {
    // A = 1..1000, B = 501..1500 → |A∪B| = 1500, J = 1/3, |A∩B| = 500
    val df = ((1 to 1000).map(i => ("A", i.toLong)) ++
      (501 to 1500).map(i => ("B", i.toLong))).toDF("s", "v")
    val sk = Sketches.kmvSketch(df, col("s"), col("v"))
    val Row(_, _, _, _, estU, estJ, estI) =
      Sketches.kmvOverlap(sk).select("set_a", "set_b", "w_k", "matches",
        "est_union", "est_jaccard", "est_intersect").head
    // k=64 → σ(union) ≈ 1/√62 ≈ 12.7%; allow 3σ-ish windows
    assert(math.abs(estU.asInstanceOf[Double] - 1500) / 1500 < 0.4)
    assert(math.abs(estJ.asInstanceOf[Double] - 1.0 / 3) < 0.25)
    assert(math.abs(estI.asInstanceOf[Double] - 500) / 500 < 0.7)
  }
}
