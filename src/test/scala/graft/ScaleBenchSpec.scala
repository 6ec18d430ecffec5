package graft

import org.apache.spark.sql.functions._

/** The scaling-exponent methodology (BASELINE.md "Measured scaling
  * exponents") stands on the replica construction being DECORRELATED: a
  * ×F corpus must behave like F independent sf copies, not one corpus
  * duplicated F times — otherwise the dedup families are handed an
  * artificial quadratic workload and the measured exponents are about the
  * generator, not the engine. These specs pin the construction's
  * invariants.
  */
class ScaleBenchSpec extends SparkSpec {

  private lazy val out = {
    val dir = java.nio.file.Files
      .createTempDirectory("graft-scalegen").toString
    ScaleBench.generate(spark, sf001, dir, factor = 4)
    dir
  }

  test("affine substitution alphabets: bijections, identity at k=0, pairwise distinct") {
    assert(ScaleBench.affineAlpha(0) == "abcdefghijklmnopqrstuvwxyz")
    val alphas = (0 until 100).map(ScaleBench.affineAlpha)
    // each is a permutation of the alphabet (26 distinct letters)
    alphas.foreach(a => assert(a.toSet.size == 26))
    // pairwise distinct — replica k and k' never share a letter mapping,
    // the flaw the earlier 9-letter rotation scheme had at k ≡ 0 (mod 9)
    assert(alphas.toSet.size == 100)
    // distinct up to the documented ceiling; k=MaxFactor would wrap to
    // the identity (the re-correlation generate() now guards against)
    assert((0 until ScaleBench.MaxFactor).map(ScaleBench.affineAlpha).toSet.size ==
      ScaleBench.MaxFactor)
    assert(ScaleBench.affineAlpha(ScaleBench.MaxFactor) ==
      ScaleBench.affineAlpha(0))
  }

  test("digit substitution: bijections, identity at k=0, letter-free texts decorrelate") {
    assert(ScaleBench.digitAlpha(0) == "0123456789")
    (0 until 40).foreach(k => assert(ScaleBench.digitAlpha(k).toSet.size == 10))
    assert((0 until 40).map(ScaleBench.digitAlpha).toSet.size == 40)
    // the full substitution covers lower, upper, and digits — a text of
    // digits only (no letters) is no longer a fixed point for k=1..3
    (1 until 4).foreach { k =>
      val s = ScaleBench.substAlpha(k)
      assert(s.length == 62)
      assert(s.substring(52) != "0123456789")
      // case-consistent: the uppercase block mirrors the lowercase one
      assert(s.substring(26, 52) == s.substring(0, 26).toUpperCase)
    }
  }

  test("generate rejects factor beyond the bijection ceiling and stale markers regenerate") {
    intercept[IllegalArgumentException] {
      ScaleBench.generate(spark, sf001, "/tmp/never-written", factor = 313)
    }
    // marker mismatch (different factor, same dir) must NOT silently
    // reuse the factor-4 corpus: regenerate at factor 2 and observe 2x rows
    val base = spark.read.parquet(s"$sf001/documents.parquet").count()
    val dir = out // factor-4 corpus built by the lazy val
    ScaleBench.generate(spark, sf001, dir, factor = 2)
    assert(spark.read.parquet(s"$dir/documents.parquet").count() == 2 * base)
    // restore the factor-4 corpus for the remaining tests (marker now
    // records factor=2, so this regenerates again)
    ScaleBench.generate(spark, sf001, dir, factor = 4)
    assert(spark.read.parquet(s"$dir/documents.parquet").count() == 4 * base)
  }

  test("generate is deterministic: two sf0.001 x2 generations hash equal, table by table") {
    // exponents and recall from different runs compare only if the
    // corpus they ran on is the same: sorted rows, not file layout
    def gen(): String = {
      val dir = java.nio.file.Files
        .createTempDirectory("graft-scalegen-det").toString
      ScaleBench.generate(spark, sf001, dir, factor = 2)
      dir
    }
    val dirs = Seq(gen(), gen())
    try {
      Seq("documents", "embeddings", "customer", "lineitem", "events").foreach { t =>
        val Seq(a, b) = dirs.map { dir =>
          val rows = spark.read.parquet(s"$dir/$t.parquet").collect()
            .map(_.toString).sorted
          val digest = java.security.MessageDigest.getInstance("SHA-256")
            .digest(rows.mkString("\n").getBytes("UTF-8"))
          (rows.length, digest.map(x => f"$x%02x").mkString)
        }
        assert(a._1 > 0 && a == b, s"$t differs between two generations: $a vs $b")
      }
    } finally dirs.foreach(graft.queries.Artifact.sweepScratch(spark, _))
  }

  test("documents: 4x rows, zero cross-replica exact duplicates, marginals preserved") {
    val base = spark.read.parquet(s"$sf001/documents.parquet")
    val gen = spark.read.parquet(s"$out/documents.parquet")
    assert(gen.count() == 4 * base.count())
    // a letter bijection cannot merge texts, so distinct texts must grow
    // exactly 4x (up to duplicates already present within the base corpus)
    assert(gen.select(col("text")).distinct().count() ==
      4 * base.select(col("text")).distinct().count())
    // source/lang marginals replicate (bigger sources, not more sources)
    assert(gen.select(col("source")).distinct().count() ==
      base.select(col("source")).distinct().count())
    // length-preserving substitution keeps n_chars truthful
    assert(gen.filter(length(col("text")) =!= col("n_chars")).count() == 0)
  }

  test("embeddings: within-replica cosines preserved exactly, ids disjoint") {
    val base = spark.read.parquet(s"$sf001/embeddings.parquet")
    val gen = spark.read.parquet(s"$out/embeddings.parquet")
    assert(gen.count() == 4 * base.count())
    assert(gen.select(col("vec_id")).distinct().count() == gen.count())
    // rotation/negation is orthogonal: replica k's pairwise dot products
    // equal replica 0's bit-for-bit (same floats, same order of the
    // sequential sum after rotation of BOTH operands)
    def dots(df: org.apache.spark.sql.DataFrame, shift: Long) = df
      .filter(col("vec_id") >= shift && col("vec_id") < shift + 20)
      .select((col("vec_id") - shift).as("id"), col("embedding"))
      .as("a").crossJoin(
        df.filter(col("vec_id") >= shift && col("vec_id") < shift + 20)
          .select((col("vec_id") - shift).as("id2"), col("embedding").as("e2")))
      .filter(col("id") < col("id2"))
      .select(col("id"), col("id2"),
        aggregate(zip_with(col("embedding"), col("e2"), (x, y) => x * y),
          lit(0.0), (acc, v) => acc + v).as("dot"))
    val d0 = dots(gen, 0L).collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val d2 = dots(gen, 20000000L).collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    assert(d0.keySet == d2.keySet)
    // |dot| identical (negation replicas flip both operands: sign cancels)
    d0.foreach { case (k, v) => assert(math.abs(math.abs(v) - math.abs(d2(k))) < 1e-9) }
  }

  test("customer: replica tags keep cross-replica names beyond edit distance 1") {
    val gen = spark.read.parquet(s"$out/customer.parquet")
    // deterministic coverage: compare each replica-0 name against BOTH its
    // own replica-1 twin (custkey + stride — the closest pair by
    // construction) and a fixed orderBy-pinned 60x60 cross sample
    val r0 = gen.filter(col("c_custkey") < 10000000L)
      .orderBy(col("c_custkey"))
      .select(col("c_custkey").as("k"), col("c_name").as("a")).limit(60)
    val r1 = gen.filter(col("c_custkey") >= 10000000L && col("c_custkey") < 20000000L)
      .orderBy(col("c_custkey"))
      .select((col("c_custkey") - 10000000L).as("k2"), col("c_name").as("b")).limit(60)
    val minTwin = r0.join(r1, col("k") === col("k2"))
      .select(min(levenshtein(col("a"), col("b"))).as("d"))
      .head().getInt(0)
    assert(minTwin > 1, s"replica twin names within tau=1 (min dist $minTwin)")
    val minDist = r0.crossJoin(r1)
      .select(min(levenshtein(col("a"), col("b"))).as("d"))
      .head().getInt(0)
    assert(minDist > 1, s"cross-replica names within tau=1 (min dist $minDist)")
  }

  test("events: 4x rows, disjoint event and user ids, loader round-trips") {
    val gen = Tables.events(spark, out)
    val base = Tables.events(spark, sf001)
    assert(gen.count() == 4 * base.count())
    assert(gen.select(col("event_id")).distinct().count() == gen.count())
    // the ts column survives the write/read cycle as a usable timestamp
    assert(gen.filter(col("ts").isNull).count() == 0)
  }

  test("recallAtK: counts truth rows recovered, ignores extra probe rows") {
    import spark.implicits._
    val truth = Seq(
      (1L, 10L), (1L, 11L), (1L, 12L), (1L, 13L), (1L, 14L),
      (2L, 20L), (2L, 21L), (2L, 22L), (2L, 23L), (2L, 24L))
      .toDF("query_id", "neighbor_id")
    // q1 recovers 4/5; q2 recovers 3/5 plus two wrong neighbors (which
    // must not add recall) — mean over truth rows = 7/10
    val approx = Seq(
      (1L, 10L), (1L, 11L), (1L, 12L), (1L, 13L), (1L, 99L),
      (2L, 20L), (2L, 21L), (2L, 22L), (2L, 98L), (2L, 97L))
      .toDF("query_id", "neighbor_id")
    assert(math.abs(ScaleBench.recallAtK(truth, approx) - 0.7) < 1e-12)
    // a query the probe missed entirely still counts against recall
    val missingQ2 = approx.filter(col("query_id") === 1L)
    assert(math.abs(ScaleBench.recallAtK(truth, missingQ2) - 0.4) < 1e-12)
  }

  test("ivfScaleParams: sqrt-n cells, constant probed fraction, floors at tiny n") {
    // floors: tiny corpora keep a searchable index
    assert(ScaleBench.ivfScaleParams(100L) == ((16, 4)))
    // the 2k testdata point and the x100 = 200k point
    assert(ScaleBench.ivfScaleParams(2000L) == ((45, 4)))
    assert(ScaleBench.ivfScaleParams(200000L) == ((447, 28)))
    // above the floors the probed fraction nprobe/nlist stays ~1/16 as n
    // grows — the invariant that keeps recall size-independent
    for (n <- Seq(50000L, 200000L, 2000000L, 20000000L)) {
      val (nlist, nprobe) = ScaleBench.ivfScaleParams(n)
      val frac = nprobe.toDouble / nlist
      assert(frac >= 1.0 / 16 - 1e-9 && frac < 2.0 / 16 + 1e-9,
        s"probed fraction $frac off-policy at n=$n")
    }
  }

  test("planted neighbors: deterministic, and exactly the brute-force top-k") {
    import graft.operators.SimilaritySearch
    val emb = Tables.embeddings(spark, sf001)
      .select(col("vec_id"), col("embedding"))
    val queries = emb.orderBy(xxhash64(col("vec_id"), lit(7L))).limit(10)
    val planted = ScaleBench.plantNeighbors(queries, copies = 5, amp = 0.5)
    // hash-derived noise: two evaluations produce identical vectors
    def snapshot(df: org.apache.spark.sql.DataFrame) = df
      .select(col("vec_id"), col("embedding").cast("string").as("e"))
      .collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(snapshot(planted) ==
      snapshot(ScaleBench.plantNeighbors(queries, copies = 5, amp = 0.5)))
    // the planted twins (cosine ~0.96) beat every background vector: the
    // exact brute-force top-5 of each query IS its planted set
    val corpus = emb.unionByName(planted)
    val truth = ScaleBench.plantedTruth(queries, copies = 5)
    val brute = SimilaritySearch.bruteForceTopK(corpus, queries, 5)
    val b = brute.select(col("query_id"), col("neighbor_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val t = truth.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(b == t, "planted set is not the exact top-5")
    assert(ScaleBench.recallAtK(truth, brute) == 1.0)
  }

  test("ann recall under the scale policy: measured bounds at the testdata size") {
    import graft.operators.SimilaritySearch
    val emb = Tables.embeddings(spark, sf001)
      .select(col("vec_id"), col("embedding")).persist()
    val n = emb.count()
    val (nlist, nprobe) = ScaleBench.ivfScaleParams(n)
    val queries = emb.orderBy(xxhash64(col("vec_id"), lit(7L))).limit(20)
    val truth = SimilaritySearch.bruteForceTopK(emb, queries, 5).persist()
    val ivfIdx = SimilaritySearch.buildIvfIndex(emb, nlist = nlist)
    val rIvf = ScaleBench.recallAtK(truth,
      SimilaritySearch.ivfProbe(ivfIdx, queries, 5, nprobe = nprobe))
    // this corpus's low-cosine regime scatters true neighbors across
    // cells; the 1/16-fraction policy still recovers enough to clear the
    // floor here, and the ScaleBench ann_recall harness tracks the same
    // number at x10/x100 (BASELINE.md recall table: flat 0.44-0.52
    // across 100x under the policy)
    info(s"IVF policy recall@5 at n=$n: $rIvf")
    assert(rIvf >= 0.4, s"IVF policy recall@5 $rIvf below bound")
    val sketched = SimilaritySearch.srpSketch(emb, bits = 128)
    val rSrp = ScaleBench.recallAtK(truth,
      SimilaritySearch.hammingTopK(sketched, emb, queries, 5, refine = 8))
    // full-scan sketch at the testdata size; at bigger n the fixed
    // refine=8 shortlist dilutes (BASELINE.md) - this floor is a
    // small-n pin, not a size-independent claim
    info(s"SRP refine=8 recall@5 at n=$n: $rSrp")
    assert(rSrp >= 0.5, s"SRP policy recall@5 $rSrp below bound")
    ivfIdx.unpersist(); truth.unpersist(); emb.unpersist()
  }

  test("refineScaleParam: base at the 2k point, measured recovery dials at 200k, capped") {
    import graft.operators.SimilaritySearch.refineScaleParam
    // identity at the measurement anchor
    assert(refineScaleParam(2000L, 8) == 8)
    assert(refineScaleParam(2000L, 4) == 4)
    // floors below the anchor
    assert(refineScaleParam(100L, 8) == 8)
    // the x100 point must land at/above the dials whose recall was
    // measured to recover the fixed-dial decay (BASELINE.md recall
    // table: SRP refine=64 -> 0.484 vs refine=8 -> 0.236; ADC
    // refine=16 -> 0.292 vs refine=4 -> 0.156)
    assert(refineScaleParam(200000L, 8) >= 64,
      s"SRP auto refine ${refineScaleParam(200000L, 8)} below measured recovery dial")
    assert(refineScaleParam(200000L, 4) >= 16,
      s"ADC auto refine ${refineScaleParam(200000L, 4)} below measured recovery dial")
    // monotone in n; cap bounds the re-rank join
    val vals = Seq(2000L, 20000L, 200000L, 2000000L).map(refineScaleParam(_, 8))
    assert(vals == vals.sorted)
    assert(refineScaleParam(10000000000L, 8) == 1024)
  }

  test("auto refine APIs: recall monotone vs the fixed base dial on the x4 corpus") {
    import graft.operators.SimilaritySearch
    val emb = Tables.embeddings(spark, out)
      .select(col("vec_id"), col("embedding")).persist()
    val n = emb.count()
    assert(n == 2000L, s"x4 corpus has $n vectors")
    // 2000 is the policy's measurement anchor: auto == the measured base
    // dial there (widening starts above it — the 200k pins are in the
    // refineScaleParam test)
    assert(SimilaritySearch.refineScaleParam(n, 8) == 8)
    val queries = emb.orderBy(xxhash64(col("vec_id"), lit(7L))).limit(15)
    val truth = SimilaritySearch.bruteForceTopK(emb, queries, 5).persist()
    val sketched = SimilaritySearch.srpSketch(emb, bits = 128).persist()
    val rAuto = ScaleBench.recallAtK(truth,
      graft.operators.HybridRetrieval.DenseLeg.Srp(
        SimilaritySearch.SrpIndex(sketched, n, 128, 42L), emb)
        .probe(queries, 5))
    val rFixed = ScaleBench.recallAtK(truth,
      SimilaritySearch.hammingTopK(sketched, emb, queries, 5, refine = 8))
    // at the anchor, auto must reproduce the fixed dial exactly
    info(s"SRP at n=$n: fixed refine=8 recall $rFixed, auto recall $rAuto")
    assert(rAuto == rFixed, s"auto $rAuto != fixed $rFixed at the anchor")
    // the monotonicity that makes the policy safe: a wider shortlist is a
    // superset and exact re-ranking cannot evict a true top-k neighbor,
    // so recall never DECREASES as refine widens
    val rWide = ScaleBench.recallAtK(truth,
      SimilaritySearch.hammingTopK(sketched, emb, queries, 5, refine = 32))
    info(s"SRP at n=$n: refine=32 recall $rWide")
    assert(rWide >= rFixed,
      s"refine=32 recall $rWide below refine=8 $rFixed — monotonicity broken")
    val pqIdx = SimilaritySearch.buildIvfPqIndex(emb,
      nlist = ScaleBench.ivfScaleParams(n)._1)
    val nprobe = ScaleBench.ivfScaleParams(n)._2
    val rPqFixed = ScaleBench.recallAtK(truth, SimilaritySearch
      .ivfProbePqRefined(pqIdx, emb, queries, 5, nprobe = nprobe, refine = 4))
    val rPqAuto = ScaleBench.recallAtK(truth,
      graft.operators.HybridRetrieval.DenseLeg.PqRefined(pqIdx, emb)
        .probe(queries, 5, Some(nprobe)))
    info(s"IVF-PQ at n=$n: fixed refine=4 recall $rPqFixed, auto recall $rPqAuto")
    assert(rPqAuto == rPqFixed, s"auto $rPqAuto != fixed $rPqFixed at the anchor")
    val rPqWide = ScaleBench.recallAtK(truth, SimilaritySearch
      .ivfProbePqRefined(pqIdx, emb, queries, 5, nprobe = nprobe, refine = 16))
    info(s"IVF-PQ at n=$n: refine=16 recall $rPqWide")
    assert(rPqWide >= rPqFixed,
      s"refine=16 recall $rPqWide below refine=4 $rPqFixed — monotonicity broken")
    pqIdx.unpersist(); sketched.unpersist(); truth.unpersist(); emb.unpersist()
  }
}
