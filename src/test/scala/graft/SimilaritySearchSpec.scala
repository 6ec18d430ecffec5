package graft

import graft.operators.SimilaritySearch
import graft.operators.SimilaritySearch.AnnCodec
import graft.operators.HybridRetrieval.DenseLeg
import org.apache.spark.sql.functions._

class SimilaritySearchSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf001).cache()

  test("brute-force top-k: self excluded, k rows per query, descending cosine") {
    val queries = emb.filter(col("vec_id") < 5)
    val out = SimilaritySearch.bruteForceTopK(emb, queries, k = 10).collect()
    assert(out.length == 5 * 10)
    out.groupBy(_.getLong(0)).foreach { case (qid, rows) =>
      val cosines = rows.sortBy(_.getInt(1)).map(_.getDouble(3))
      assert(cosines.zip(cosines.tail).forall { case (a, b) => a >= b - 1e-12 },
        s"cosines not descending for query $qid")
      assert(!rows.exists(_.getLong(2) == qid), "self in neighbors")
    }
  }

  test("filtered ANN: pre-filter semantics, all-cells probe equals filtered brute") {
    val queries = emb.filter(col("vec_id") < 5)
    val allowed = emb.filter(col("vec_id") % 3 === 0).select(col("vec_id"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
      .sortBy(t => (t._1, t._2))
    val brute = SimilaritySearch.bruteForceTopK(
      emb, queries, k = 5, allowed = Some(allowed))
    val bruteRows = rows(brute)
    // every returned neighbor is allowed, k rows per query
    assert(bruteRows.forall(_._3 % 3 == 0))
    assert(bruteRows.length == 5 * 5)
    // PRE-filter, not post-filter: an allowed neighbor ranked past the
    // GLOBAL top-k must still appear — the filtered result is NOT just
    // the unfiltered top-k intersected with allowed
    val global = rows(SimilaritySearch.bruteForceTopK(emb, queries, 5))
    assert(bruteRows.toSet != global.filter(_._3 % 3 == 0).toSet ||
      global.forall(_._3 % 3 == 0))
    // probing EVERY cell makes the filtered IVF probe exact: ≡ brute
    val idx = SimilaritySearch.buildIvfIndex(emb, nlist = 8, seed = 42L,
      persist = false)
    val ivf = SimilaritySearch.ivfProbe(
      idx, queries, k = 5, nprobe = 8, allowed = Some(allowed))
    assert(rows(ivf) == bruteRows)
    // allowed = everyone reduces to the unfiltered probe
    val all = SimilaritySearch.ivfProbe(
      idx, queries, k = 5, nprobe = 8, allowed = Some(emb.select(col("vec_id"))))
    assert(rows(all) ==
      rows(SimilaritySearch.ivfProbe(idx, queries, k = 5, nprobe = 8)))
  }

  test("filtered COMPRESSED ANN: full-width probes equal filtered brute per family") {
    // the serving configuration a multi-tenant deployment actually runs:
    // ACL scoping on the memory-floor indexes. Same contract as the float
    // pair — pre-filter semantics, and at full width (all cells probed /
    // shortlist covering every allowed candidate) each family is EXACT:
    // ≡ the brute probe over the allowed-filtered corpus.
    val n = emb.count().toInt
    val queries = emb.filter(col("vec_id") < 5)
    val allowed = emb.filter(col("vec_id") % 3 === 0).select(col("vec_id"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
      .sortBy(t => (t._1, t._2))

    // IVF-SQ8: all-cells filtered probe ≡ int8 brute over the allowed
    // corpus (identical scoring kernel, so cosines are bit-equal too)
    val idx8 = SimilaritySearch.buildIvfInt8Index(emb, nlist = 8)
    val got8 = rows(SimilaritySearch.ivfProbeInt8(
      idx8, queries, k = 5, nprobe = 8, allowed = Some(allowed)))
    val want8 = rows(SimilaritySearch.int8BruteForceTopK(
      SimilaritySearch.quantizeInt8(emb)
        .join(allowed, Seq("vec_id"), "left_semi"), queries, k = 5))
    assert(got8.nonEmpty && got8 == want8)
    assert(got8.forall(_._3 % 3 == 0))
    // allowed = everyone reduces to the unfiltered probe
    assert(rows(SimilaritySearch.ivfProbeInt8(
        idx8, queries, k = 5, nprobe = 8,
        allowed = Some(emb.select(col("vec_id"))))) ==
      rows(SimilaritySearch.ivfProbeInt8(idx8, queries, k = 5, nprobe = 8)))
    idx8.unpersist()

    // IVF-PQ + refine: all cells + a shortlist wide enough for every
    // allowed candidate makes the exact re-rank the exact answer
    // ≡ the filtered bruteForceTopK (same cosineNative re-rank)
    val idxPq = SimilaritySearch.buildIvfPqIndex(emb, nlist = 4, m = 8,
      ksub = 16)
    val wantBrute = rows(SimilaritySearch.bruteForceTopK(
      emb, queries, k = 5, allowed = Some(allowed)))
    val gotPq = rows(SimilaritySearch.ivfProbePqRefined(
      idxPq, emb, queries, k = 5, nprobe = 4, refine = n,
      allowed = Some(allowed)))
    assert(gotPq == wantBrute)
    // a NARROW filtered shortlist still returns k allowed rows per query
    // (pre-filter: disallowed candidates never occupy shortlist slots)
    val narrowPq = rows(SimilaritySearch.ivfProbePqRefined(
      idxPq, emb, queries, k = 5, nprobe = 4, refine = 2,
      allowed = Some(allowed)))
    assert(narrowPq.length == 5 * 5 && narrowPq.forall(_._3 % 3 == 0))
    idxPq.unpersist()

    // SRP-Hamming: the allowed semi-join rides the scan; a full-width
    // shortlist makes the refined result exact ≡ filtered brute
    val sk = SimilaritySearch.srpSketch(emb, bits = 128)
    val gotHam = rows(SimilaritySearch.hammingTopK(
      sk, emb, queries, k = 5, refine = n, allowed = Some(allowed)))
    assert(gotHam == wantBrute)
    val narrowHam = rows(SimilaritySearch.hammingTopK(
      sk, emb, queries, k = 5, refine = 2, allowed = Some(allowed)))
    assert(narrowHam.length == 5 * 5 && narrowHam.forall(_._3 % 3 == 0))
  }

  test("filtered ANN recall recovers monotonically with nprobe (the dial)") {
    // the filtered ivfProbe scaladoc's claim made measurable: under a
    // selective filter the probed cells must hold enough allowed
    // vectors, so recall grows with nprobe and reaches exact at
    // nprobe = nlist
    val queries = emb.filter(col("vec_id") < 8)
    val allowed = emb.filter(col("vec_id") % 3 === 0).select(col("vec_id"))
    val idx = SimilaritySearch.buildIvfIndex(emb, nlist = 16, seed = 7L,
      persist = false) // one-shot: keep the shared session cache clean
    val truth = SimilaritySearch.bruteForceTopK(
      emb, queries, k = 5, allowed = Some(allowed)).persist()
    def recall(np: Int): Double = ScaleBench.recallAtK(truth,
      SimilaritySearch.ivfProbe(idx, queries, k = 5, np,
        allowed = Some(allowed)))
    val (r1, r4, r16) = (recall(1), recall(4), recall(16))
    assert(r16 == 1.0, s"all-cells filtered probe must be exact, got $r16")
    assert(r4 >= r1 - 1e-9 && r16 >= r4 - 1e-9,
      s"recall not monotone in nprobe: $r1, $r4, $r16")
    truth.unpersist()
  }

  test("filteredNprobeParam: pinned policy values; auto probes beat fixed at selective filters") {
    import SimilaritySearch.filteredNprobeParam
    // policy values at the BASELINE.md-measured sizes: ×100 has nlist =
    // 447, policy nprobe = 28; the selective filter (1/128) caps at
    // nlist (probing every cell scores only the 0.8% allowed rows);
    // the permissive filter (1/2) doubles the dial
    assert(filteredNprobeParam(447, 1.0 / 128) == 447)
    assert(filteredNprobeParam(447, 0.5) == 56)
    // sf0.1 (n = 20k): nlist = 141, policy 9 → selective caps, permissive 18
    assert(filteredNprobeParam(141, 1.0 / 128) == 141)
    assert(filteredNprobeParam(141, 0.5) == 18)
    // no filter (s = 1) IS the unfiltered policy; tiny nlist floors at 4
    assert(filteredNprobeParam(447, 1.0) == 28)
    assert(filteredNprobeParam(16, 1.0) == 4)
    intercept[IllegalArgumentException] { filteredNprobeParam(16, 0.0) }

    // end-to-end: under a selective filter the auto dial reaches exact
    // recall (cap = all cells ⇒ ≡ filtered brute) while the fixed policy
    // dial under-recalls — auto ≥ fixed deterministically (superset cells)
    val queries = emb.filter(col("vec_id") < 8)
    val allowed = emb.filter(pmod(col("vec_id"), lit(128L)) === 0)
      .select(col("vec_id"))
    val n = emb.count()
    val (nlist, npPolicy) = SimilaritySearch.ivfScaleParams(n)
    val idx = SimilaritySearch.buildIvfIndex(emb, nlist = nlist,
      persist = false)
    val truth = SimilaritySearch.bruteForceTopK(
      emb, queries, k = 5, allowed = Some(allowed)).persist()
    val rFixed = ScaleBench.recallAtK(truth, SimilaritySearch
      .ivfProbe(idx, queries, k = 5, npPolicy, allowed = Some(allowed)))
    // derived selectivity (None): two bounded counts, then the cap dial
    val auto = DenseLeg.Float32(idx)
      .probeAmong(queries, k = 5, allowed)
    val rAuto = ScaleBench.recallAtK(truth, auto)
    assert(rAuto >= rFixed - 1e-9, s"auto $rAuto < fixed $rFixed")
    assert(rAuto == 1.0,
      s"selective auto dial caps at nlist => exact, got $rAuto")
    // caller-supplied selectivity takes the same path with zero counts
    val autoS = DenseLeg.Float32(idx).probeAmong(
      queries, k = 5, allowed, selectivity = Some(1.0 / 128))
    assert(auto.collect().toSeq == autoS.collect().toSeq)
    // an ACL broader than the index (catalog-wide ids this shard never
    // held, plus duplicates) must read as ITS INTERSECTION's selectivity
    // — a raw count ratio would clamp to 1 and collapse the dial back to
    // the fixed policy (the r14 review finding)
    val bloated = allowed
      .unionAll(emb.select((col("vec_id") + 10000000L).as("vec_id")))
      .unionAll(allowed) // duplicates must not inflate the ratio either
    val autoBloated = DenseLeg.Float32(idx).probeAmong(
      queries, k = 5, bloated)
    // out-of-index ids can't match anything, so the result set equals the
    // selective probe's — and the derived dial must equal the capped one
    assert(autoBloated.collect().toSeq == autoS.collect().toSeq,
      "broad ACL collapsed the auto dial to the fixed policy")

    // int8 twin: auto == the explicit probe at the policy-resolved dial
    val idx8 = SimilaritySearch.buildIvfInt8Index(emb, nlist = nlist)
    val got8 = DenseLeg.Int8(idx8).probeAmong(
        queries, k = 5, allowed, selectivity = Some(1.0 / 128))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val want8 = SimilaritySearch.ivfProbeInt8(
        idx8, queries, k = 5,
        filteredNprobeParam(nlist, 1.0 / 128), allowed = Some(allowed))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got8.nonEmpty && got8 == want8)
    idx8.unpersist()
    truth.unpersist()
  }

  test("PQ auto dials: policy-resolved nprobe + √n refine; full width equals filtered brute") {
    import SimilaritySearch.filteredNprobeParam
    val queries = emb.filter(col("vec_id") < 5)
    val allowed = emb.filter(col("vec_id") % 3 === 0).select(col("vec_id"))
    val idx = SimilaritySearch.buildIvfPqIndex(emb, nlist = 8, m = 8,
      ksub = 16)
    def ids(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    def full(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2),
        r.getDouble(3))).toSeq
    // derived selectivity ≈ 1/3 → ceil(policy 4 / s) caps at nlist = 8:
    // the ADC auto probe must equal the explicit all-cells probe
    assert(filteredNprobeParam(8, 167.0 / 500.0) == 8)
    val gotAdc = ids(DenseLeg.Pq(idx).probeAmong(queries, 5, allowed))
    assert(gotAdc.nonEmpty && gotAdc == ids(SimilaritySearch
      .ivfProbePq(idx, queries, 5, nprobe = 8, allowed = Some(allowed))))
    // refined auto == the explicit composition (nprobe from the dial,
    // refine from the index's stamped n)
    val refine = SimilaritySearch.refineScaleParam(idx.n, base = 4)
    val gotRef = full(DenseLeg.PqRefined(idx, emb)
      .probeAmong(queries, 5, allowed))
    assert(gotRef == full(SimilaritySearch.ivfProbePqRefined(
      idx, emb, queries, 5, nprobe = 8, refine, allowed = Some(allowed))))
    // FULL WIDTH: all cells probed + a shortlist covering every allowed
    // candidate ⇒ the exact re-rank IS the filtered brute ranking,
    // cosines included (pre-filter semantics proven end-to-end on the
    // compressed tier)
    val brute = full(SimilaritySearch
      .bruteForceTopK(emb, queries, 5, allowed = Some(allowed)))
    assert(full(SimilaritySearch.ivfProbePqRefined(
      idx, emb, queries, 5, nprobe = 8, refine = 200,
      allowed = Some(allowed))) == brute)
    // the auto composition's recall sits at/above the fixed policy's
    // (measured on this corpus; the volume-conservation dial at work)
    def recall(df: org.apache.spark.sql.DataFrame) = {
      val b = brute.map(t => (t._1, t._3)).toSet
      ids(df).count(t => b.contains((t._1, t._3))).toDouble / brute.size
    }
    val rFixed = recall(SimilaritySearch.ivfProbePqRefined(
      idx, emb, queries, 5, SimilaritySearch.policyNprobe(8), 4,
      allowed = Some(allowed)))
    val rAuto = recall(DenseLeg.PqRefined(idx, emb)
      .probeAmong(queries, 5, allowed))
    assert(rAuto >= rFixed - 1e-9, s"auto $rAuto < fixed $rFixed")
    idx.unpersist()
  }

  test("hard negatives: full-width shortlist equals exact filter-then-top-k") {
    import graft.functions.VecOps
    val n = emb.count().toInt
    val queries = emb.filter(col("vec_id") < 8)
    val sketched = SimilaritySearch.srpSketch(emb, bits = 128)
    // refine wide enough that the shortlist holds every different-label
    // candidate: the exact re-rank then IS the exact answer
    val got = SimilaritySearch.hammingHardNegatives(
        sketched, emb, queries, k = 5, refine = n)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    // exact expected: cosine over all different-label pairs, rank <= 5
    val pairs = queries.select(col("vec_id").as("query_id"),
        col("label").as("ql"), col("embedding").as("qv"))
      .crossJoin(emb.select(col("vec_id").as("neighbor_id"),
        col("label").as("nl"), col("embedding").as("nv")))
      .filter(col("ql") =!= col("nl"))
      .select(col("query_id"), col("neighbor_id"),
        VecOps.cosineNative(col("qv"), col("nv")).as("cosine"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    val want = pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 5)
      .collect().map(r => (r.getLong(0), r.getInt(3), r.getLong(1))).toSeq
    assert(got.sorted == want.sorted)
    // narrow shortlist still returns k DIFFERENT-label rows per query —
    // the label filter rides the scan (filter-then-top-k), so same-label
    // neighbors can never crowd negatives out of the shortlist
    val narrow = SimilaritySearch.hammingHardNegatives(
      sketched, emb, queries, k = 5, refine = 2).collect()
    assert(narrow.length == 8 * 5)
    val labelOf = emb.select(col("vec_id"), col("label")).collect()
      .map(r => r.getLong(0) -> r.get(1)).toMap
    narrow.foreach { r =>
      assert(r.get(3) != labelOf(r.getLong(0)),
        s"same-label negative for query ${r.getLong(0)}")
    }
    // an out-of-corpus query id must FAIL LOUDLY, not silently vanish
    // from the result groups (ADVICE: the inner join dropped it)
    val spark2 = spark
    import spark2.implicits._
    val stray = queries.select(col("vec_id") + 1000000L, col("embedding"))
      .toDF("vec_id", "embedding")
    val ex = intercept[Exception] {
      SimilaritySearch.hammingHardNegatives(
        sketched, emb, stray, k = 5, refine = 2).collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty
      else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(ex).exists(_.contains("no label in the corpus")),
      s"wrong failure: $ex")
  }

  test("LSH top-k achieves reasonable recall vs brute force") {
    val queries = emb.filter(col("vec_id") < 10)
    val exact = SimilaritySearch.bruteForceTopK(emb, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    // low-similarity corpus (near-random 64-dim vectors): collision prob per
    // table ≈ (1-θ/π)^bits, so shorter signatures + more tables buy recall
    val approx = SimilaritySearch.lshTopK(emb, queries, k = 5,
      numTables = 16, bitsPerTable = 6)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.4, s"LSH recall too low: $recall")
  }

  test("lshNearDupPairs matches brute-force threshold pairs at high recall") {
    // exact ground truth: every unordered pair with cosine >= 0.3
    val ids = emb.select(col("vec_id"), col("embedding"))
    val exact = ids.select(col("vec_id").as("id_a"), col("embedding").as("va"))
      .crossJoin(ids.select(col("vec_id").as("id_b"), col("embedding").as("vb")))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        graft.functions.VecOps.cosineNative(col("va"), col("vb")).as("cosine"))
      .filter(col("cosine") >= 0.3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // at cosine θ=0.3 (72.5°) a hyperplane bit agrees w.p. ≈0.6, so recall
    // per (tables=T, bits=b) is 1-(1-0.6^b)^T: 8×6 gives only ~0.31 — this
    // corpus's dup regime (max cosine ≈0.5) needs shorter signatures and
    // more tables: 16×4 → expected recall ≈0.89
    val approx = SimilaritySearch.lshNearDupPairs(emb, threshold = 0.3,
        numTables = 16, bitsPerTable = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // no false positives possible (candidates are exact-cosine filtered)
    assert(approx.subsetOf(exact), s"false positives: ${approx -- exact}")
    assert(exact.nonEmpty)
    val recall = (exact & approx).size.toDouble / exact.size
    assert(recall >= 0.6, s"near-dup recall too low: $recall")
  }

  test("quantized-hyperplane twins: exact precision, recall, layout parity") {
    // quantized pairs are exact-cosine verified over QUANTIZED vectors —
    // no false positives vs the quantized-cosine ground truth
    val q = emb.select(col("vec_id"),
      org.apache.spark.sql.functions.transform(col("embedding"),
        v => floor(v.cast("double") * lit(1e6)).cast("double")).as("qv"))
    val exactQ = q.select(col("vec_id").as("id_a"), col("qv").as("va"))
      .crossJoin(q.select(col("vec_id").as("id_b"), col("qv").as("vb")))
      .filter(col("id_a") < col("id_b"))
      .filter(graft.functions.VecOps.cosineNative(col("va"), col("vb")) >= 0.3)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val approxQ = SimilaritySearch.lshNearDupPairsQuantized(emb,
        threshold = 0.3, numTables = 16, bitsPerTable = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(approxQ.subsetOf(exactQ), s"false positives: ${approxQ -- exactQ}")
    assert(exactQ.nonEmpty)
    val recall = (exactQ & approxQ).size.toDouble / exactQ.size
    assert(recall >= 0.6, s"quantized near-dup recall too low: $recall")
    // quantized SRP sketch: same (idCol, sig0, sig1) layout as the float
    // sketch, deterministic under repartitioning, and an exact duplicate
    // collides on every band (the StreamingVecDedup contract)
    val sk1 = SimilaritySearch.srpSketchQuantized(emb)
    assert(sk1.columns.toSeq == Seq("vec_id", "sig0", "sig1"))
    val sk2 = SimilaritySearch.srpSketchQuantized(emb.repartition(13))
    assert(sk1.orderBy(col("vec_id")).collect().toSeq ==
      sk2.orderBy(col("vec_id")).collect().toSeq)
    val dup = emb.limit(1).withColumn("vec_id", col("vec_id") + lit(9999L))
    val both = SimilaritySearch.srpSketchQuantized(emb.limit(1).unionByName(dup))
      .collect()
    assert(both.length == 2 &&
      both(0).getLong(1) == both(1).getLong(1) &&
      both(0).getLong(2) == both(1).getLong(2))
  }

  test("lshNearDupPairsAuto derives the log-n signature length and stays exact-precision") {
    // the dial lesson from the x100 scale run (BASELINE.md): expected
    // bucket occupancy is n/2^bits, so bits must grow with log(n) or the
    // bucket self-join's candidate volume grows quadratically. The auto
    // variant delegates to the manual one with bits = ceil(log2(n/target)),
    // so on this corpus (n=500, target=32 → ceil(log2(15.6)) = 4) it must
    // produce EXACTLY the manual 4-bit call's pairs.
    val auto = SimilaritySearch.lshNearDupPairsAuto(emb, threshold = 0.3,
        numTables = 16, targetBucketSize = 32)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val manual = SimilaritySearch.lshNearDupPairs(emb, threshold = 0.3,
        numTables = 16, bitsPerTable = 4)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(auto == manual)
  }

  test("ANN retrieval QUALITY: recall@5 vs brute force on sf0.01, documented bounds") {
    // mechanics are hash-verified elsewhere; this pins retrieval quality so
    // silent regressions in signature/probe code fail loudly. Ground truth =
    // exact brute-force top-5 for 50 queries over the full sf0.01 corpus.
    val emb01 = Tables.embeddings(spark, sf01).cache()
    val queries = emb01.filter(col("vec_id") < 50)
    val exact = SimilaritySearch.bruteForceTopK(emb01, queries, k = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    assert(exact.size == 50 * 5)

    def recallOf(hits: Set[(Long, Long)]): Double =
      (exact & hits).size.toDouble / exact.size

    // IVF, nprobe=4 of nlist=8: each query exact-ranks the half of the
    // space nearest its own cell — misses only neighbors quantized into
    // one of the 4 unvisited cells. Documented bound: recall@5 >= 0.72
    // (measured 0.768 — the first-k-distinct init spends its centers
    // unevenly on this near-random corpus at this tiny nlist). At the
    // real √n nlist policy the recall is measured in ScaleBench's grids.
    val idx = SimilaritySearch.buildIvfIndex(emb01, nlist = 8)
    val ivfHits = SimilaritySearch.ivfProbe(idx, queries, k = 5, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivfRecall = recallOf(ivfHits)
    idx.unpersist()

    // LSH, 24 tables x 5 bits: this corpus is a near-random low-similarity
    // regime (top-5 cosines ~0.3-0.5, hyperplane bit agreement ~0.6), so a
    // true neighbor collides per table w.p. ~0.6^5 ≈ 0.08 and recall must be
    // bought with tables: 1-(1-0.08)^24 ≈ 0.86 collision probability
    // (measured recall@5 ≈ 0.88; 16x6 measured 0.55). Documented bound:
    // recall@5 >= 0.6.
    val lshHits = SimilaritySearch.lshTopK(emb01, queries, k = 5,
        numTables = 24, bitsPerTable = 5)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val lshRecall = recallOf(lshHits)

    // IVF-SQ8: same inverted file, int8-quantized cells — quantization may
    // cost a little recall on top of the cell misses. Documented bound:
    // recall@5 >= 0.75 (measured 0.764).
    val idx8 = SimilaritySearch.buildIvfInt8Index(emb01, nlist = 8)
    val ivf8Hits = SimilaritySearch.ivfProbeInt8(idx8, queries, k = 5, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val ivf8Recall = recallOf(ivf8Hits)
    idx8.unpersist()

    // IVF-PQ, m=8 subspaces x 64 centroids = 8 code bytes/vector (32x
    // compression). This corpus is near-random (low-cosine regime, the
    // HARDEST case for PQ: no cluster structure for the codebook to spend
    // bits on), so raw ADC distortion is large — documented bound for the
    // pure-ADC probe: recall@5 >= 0.25 (measured 0.332). The production
    // layout is ADC shortlist + exact refine of k*refine candidates,
    // which buys back most of the distortion while the corpus-side scan
    // still reads 8-byte codes, not vectors. Documented bound for the
    // refined probe: recall@5 >= 0.6 (measured 0.716).
    val idxPq = SimilaritySearch.buildIvfPqIndex(emb01, nlist = 8, m = 8,
      ksub = 64)
    val pqHits = SimilaritySearch.ivfProbePq(idxPq, queries, k = 5, nprobe = 4)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val pqRecall = recallOf(pqHits)
    val pqRefHits = SimilaritySearch.ivfProbePqRefined(idxPq, emb01, queries,
        k = 5, nprobe = 4, refine = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val pqRefRecall = recallOf(pqRefHits)
    idxPq.unpersist()

    // SRP 64-bit Hamming scan + refine: every row scored (no bucket-miss
    // cliff), recall bounded by sketch resolution only. Documented bound:
    // recall@5 >= 0.6 with refine=8.
    val sk = SimilaritySearch.srpSketch(emb01)
    val hamHits = SimilaritySearch.hammingTopK(sk, emb01, queries, k = 5, refine = 8)
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val hamRecall = recallOf(hamHits)
    emb01.unpersist()

    info(f"recall@5 IVF(nlist=8,nprobe=4)=$ivfRecall%.3f LSH(24x5)=$lshRecall%.3f IVF-SQ8=$ivf8Recall%.3f IVF-PQ(8x64)=$pqRecall%.3f IVF-PQ+refine8=$pqRefRecall%.3f SRP-Hamming+refine8=$hamRecall%.3f")
    assert(ivfRecall >= 0.72, f"IVF recall@5 $ivfRecall%.3f below documented 0.72")
    assert(lshRecall >= 0.6, f"LSH recall@5 $lshRecall%.3f below documented 0.6")
    assert(ivf8Recall >= 0.75, f"IVF-SQ8 recall@5 $ivf8Recall%.3f below documented 0.75")
    assert(pqRecall >= 0.25, f"IVF-PQ recall@5 $pqRecall%.3f below documented 0.25")
    assert(pqRefRecall >= 0.6, f"IVF-PQ+refine recall@5 $pqRefRecall%.3f below documented 0.6")
    assert(hamRecall >= 0.6, f"SRP-Hamming recall@5 $hamRecall%.3f below documented 0.6")
  }

  test("IVF index persists to parquet and probes identically after reload") {
    val emb = Tables.embeddings(spark, sf001)
    val queries = emb.filter(col("vec_id") < 10)
    val idx = SimilaritySearch.buildIvfIndex(emb, nlist = 4)
    val before = SimilaritySearch.ivfProbe(idx, queries, k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-idx").toString
    SimilaritySearch.saveIvfIndex(idx, dir)
    idx.unpersist()
    val loaded = SimilaritySearch.loadIvfIndex(spark, dir)
    // centroids survive byte-exact, so cell geometry (and thus the probe
    // candidate set) is reproduced, not approximated
    val after = SimilaritySearch.ivfProbe(loaded, queries, k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    loaded.unpersist()
    assert(before.nonEmpty && before == after,
      s"probe results changed across save/load: ${before.diff(after)}")
    // the persisted inverted file is laid out partitioned by cell — the
    // layout that lets a probe prune to nprobe directories at the scan
    val cellDirs = new java.io.File(s"$dir/assigned").listFiles()
      .filter(_.getName.startsWith("cell="))
    assert(cellDirs.length == 4, s"expected 4 cell partitions: ${cellDirs.toSeq}")
  }

  test("incremental append probes exactly like a same-centers rebuild of the union") {
    val emb = Tables.embeddings(spark, sf001)
    val sliceA = emb.filter(col("vec_id") < 300)
    val sliceB = emb.filter(col("vec_id") >= 300 && col("vec_id") < 500)
    val queries = emb.filter(col("vec_id") < 10)
    val idx = SimilaritySearch.buildIvfIndex(sliceA, nlist = 4)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-app").toString
    SimilaritySearch.saveIvfIndex(idx, dir)
    // nightly arrival: slice B joins the persisted index, no rebuild
    SimilaritySearch.appendToIvfIndex(spark, dir, sliceB)
    val appended = SimilaritySearch.loadIvfIndex(spark, dir)
    val got = SimilaritySearch.ivfProbe(appended, queries, k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    appended.unpersist()
    // independent reference: the union corpus assigned FRESH under the
    // same frozen centers (never reading the appended artifact) — frozen
    // quantizer makes append ≡ rebuild exactly, not approximately
    val ref = SimilaritySearch.IvfIndex(idx.centers,
      SimilaritySearch.assignToCells(sliceA.unionByName(sliceB), idx.centers,
        "vec_id", "embedding"))
    val want = SimilaritySearch.ivfProbe(ref, queries, k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    idx.unpersist()
    assert(got.nonEmpty && got == want,
      s"append diverged from same-centers rebuild: ${got.diff(want).take(5)}")
    // and the appended index really contains both slices
    assert(SimilaritySearch.loadIvfIndex(spark, dir, persist = false)
      .assigned.count() == 500)
  }

  test("ivfSkewReport: balanced index healthy, drifted ingest trips the recluster trigger") {
    import spark.implicits._
    val emb = Tables.embeddings(spark, sf001)
    // nlist=8: skew is bounded above by nlist (all mass in one cell), so
    // the 4x trigger needs headroom to be meaningful
    val idx = SimilaritySearch.buildIvfIndex(emb, nlist = 8)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-skew").toString
    SimilaritySearch.saveIvfIndex(idx, dir)
    idx.unpersist()
    val before = SimilaritySearch.ivfSkewReport(spark, dir)
    assert(before.nlist == 8 && before.totalVectors == 500)
    assert(before.skew >= 1.0 && before.meanCellSize == 62.5)
    // k-means on its own training distribution stays within the trigger
    assert(!before.needsRecluster,
      s"fresh index flagged for recluster: skew=${before.skew}")
    // drifted ingest: a batch of near-identical vectors (10x the corpus)
    // — a frozen quantizer piles them all into ONE cell
    val dim = 64
    val drifted = (10000L until 15000L).map { i =>
      (i, Array.tabulate(dim)(j => 5.0f + (if (j == 0) (i % 7) * 1e-4f else 0f)))
    }.toDF("vec_id", "embedding")
    SimilaritySearch.appendToIvfIndex(spark, dir, drifted)
    val after = SimilaritySearch.ivfSkewReport(spark, dir)
    assert(after.totalVectors == 5500)
    assert(after.skew > before.skew)
    assert(after.needsRecluster,
      s"drifted index not flagged: skew=${after.skew} max=${after.maxCellSize}")
    // threshold is a dial: the same report under a looser threshold
    val loose = SimilaritySearch.ivfSkewReport(spark, dir,
      reclusterSkewThreshold = after.skew + 1.0)
    assert(!loose.needsRecluster && loose.skew == after.skew)
  }

  test("IVF-PQ index persists (codes + codebook) and probes identically after reload") {
    val emb = Tables.embeddings(spark, sf001)
    val queries = emb.filter(col("vec_id") < 10)
    val idx = SimilaritySearch.buildIvfPqIndex(emb, nlist = 4, m = 8, ksub = 16)
    val before = SimilaritySearch.ivfProbePq(idx, queries, k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-idx").toString
    SimilaritySearch.saveAnnIndex(AnnCodec.Pq, idx, dir)
    idx.unpersist()
    val loaded = SimilaritySearch.loadAnnIndex(AnnCodec.Pq, spark, dir)
    assert(loaded.book.m == 8 && loaded.book.dsub == 8)
    // build stamps the corpus size; the artifact round-trips it — the
    // auto probe's dial source, so no corpus count at probe time
    assert(idx.n == emb.count() && loaded.n == idx.n,
      s"index metadata n lost across save/load: ${idx.n} -> ${loaded.n}")
    val after = SimilaritySearch.ivfProbePq(loaded, queries, k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSeq
    loaded.unpersist()
    // codebook floats and codes survive byte-exact → ADC scores identical
    assert(before.nonEmpty && before == after,
      s"PQ probe changed across save/load: ${before.diff(after).take(3)}")
  }

  test("IVF-SQ8 index persists quantized and probes identically after reload") {
    val emb = Tables.embeddings(spark, sf001)
    val queries = emb.filter(col("vec_id") < 10)
    val idx = SimilaritySearch.buildIvfInt8Index(emb, nlist = 4)
    val before = SimilaritySearch.ivfProbeInt8(idx, queries, k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfsq8-idx").toString
    SimilaritySearch.saveAnnIndex(AnnCodec.Int8, idx, dir)
    idx.unpersist()
    val loaded = SimilaritySearch.loadAnnIndex(AnnCodec.Int8, spark, dir)
    val after = SimilaritySearch.ivfProbeInt8(loaded, queries, k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    loaded.unpersist()
    assert(before.nonEmpty && before == after,
      s"probe results changed across save/load: ${before.diff(after)}")
    // what persisted is the QUANTIZED corpus: the bytes column, not floats
    val schema = spark.read.parquet(s"$dir/assigned").schema
    assert(schema("qv").dataType == org.apache.spark.sql.types.BinaryType)
    assert(!schema.fieldNames.contains("tv"), "float vectors leaked into the artifact")
  }

  test("int8-quantized ANN matches the float path: top-5 overlap and cosine error") {
    val emb01 = Tables.embeddings(spark, sf01).cache()
    val queries = emb01.filter(col("vec_id") < 50)
    val exact = SimilaritySearch.bruteForceTopK(emb01, queries, k = 5).collect()
      .map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3)))
    val quantized = SimilaritySearch.quantizeInt8(emb01)
    // 4x compression is the point: dim bytes vs 4·dim
    val dim = emb01.head().getSeq[Float](1).length
    assert(quantized.head().getAs[Array[Byte]]("qv").length == dim)
    val int8 = SimilaritySearch.int8BruteForceTopK(quantized, queries, k = 5)
      .collect().map(r => ((r.getLong(0), r.getLong(2)), r.getDouble(3)))
    emb01.unpersist()
    val overlap = (exact.map(_._1).toSet & int8.map(_._1).toSet).size.toDouble / exact.length
    assert(overlap >= 0.9, s"int8 top-5 overlap $overlap below 0.9")
    // scalar max-abs quantization of unit-ish 64-dim vectors keeps per-pair
    // cosine within ~1e-2 of float
    val floatCos = exact.toMap
    val errs = int8.collect { case (k2, c) if floatCos.contains(k2) =>
      math.abs(c - floatCos(k2)) }
    assert(errs.nonEmpty && errs.max <= 1e-2,
      s"max cosine quantization error ${errs.max}")
  }

  test("LSH is deterministic for a fixed seed") {
    val queries = emb.filter(col("vec_id") < 3)
    val a = SimilaritySearch.lshTopK(emb, queries, k = 3).collect().toSeq
    val b = SimilaritySearch.lshTopK(emb, queries, k = 3).collect().toSeq
    assert(a == b)
  }

  test("crossDecontaminate flags planted semantic overlap, spares the rest") {
    import spark.implicits._
    // bench: two orthogonal axes. corpus: an exact copy (cos 1), a scaled
    // copy (cos 1 — scale-invariant), a slight rotation (cos ~0.995), an
    // orthogonal vector (cos 0), and an anti-parallel one (cos -1)
    val bench = Seq(
      (100L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),
      (101L, Seq(0.0f, 1.0f, 0.0f, 0.0f))).toDF("vec_id", "embedding")
    val corpus = Seq(
      (1L, Seq(1.0f, 0.0f, 0.0f, 0.0f)),   // exact copy
      (2L, Seq(5.0f, 0.0f, 0.0f, 0.0f)),   // scaled copy
      (3L, Seq(0.995f, 0.0999f, 0.0f, 0.0f)), // near-copy
      (4L, Seq(0.0f, 0.0f, 1.0f, 0.0f)),   // orthogonal
      (5L, Seq(-1.0f, 0.0f, 0.0f, 0.0f))   // anti-parallel
    ).toDF("vec_id", "embedding")
    val out = SimilaritySearch.crossDecontaminate(corpus, bench, tau = 0.9)
      .select(col("vec_id"), col("n_hits"), col("contaminated"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(2))).toMap
    assert(out(1L) == ((1L, true)) && out(2L) == ((1L, true)) && out(3L) == ((1L, true)),
      s"copies not flagged: $out")
    assert(out(4L) == ((0L, false)) && out(5L) == ((0L, false)),
      s"clean rows flagged: $out")
    // output schema carries ALL corpus columns plus the two flags
    val cols = SimilaritySearch.crossDecontaminate(corpus, bench, tau = 0.9).columns.toSeq
    assert(cols == Seq("vec_id", "embedding", "n_hits", "contaminated"))
  }

  test("SRP index: build stamps metadata; save/load probes bit-identically") {
    val queries = emb.filter(col("vec_id") < 10)
    val idx = SimilaritySearch.buildSrpIndex(emb, bits = 128, seed = 7L)
    assert(idx.n == emb.count() && idx.bits == 128 && idx.seed == 7L)
    val before = DenseLeg.Srp(idx, emb).probe(queries, 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val dir = java.nio.file.Files.createTempDirectory("graft-srp-idx").toString
    SimilaritySearch.saveAnnIndex(AnnCodec.Srp, idx, dir)
    idx.unpersist()
    val loaded = SimilaritySearch.loadAnnIndex(AnnCodec.Srp, spark, dir)
    assert((loaded.n, loaded.bits, loaded.seed) == ((idx.n, 128, 7L)),
      "SRP metadata lost across save/load")
    val after = DenseLeg.Srp(loaded, emb).probe(queries, 5)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    loaded.unpersist()
    assert(before.nonEmpty && before == after,
      s"SRP probe changed across save/load: ${before.diff(after).take(3)}")
    // the auto dial equals the explicit policy application
    val explicit = SimilaritySearch.hammingTopK(loaded.sketched, emb, queries,
        5, refine = SimilaritySearch.refineScaleParam(loaded.n, 8),
        bits = 128, seed = 7L)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(after == explicit)
  }

  test("auto probes resolve dials from index metadata: no corpus action at construction") {
    // a corpus whose EVALUATION fails loudly: any count()/collect() at
    // probe-construction time trips the nondeterministic filter udf. The
    // auto probes must build their plans lazily from the stamped n alone —
    // the contract that keeps a 100 TB probe from paying a corpus scan
    // just to pick a shortlist width.
    val boom = udf { (_: Long) =>
      sys.error("corpus action at probe-construction time"): Boolean
    }.asNondeterministic()
    val poisoned = emb.filter(boom(col("vec_id")))
    val queries = emb.filter(col("vec_id") < 10)
    val srp = SimilaritySearch.buildSrpIndex(emb)
    DenseLeg.Srp(srp, poisoned).probe(queries, 5) // lazy: ok
    // the miner's √n shortlist width comes from the index metadata too
    val refine = SimilaritySearch.refineScaleParam(srp.n, base = 8)
    SimilaritySearch.hammingHardNegatives(srp.sketched, poisoned, queries, 5,
      refine, srp.bits, srp.seed) // lazy: ok
    // the index-resolved miner equals the explicit-dial miner
    val a = SimilaritySearch.hammingHardNegatives(srp.sketched, emb, queries,
        5, refine, srp.bits, srp.seed)
      .collect().map(_.toString).sorted.toSeq
    val b = SimilaritySearch.hammingHardNegatives(
        srp.sketched, emb, queries, 5, refine)
      .collect().map(_.toString).sorted.toSeq
    assert(a.nonEmpty && a == b)
    val pq = SimilaritySearch.buildIvfPqIndex(emb, nlist = 4, m = 8, ksub = 16)
    assert(pq.n == emb.count())
    DenseLeg.PqRefined(pq, poisoned).probe(queries, 5) // lazy: ok
    // a hand-assembled PQ index without metadata falls back to counting
    val bare = pq.copy(n = -1L)
    val ex = intercept[Exception] {
      DenseLeg.PqRefined(bare, poisoned).probe(queries, 5)
    }
    assert(ex.getMessage != null)
    pq.unpersist(); srp.unpersist()
  }

  test("PqRefined leg over an index without a stamped n counts the corpus once, filtered or not") {
    // the fallback count is a full-corpus driver action: a leg resolves
    // it at most once, however many filtered probes it serves. Every
    // corpus evaluation ticks the accumulator once per row, so one count
    // adds exactly n.
    val rowsSeen = spark.sparkContext.longAccumulator("pq_leg_corpus_rows")
    val tick = udf { (_: Long) => rowsSeen.add(1L); true }
      .asNondeterministic()
    val counted = emb.filter(tick(col("vec_id")))
    val n = emb.count()
    val queries = emb.filter(col("vec_id") < 5)
    val allowed = emb.filter(col("vec_id") % 3 === 0).select(col("vec_id"))
    val pq = SimilaritySearch.buildIvfPqIndex(emb, nlist = 4, m = 8, ksub = 16)
    val leg = DenseLeg.PqRefined(pq.copy(n = -1L), counted)
    leg.probeAmong(queries, 5, allowed, selectivity = Some(1.0 / 3))
    leg.probeAmong(queries, 5, allowed, selectivity = Some(1.0 / 3))
    assert(rowsSeen.value == n,
      s"corpus rows evaluated at construction: ${rowsSeen.value}, want one count ($n)")
    pq.unpersist()
  }

  test("ANN delete lifecycle: tombstoned loads equal survivor indexes; compact folds exactly") {
    // the vector-store takedown story (r14): delete ids on every persisted
    // artifact family, load-after-delete must probe exactly like an index
    // over the SURVIVING corpus under the same frozen quantizers —
    // including an unknown id (no-op) and a repeated id (idempotent) —
    // and compact must fold the tombstones into rewritten files without
    // changing a single probe row
    val queries = emb.filter(col("vec_id") < 10)
    // dead set: two ids the index holds, one repeat, one it never held
    val dead = Seq(42L, 77L, 999999L)
    val survivors = emb.filter(!col("vec_id").isin(dead: _*))

    def probeRows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq

    def checkFamily(tag: String, dir: String,
        probeLoaded: () => org.apache.spark.sql.DataFrame,
        want: Seq[(Long, Int, Long)],
        survivorCount: Long, dataSub: String): Unit = {
      SimilaritySearch.deleteFromAnnIndex(spark, dir, dead)
      SimilaritySearch.deleteFromAnnIndex(spark, dir, Seq(42L)) // idempotent
      val got = probeRows(probeLoaded())
      assert(got.nonEmpty && got == want,
        s"$tag: tombstoned load diverged from survivor index: " +
          s"${got.diff(want).take(3)} vs ${want.diff(got).take(3)}")
      assert(!got.exists(r => dead.contains(r._3)),
        s"$tag: deleted id served")
      SimilaritySearch.compactAnnIndex(spark, dir)
      assert(!new java.io.File(s"$dir/tombstones").exists(),
        s"$tag: compact left the tombstone relation")
      val gotC = probeRows(probeLoaded())
      assert(gotC == want, s"$tag: compact changed probe rows")
      assert(spark.read.parquet(s"$dir/$dataSub").count() == survivorCount,
        s"$tag: compact did not rewrite to the survivor rows")
      // compact with no tombstones is a no-op
      SimilaritySearch.compactAnnIndex(spark, dir)
      assert(probeRows(probeLoaded()) == want)
    }

    val nSurv = survivors.count()

    // IVF float — independent reference: survivors assigned FRESH under
    // the same frozen centers (the append spec's rebuild convention)
    val ivf = SimilaritySearch.buildIvfIndex(emb, nlist = 4)
    val ivfDir = java.nio.file.Files
      .createTempDirectory("graft-ann-del-ivf").toString
    SimilaritySearch.saveIvfIndex(ivf, ivfDir)
    val ivfWant = probeRows(SimilaritySearch.ivfProbe(
      SimilaritySearch.IvfIndex(ivf.centers, SimilaritySearch
        .assignToCells(survivors, ivf.centers, "vec_id", "embedding")),
      queries, 5, nprobe = 2))
    checkFamily("ivf", ivfDir,
      () => SimilaritySearch.ivfProbe(
        SimilaritySearch.loadIvfIndex(spark, ivfDir, persist = false),
        queries, 5, nprobe = 2),
      ivfWant, nSurv, "assigned")
    ivf.unpersist()

    // IVF-SQ8 — reference: the built inverted file filtered to survivors
    // (per-row quantization is row-local, so filter == re-encode)
    val int8 = SimilaritySearch.buildIvfInt8Index(emb, nlist = 4)
    val int8Dir = java.nio.file.Files
      .createTempDirectory("graft-ann-del-int8").toString
    SimilaritySearch.saveAnnIndex(AnnCodec.Int8, int8, int8Dir)
    val int8Want = probeRows(SimilaritySearch.ivfProbeInt8(
      SimilaritySearch.IvfInt8Index(int8.centers,
        int8.assigned.filter(!col("neighbor_id").isin(dead: _*))),
      queries, 5, nprobe = 2))
    checkFamily("int8", int8Dir,
      () => SimilaritySearch.ivfProbeInt8(
        SimilaritySearch.loadAnnIndex(AnnCodec.Int8, spark, int8Dir, persist = false),
        queries, 5, nprobe = 2),
      int8Want, nSurv, "assigned")
    int8.unpersist()

    // IVF-PQ — n must describe the SURVIVING corpus (it drives the auto
    // refine dial); probe through the metadata-resolved auto entry point
    val pq = SimilaritySearch.buildIvfPqIndex(emb, nlist = 4, m = 8, ksub = 16)
    val pqDir = java.nio.file.Files
      .createTempDirectory("graft-ann-del-pq").toString
    SimilaritySearch.saveAnnIndex(AnnCodec.Pq, pq, pqDir)
    val pqWant = probeRows(DenseLeg.PqRefined(
      pq.copy(assigned =
        pq.assigned.filter(!col("neighbor_id").isin(dead: _*)), n = nSurv),
      survivors).probe(queries, 5))
    checkFamily("pq", pqDir,
      () => {
        val l = SimilaritySearch.loadAnnIndex(AnnCodec.Pq, spark, pqDir, persist = false)
        assert(l.n == nSurv, s"pq: n=${l.n}, want survivors $nSurv")
        // the re-rank corpus a deployment serves is also takedown-filtered
        DenseLeg.PqRefined(l, survivors).probe(queries, 5)
      },
      pqWant, nSurv, "assigned")
    pq.unpersist()

    // SRP — independent reference: a fresh sketch of the survivors (the
    // signature UDF is row-local); n must shrink to the served scan
    val srp = SimilaritySearch.buildSrpIndex(emb, bits = 128, seed = 7L)
    val srpDir = java.nio.file.Files
      .createTempDirectory("graft-ann-del-srp").toString
    SimilaritySearch.saveAnnIndex(AnnCodec.Srp, srp, srpDir)
    val srpWant = probeRows(SimilaritySearch.hammingTopK(
      SimilaritySearch.srpSketch(survivors, bits = 128, seed = 7L),
      survivors, queries, 5,
      refine = SimilaritySearch.refineScaleParam(nSurv, 8),
      bits = 128, seed = 7L))
    checkFamily("srp", srpDir,
      () => {
        val l = SimilaritySearch.loadAnnIndex(AnnCodec.Srp, spark, srpDir, persist = false)
        assert(l.n == nSurv, s"srp: n=${l.n}, want survivors $nSurv")
        DenseLeg.Srp(l, survivors).probe(queries, 5)
      },
      srpWant, nSurv, "sketch")
    srp.unpersist()
    // rename-aside cut-over leaves no debris: the pre-compact relation
    // is deleted once the staged copy is live (r15)
    Seq(ivfDir -> "assigned", int8Dir -> "assigned", pqDir -> "assigned",
      srpDir -> "sketch").foreach { case (dir, sub) =>
      assert(!new java.io.File(s"$dir/$sub-compact-old").exists(),
        s"$dir: compact left the $sub-compact-old rename-aside directory")
    }
  }

  test("SRP artifact names its id column: delete/compact follow it through schema evolution") {
    import spark.implicits._
    // non-default id name AND a string id type — the artifact the
    // pre-r15 lifecycle silently mishandled twice over (first-non-sig
    // column guess + unconditional cast-to-long tombstones)
    val corpus = emb.select(
      concat(lit("img"), col("vec_id")).as("img_id"), col("embedding"))
    val idx = SimilaritySearch.buildSrpIndex(corpus, bits = 128, seed = 7L,
      idCol = "img_id")
    val dir = java.nio.file.Files
      .createTempDirectory("graft-srp-idcol").toString
    SimilaritySearch.saveAnnIndex(AnnCodec.Srp, idx, dir)
    assert(spark.read.parquet(s"$dir/meta")
      .select(col("id_col")).collect()(0).getString(0) == "img_id")
    // schema evolution: a metadata column lands FIRST in the sketch —
    // the first-non-sig guess would now anti-join on 'origin' and
    // delete nothing (or everything); the named id column must hold
    val evolved = spark.read.parquet(s"$dir/sketch")
    val cols = lit("cam0").as("origin") +: evolved.columns.map(col).toSeq
    val tmp = s"$dir/sketch-evolved"
    evolved.select(cols: _*).write.parquet(tmp)
    val (fs, root) = graft.operators.InvertedIndex.fsFor(spark, dir)
    fs.delete(new org.apache.hadoop.fs.Path(root, "sketch"), true)
    fs.rename(new org.apache.hadoop.fs.Path(tmp),
      new org.apache.hadoop.fs.Path(root, "sketch"))
    val total = idx.n
    val dead = Seq("img3", "img7", "img999999")
    SimilaritySearch.deleteFromAnnIndex(dead.toDF("img_id"), dir,
      idCol = "img_id")
    // tombstones carry the ARTIFACT's string type (a long cast would
    // have nulled every id and deleted nothing)
    assert(spark.read.parquet(s"$dir/tombstones")
      .schema("vec_id").dataType ==
      org.apache.spark.sql.types.StringType)
    val loaded = SimilaritySearch.loadAnnIndex(AnnCodec.Srp, spark, dir, persist = false)
    assert(loaded.idCol == "img_id" && loaded.n == total - 2,
      s"takedown no-opped: n=${loaded.n}, want ${total - 2}")
    SimilaritySearch.compactAnnIndex(spark, dir)
    val sk = spark.read.parquet(s"$dir/sketch")
    assert(sk.count() == total - 2, "compact deleted the wrong rows")
    assert(sk.columns.contains("origin"), "compact dropped the metadata column")
    assert(sk.filter(col("img_id").isin("img3", "img7")).count() == 0)
    // legacy artifact whose schema went ambiguous: loud failure, never a
    // first-column guess
    spark.read.parquet(s"$dir/meta").drop("id_col")
      .write.mode("overwrite").parquet(s"$dir/meta-legacy")
    fs.delete(new org.apache.hadoop.fs.Path(root, "meta"), true)
    fs.rename(new org.apache.hadoop.fs.Path(root, "meta-legacy"),
      new org.apache.hadoop.fs.Path(root, "meta"))
    val e = intercept[IllegalArgumentException] {
      SimilaritySearch.loadAnnIndex(AnnCodec.Srp, spark, dir, persist = false)
    }
    assert(e.getMessage.contains("cannot infer the id column"))
    idx.unpersist()
  }

  test("deleteFromAnnIndex rejects ids the artifact's id type cannot represent") {
    val idx = SimilaritySearch.buildIvfIndex(emb, nlist = 4, persist = false)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ann-del-type").toString
    SimilaritySearch.saveIvfIndex(idx, dir)
    import spark.implicits._
    val e = intercept[Exception] {
      SimilaritySearch.deleteFromAnnIndex(
        Seq("not-a-long").toDF("vec_id"), dir)
    }
    // raise_error may surface wrapped (task failure → job failure)
    val msgs = Iterator.iterate(e: Throwable)(_.getCause)
      .takeWhile(_ != null).map(t => String.valueOf(t.getMessage))
      .mkString(" | ")
    assert(msgs.contains("does not cast"),
      s"expected a loud lossy-cast failure, got: $msgs")
    // castable string ids are fine (they land as the artifact's longs)
    SimilaritySearch.deleteFromAnnIndex(Seq("11").toDF("vec_id"), dir)
    assert(SimilaritySearch.loadIvfIndex(spark, dir, persist = false)
      .assigned.filter(col("neighbor_id") === 11L).count() == 0)
  }

  test("opt-in disjoint-append guard fails loudly on a re-appended live id") {
    val idx = SimilaritySearch.buildIvfIndex(emb, nlist = 4, persist = false)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-ann-append-guard").toString
    SimilaritySearch.saveIvfIndex(idx, dir)
    val dup = emb.filter(col("vec_id") === 42L)
    val fresh = emb.limit(1).withColumn("vec_id", lit(5000001L))
    // default off: the contract is the caller's (no per-append scan)
    SimilaritySearch.appendToIvfIndex(spark, dir, fresh)
    try {
      spark.conf.set(SimilaritySearch.ValidateAppendsConf, "true")
      val e = intercept[IllegalStateException] {
        SimilaritySearch.appendToIvfIndex(spark, dir, dup)
      }
      assert(e.getMessage.contains("42"))
      // a genuinely disjoint append still passes under the guard
      SimilaritySearch.appendToIvfIndex(spark, dir,
        emb.limit(1).withColumn("vec_id", lit(5000002L)))
    } finally spark.conf.unset(SimilaritySearch.ValidateAppendsConf)
  }
}
