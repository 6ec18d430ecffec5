package graft

import graft.operators.{HybridRetrieval, InvertedIndex, SimilaritySearch}
import org.apache.spark.sql.functions._

/** The hybrid (dense+sparse) RRF operator: fusion semantics (union vs
  * anchored universes, deterministic leg-order fold), the allowed=all
  * reduction of the filtered verb, and pre-filter membership. The
  * FULL-oracle gates (vx_hybrid_rrf_top10 re-served through the
  * operator hash-unchanged; vx_hybrid_rrf_filtered_quantized replaying
  * both legs + fusion in DuckDB) pin the arithmetic end-to-end.
  */
class HybridRetrievalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sf001).cache()
  private lazy val docs = Tables.documents(spark, sf001)

  test("rrfFuseRanked: union vs anchored universes, exact leg-order fold") {
    val a = Seq((1L, 1), (2L, 2)).toDF("doc_id", "rank")
    val b = Seq((2L, 1), (3L, 2)).toDF("doc_id", "rank")
    val union = HybridRetrieval.rrfFuseRanked(Seq(a, b), k0 = 60.0)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(union.keySet == Set(1L, 2L, 3L), "fusion universe must be the union")
    // the fold is IN LEG ORDER from 0.0 — bit-equal to the hand-wired sum
    assert(union(2L) == 0.0 + (1.0 / 62.0) + (1.0 / 61.0))
    assert(union(1L) == 0.0 + (1.0 / 61.0))
    assert(union(3L) == 0.0 + (1.0 / 62.0))
    // anchored: the corpus-covering-leg convention keeps leg 0's members
    val anchored = HybridRetrieval.rrfFuseRanked(Seq(a, b), anchor = Some(0))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(anchored.keySet == Set(1L, 2L))
    assert(anchored(2L) == union(2L), "anchoring must not change the sum")
    intercept[IllegalArgumentException] {
      HybridRetrieval.rrfFuseRanked(Seq(a, b), anchor = Some(2))
    }
    intercept[IllegalArgumentException] {
      HybridRetrieval.rrfFuseRanked(Seq.empty)
    }
  }

  test("weighted rrfFuseRanked: exact weighted leg-order fold; unit weights unchanged") {
    val a = Seq((1L, 1), (2L, 2)).toDF("doc_id", "rank")
    val b = Seq((2L, 1), (3L, 2)).toDF("doc_id", "rank")
    val w = HybridRetrieval.rrfFuseRanked(Seq(a, b),
        weights = Some(Seq(0.7, 0.3)))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // bit-equal to the hand-weighted leg-order sum
    assert(w(2L) == 0.0 + (0.7 / 62.0) + (0.3 / 61.0))
    assert(w(1L) == 0.0 + (0.7 / 61.0))
    assert(w(3L) == 0.0 + (0.3 / 62.0))
    // weights None IS the unit-weight fold, bit-for-bit
    val unit = HybridRetrieval.rrfFuseRanked(Seq(a, b))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val ones = HybridRetrieval.rrfFuseRanked(Seq(a, b),
        weights = Some(Seq(1.0, 1.0)))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ones == unit)
    intercept[IllegalArgumentException] {
      HybridRetrieval.rrfFuseRanked(Seq(a, b), weights = Some(Seq(0.7)))
    }
    intercept[IllegalArgumentException] {
      HybridRetrieval.rrfFuseRanked(Seq(a, b),
        weights = Some(Seq(0.7, -0.1)))
    }
  }

  test("SparseLeg.Ql and legWeights: the weighted QL ensemble equals the hand-wired fusion") {
    val lexIdx = InvertedIndex.build(docs)
    val denseIdx = SimilaritySearch.buildIvfIndex(emb, nlist = 8)
    val terms = lexIdx.termDf.orderBy($"df", $"term").limit(3)
      .collect().map(_.getString(0)).toSeq
    val qv = emb.filter($"vec_id" === 0)
    val allowed = emb.filter($"vec_id" % 3 === 0).select($"vec_id")
    val got = HybridRetrieval.rrfTopKAmong(
        lexIdx, terms, denseIdx, qv, k = 10, allowed, legK = 30,
        sparseLeg = HybridRetrieval.SparseLeg.Ql(2000.0),
        legWeights = Some((0.7, 0.3)))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val denseRanked = HybridRetrieval.DenseLeg.Float32(denseIdx)
        .probeAmong(qv, 30, allowed)
      .select($"neighbor_id".as("doc_id"), $"rn".as("rank"))
    val lexRanked = HybridRetrieval.rankLeg(
      InvertedIndex.qlTopKAmong(lexIdx, terms, 30, allowed,
        idCol = "vec_id"), "doc_id", "score_q")
    val want = HybridRetrieval.rrfFuseRanked(Seq(denseRanked, lexRanked),
        weights = Some(Seq(0.7, 0.3)))
      .orderBy($"rrf".desc, $"doc_id").limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.nonEmpty && got == want,
      "weighted QL-leg hybrid diverged from the hand-wired fusion")
    // batch symmetry: the weighted QL batch verb per query ≡ the
    // single-query serve, fused doubles included
    val qterms = terms.map((0L, _)).toDF("query_id", "term")
    val qvecs = qv.select($"vec_id".as("query_id"), $"embedding")
    val batch = HybridRetrieval.rrfTopKByQueryAmong(
        lexIdx, qterms, denseIdx, qvecs, k = 10, allowed, legK = 30,
        sparseLeg = HybridRetrieval.SparseLeg.Ql(2000.0),
        legWeights = Some((0.7, 0.3)))
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
      .sortBy(t => (-t._2, t._1))
    assert(batch == got.sortBy(t => (-t._2, t._1)),
      "weighted QL batch hybrid diverged from its single-query serve")
    denseIdx.unpersist()
  }

  test("rankLeg equals a row_number ranking by (score desc, id)") {
    val scored = Seq((5L, 10L), (6L, 30L), (7L, 10L)).toDF("doc_id", "score_q")
    val got = HybridRetrieval.rankLeg(scored, "doc_id", "score_q")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(6L -> 1L, 5L -> 2L, 7L -> 3L))
  }

  test("rrfTopKAmong with allowed = everything is bit-equal to rrfTopK") {
    val lexIdx = InvertedIndex.build(docs)
    val denseIdx = SimilaritySearch.buildIvfIndex(emb, nlist = 8)
    val terms = lexIdx.termDf.orderBy($"df", $"term").limit(3)
      .collect().map(_.getString(0)).toSeq
    val qv = emb.filter($"vec_id" === 0)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val unfiltered = rows(HybridRetrieval.rrfTopK(
      lexIdx, terms, denseIdx, qv, k = 10, legK = 30))
    // allowed = every id: the auto dial resolves selectivity 1 → the
    // same policy nprobe rrfTopK defaults to, both semi-joins keep
    // everything — identical rows INCLUDING the fused doubles
    val all = rows(HybridRetrieval.rrfTopKAmong(
      lexIdx, terms, denseIdx, qv, k = 10,
      allowed = emb.select($"vec_id"), legK = 30))
    assert(unfiltered.nonEmpty && all == unfiltered,
      "allowed=all must reduce to the unfiltered verb bit-for-bit")
    // pre-filter semantics: a selective filter returns only allowed
    // docs, ranked among allowed through BOTH legs
    val filtered = rows(HybridRetrieval.rrfTopKAmong(
      lexIdx, terms, denseIdx, qv, k = 10,
      allowed = emb.filter($"vec_id" % 3 === 0).select($"vec_id"),
      legK = 30))
    assert(filtered.nonEmpty && filtered.forall(_._1 % 3 == 0))
    denseIdx.unpersist()
  }

  test("rrfTopKByQuery(Among): batch fusion equals the single-query verb per query id") {
    val lexIdx = InvertedIndex.build(docs)
    val denseIdx = SimilaritySearch.buildIvfIndex(emb, nlist = 8)
    val rare = lexIdx.termDf.orderBy($"df", $"term").limit(3)
      .collect().map(_.getString(0)).toSeq
    val freq = lexIdx.termDf.orderBy($"df".desc, $"term").limit(3)
      .collect().map(_.getString(0)).toSeq
    // query 2's terms are all unindexed: the hybrid degrades to its
    // dense leg alone (no rows dropped, no batch failure)
    val qterms = (rare.map((0L, _)) ++ freq.map((1L, _)) ++
      Seq((2L, "zzz_unindexed"))).toDF("query_id", "term")
    val qvecs = emb.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"embedding")
    def sorted(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
      .sortBy(t => (t._1, -t._3, t._2))
    def single(qid: Long, terms: Seq[String],
        allowed: Option[org.apache.spark.sql.DataFrame]) = {
      val qv = emb.filter($"vec_id" === qid)
      val df = allowed.fold(
        HybridRetrieval.rrfTopK(lexIdx, terms, denseIdx, qv, k = 5,
          legK = 20))(a =>
        HybridRetrieval.rrfTopKAmong(lexIdx, terms, denseIdx, qv, k = 5,
          a, legK = 20))
      df.collect().map(r => (qid, r.getLong(0), r.getDouble(1))).toSeq
    }
    // unfiltered: queries 0/1 equal their single-query serve; query 2
    // equals a pure dense-leg fusion (leg ranks = rn, lex absent)
    val batch = sorted(HybridRetrieval.rrfTopKByQuery(
      lexIdx, qterms, denseIdx, qvecs, k = 5, legK = 20))
    val dense2 = SimilaritySearch
      .ivfProbe(denseIdx, emb.filter($"vec_id" === 2), 20,
        SimilaritySearch.policyNprobe(8))
      .collect().map(r => (2L, r.getLong(2), 0.0 + 1.0 / (60.0 + r.getInt(1))))
      .toSeq.sortBy(t => (-t._3, t._2)).take(5)
    val wantU = (single(0L, rare, None) ++ single(1L, freq, None) ++ dense2)
      .sortBy(t => (t._1, -t._3, t._2))
    assert(batch.nonEmpty && batch == wantU,
      "batch hybrid diverged from per-query fusion")
    // filtered: same per-query equality through both filtered legs
    val allowed = emb.filter($"vec_id" % 3 === 0).select($"vec_id")
    val batchF = sorted(HybridRetrieval.rrfTopKByQueryAmong(
      lexIdx, qterms, denseIdx, qvecs, k = 5, allowed, legK = 20))
    val wantF01 = single(0L, rare, Some(allowed)) ++
      single(1L, freq, Some(allowed))
    assert(batchF.filter(_._1 < 2L) ==
      wantF01.sortBy(t => (t._1, -t._3, t._2)),
      "filtered batch hybrid diverged from per-query rrfTopKAmong")
    assert(batchF.filter(_._1 == 2L).forall(_._2 % 3 == 0))
    denseIdx.unpersist()
  }

  test("DenseLeg.PqRefined in the exact regime is bit-equal to the float leg") {
    // the r16 tier generalization: selectivity 0.3 caps nprobe at
    // nlist = 8 on BOTH tiers (all cells probed), and the pinned
    // refine = 64 makes the legK·refine shortlist cover every allowed
    // candidate — so the PQ leg's exact re-rank IS the filtered brute
    // ranking, as is the float leg's all-cells probe, and the fused
    // doubles must agree bit-for-bit (same cosineNative kernel, same
    // fusion fold)
    val lexIdx = InvertedIndex.build(docs)
    val denseIdx = SimilaritySearch.buildIvfIndex(emb, nlist = 8)
    val pqIdx = SimilaritySearch.buildIvfPqIndex(emb, nlist = 8,
      m = 8, ksub = 64)
    val terms = lexIdx.termDf.orderBy($"df", $"term").limit(3)
      .collect().map(_.getString(0)).toSeq
    val qv = emb.filter($"vec_id" === 0)
    val allowed = emb.filter($"vec_id" % 3 === 0).select($"vec_id")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val viaFloat = rows(HybridRetrieval.rrfTopKAmong(
      lexIdx, terms, denseIdx, qv, k = 10, allowed, legK = 30,
      selectivity = Some(0.3)))
    val viaPq = rows(HybridRetrieval.rrfTopKAmong(
      lexIdx, terms,
      HybridRetrieval.DenseLeg.PqRefined(pqIdx, emb, refine = Some(64)),
      qv, k = 10, allowed, legK = 30, selectivity = Some(0.3)))
    assert(viaFloat.nonEmpty && viaPq == viaFloat,
      "exact-regime PQ leg diverged from the float leg")
    // the FOURTH family: SRP-Hamming with a covering shortlist is the
    // same exact regime (the scan sees everything, the pinned refine
    // keeps every allowed candidate, the exact re-rank is the same
    // cosineNative kernel) — so all four tiers agree bit-for-bit here
    val srpIdx = SimilaritySearch.buildSrpIndex(emb)
    val viaSrp = rows(HybridRetrieval.rrfTopKAmong(
      lexIdx, terms,
      HybridRetrieval.DenseLeg.Srp(srpIdx, emb, refine = Some(64)),
      qv, k = 10, allowed, legK = 30, selectivity = Some(0.3)))
    assert(viaSrp == viaFloat,
      "exact-regime SRP leg diverged from the float leg")
    srpIdx.unpersist()
    // batch symmetry on the compressed tier: the PQ leg rides the same
    // fuseLegsByQuery tail, per query ≡ its single-query serve
    val qterms = terms.map((0L, _)).toDF("query_id", "term")
    val qvecs = qv.select($"vec_id".as("query_id"), $"embedding")
    val leg = HybridRetrieval.DenseLeg.PqRefined(pqIdx, emb,
      refine = Some(64))
    val batch = HybridRetrieval.rrfTopKByQuery(
        lexIdx, qterms, leg, qvecs, k = 10, legK = 30)
      .collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
      .sortBy(t => (-t._2, t._1))
    val single = rows(HybridRetrieval.rrfTopK(
        lexIdx, terms, leg, qv, k = 10, legK = 30))
      .sortBy(t => (-t._2, t._1))
    assert(batch.nonEmpty && batch == single,
      "batch PQ-leg hybrid diverged from its single-query serve")
    pqIdx.unpersist(); denseIdx.unpersist()
  }

  test("DenseLeg.Int8 converts implicitly and fuses through the shared tail") {
    val lexIdx = InvertedIndex.build(docs)
    val idx8 = SimilaritySearch.buildIvfInt8Index(emb, nlist = 8)
    val terms = lexIdx.termDf.orderBy($"df", $"term").limit(3)
      .collect().map(_.getString(0)).toSeq
    val qv = emb.filter($"vec_id" === 0)
    val allowed = emb.filter($"vec_id" % 3 === 0).select($"vec_id")
    // the operator through the int8 leg (passed as the BARE index —
    // the implicit conversion is part of the contract)
    val got = HybridRetrieval.rrfTopKAmong(
        lexIdx, terms, idx8, qv, k = 10, allowed, legK = 30)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    // the hand-wired fusion it must equal: the tier's own filtered
    // probe + bm25TopKAmong, ranked and folded by the public pieces
    val denseRanked = HybridRetrieval.DenseLeg.Int8(idx8)
        .probeAmong(qv, 30, allowed)
      .select($"neighbor_id".as("doc_id"), $"rn".as("rank"))
    val lexRanked = HybridRetrieval.rankLeg(
      InvertedIndex.bm25TopKAmong(lexIdx, terms, 30, allowed,
        idCol = "vec_id"), "doc_id", "score_q")
    val want = HybridRetrieval.rrfFuseRanked(Seq(denseRanked, lexRanked))
      .orderBy($"rrf".desc, $"doc_id").limit(10)
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(got.nonEmpty && got == want,
      "int8-leg hybrid diverged from the hand-wired fusion")
    idx8.unpersist()
  }

  test("hybrid serving from STREAMED artifacts equals batch-built artifacts, under live tombstones on both legs") {
    // the four-family streaming symmetry is only valuable if the
    // ensemble can serve from it (r16, verdict item 5): both streamed
    // loads return the standard index types, so rrfTopKAmong over
    // StreamingLexIndex.load + StreamingVecIndex.load — with UNFOLDED
    // tombstones live on BOTH sides — must be bit-equal to the batch
    // ensemble over indexes built directly on the surviving corpus
    import graft.streaming.{StreamingLexIndex, StreamingVecIndex}
    val dead = Seq(9L, 12L)
    val dirL = java.nio.file.Files
      .createTempDirectory("graft-hyb-slex").toString
    (0L to 2L).foreach { b =>
      StreamingLexIndex.applyBatch(
        docs.filter(pmod($"doc_id", lit(3L)) === b), b, dirL)
    }
    InvertedIndex.delete(spark, dirL, dead)
    val lexStreamed = StreamingLexIndex.load(spark, dirL)
    val dirV = java.nio.file.Files
      .createTempDirectory("graft-hyb-svec").toString
    val centers = emb.filter($"vec_id" < 8).orderBy($"vec_id").collect()
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)
    StreamingVecIndex.freezeCenters(spark, dirV, centers)
    (0L to 2L).foreach { b =>
      StreamingVecIndex.applyBatch(
        emb.filter(pmod($"vec_id", lit(3L)) === b), b, dirV)
      StreamingVecIndex.maybeMerge(spark, dirV, 2, b)
    }
    SimilaritySearch.deleteFromAnnIndex(spark, dirV, dead)
    val denseStreamed = StreamingVecIndex.load(spark, dirV)
    // the batch reference: both indexes built directly over survivors
    val liveDocs = docs.filter(!$"doc_id".isin(dead: _*))
    val liveEmb = emb.filter(!$"vec_id".isin(dead: _*))
    val lexBatch = InvertedIndex.build(liveDocs)
    val denseBatch = SimilaritySearch.IvfIndex(centers,
      SimilaritySearch.assignToCells(liveEmb, centers, "vec_id",
        "embedding"))
    val terms = lexBatch.termDf.orderBy($"df", $"term").limit(3)
      .collect().map(_.getString(0)).toSeq
    val qv = emb.filter($"vec_id" === 0)
    val allowed = docs.filter($"doc_id" % 3 === 0).select($"doc_id")
      .withColumnRenamed("doc_id", "vec_id")
    def rows(lex: InvertedIndex.LexIndex,
        dense: SimilaritySearch.IvfIndex) =
      HybridRetrieval.rrfTopKAmong(lex, terms, dense, qv, k = 10,
          allowed, legK = 30)
        .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val streamed = rows(lexStreamed, denseStreamed)
    val batch = rows(lexBatch, denseBatch)
    assert(streamed.nonEmpty && streamed == batch,
      "streamed-artifact hybrid diverged from the batch-built ensemble")
    assert(!streamed.exists(t => dead.contains(t._1)),
      "a tombstoned doc was served")
    denseStreamed.unpersist()
  }
}
