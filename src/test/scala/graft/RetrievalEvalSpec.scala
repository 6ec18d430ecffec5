package graft

import graft.operators.RetrievalEval
import org.apache.spark.sql.functions._

class RetrievalEvalSpec extends SparkSpec {
  import spark.implicits._

  private def ranks(rows: (Long, Long, Int)*) =
    rows.toDF("query_id", "neighbor_id", "rn")

  test("perfect retrieval scores recall 1, MRR 1") {
    val truth = ranks((1L, 10L, 1), (1L, 11L, 2), (2L, 20L, 1), (2L, 21L, 2))
    val out = RetrievalEval.perQuery(truth, truth, k = 2)
      .orderBy("query_id").collect()
    assert(out.forall(_.getAs[Double]("recall_at_k") == 1.0))
    assert(out.forall(_.getAs[Double]("reciprocal_rank") == 1.0))
    assert(out.forall(_.getAs[Long]("n_hits") == 2L))
  }

  test("disjoint results score zero with null first-hit rank") {
    val truth = ranks((1L, 10L, 1), (1L, 11L, 2))
    val res = ranks((1L, 98L, 1), (1L, 99L, 2))
    val r = RetrievalEval.perQuery(res, truth, k = 2).collect()(0)
    assert(r.getAs[Long]("n_hits") == 0L)
    assert(r.isNullAt(r.fieldIndex("first_hit_rank")))
    assert(r.getAs[Double]("recall_at_k") == 0.0)
    assert(r.getAs[Double]("reciprocal_rank") == 0.0)
  }

  test("a query absent from results scores zero instead of vanishing") {
    val truth = ranks((1L, 10L, 1), (2L, 20L, 1))
    val res = ranks((1L, 10L, 1)) // query 2 unanswered
    val out = RetrievalEval.perQuery(res, truth, k = 1)
      .orderBy("query_id").collect()
    assert(out.length == 2)
    assert(out(1).getAs[Long]("n_hits") == 0L)
    assert(out(1).getAs[Double]("recall_at_k") == 0.0)
  }

  test("MRR uses the rank of the FIRST relevant result") {
    // relevant docs sit at result ranks 3 and 5 => reciprocal rank = 1/3
    val truth = ranks((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3),
      (1L, 13L, 4), (1L, 14L, 5))
    val res = ranks((1L, 90L, 1), (1L, 91L, 2), (1L, 11L, 3),
      (1L, 92L, 4), (1L, 13L, 5))
    val r = RetrievalEval.perQuery(res, truth, k = 5).collect()(0)
    assert(r.getAs[Long]("first_hit_rank") == 3L)
    assert(r.getAs[Double]("reciprocal_rank") == 1.0 / 3.0)
    assert(r.getAs[Double]("recall_at_k") == 2.0 / 5.0)
  }

  test("ranks beyond k are ignored on both sides") {
    val truth = ranks((1L, 10L, 1), (1L, 11L, 7)) // 11 irrelevant at k=5
    val res = ranks((1L, 11L, 1), (1L, 10L, 6))   // 10 retrieved too late
    val r = RetrievalEval.perQuery(res, truth, k = 5).collect()(0)
    assert(r.getAs[Long]("n_hits") == 0L)
  }

  test("summarize macro-averages and counts hit rate") {
    val truth = ranks((1L, 10L, 1), (2L, 20L, 1))
    val res = ranks((1L, 10L, 1), (2L, 99L, 1))
    val sm = RetrievalEval
      .summarize(RetrievalEval.perQuery(res, truth, k = 1)).collect()(0)
    assert(sm.getAs[Long]("n_queries") == 2L)
    assert(sm.getAs[Double]("mean_recall") == 0.5)
    assert(sm.getAs[Double]("mrr") == 0.5)
    assert(sm.getAs[Double]("hit_rate") == 0.5)
  }

  test("nDCG: perfect list scores 1, a single late hit scores w(r)/idcg") {
    val truth = ranks((1L, 10L, 1), (1L, 11L, 2), (1L, 12L, 3))
    val perfect = RetrievalEval.ndcgPerQuery(truth, truth, k = 3).collect()(0)
    assert(math.abs(perfect.getAs[Double]("ndcg") - 1.0) < 1e-12)
    // only truth-doc 12 retrieved, at result rank 2
    val res = ranks((1L, 99L, 1), (1L, 12L, 2), (1L, 98L, 3))
    val one = RetrievalEval.ndcgPerQuery(res, truth, k = 3).collect()(0)
    val w = RetrievalEval.ndcgWeights(3)
    val expected = (w(1)._2 / w(2)._3).toDouble
    assert(math.abs(one.getAs[Double]("ndcg") - expected) < 1e-12,
      s"ndcg ${one.getAs[Double]("ndcg")} vs $expected")
    // no hits => ndcg 0, query kept
    val none = RetrievalEval.ndcgPerQuery(
      ranks((1L, 77L, 1)), truth, k = 3).collect()(0)
    assert(none.getAs[Double]("ndcg") == 0.0)
  }

  test("eval operator's IVF recall equals set-intersection recall at sf0.001") {
    // the operator's mean_recall must be the recall a reader computes by
    // hand (every query has k truth rows, so the mean of per-query
    // recalls is |result ∩ truth| / |truth|), and it must clear the IVF
    // documented bound (0.72 at nlist 8 / nprobe 4, SimilaritySearchSpec)
    val emb = Tables.embeddings(spark, sf001)
    val queries = emb.filter(col("vec_id") < 10)
    val idx = graft.operators.SimilaritySearch
      .buildIvfIndex(emb, nlist = 8, persist = false)
    val res = graft.operators.SimilaritySearch
      .ivfProbe(idx, queries, k = 5, nprobe = 4)
    val truth = graft.operators.SimilaritySearch
      .bruteForceTopK(emb, queries, k = 5)
    val sm = RetrievalEval
      .summarize(RetrievalEval.perQuery(res, truth, k = 5)).collect()(0)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val want = pairs(truth)
    assert(want.size == 10 * 5)
    val direct = (pairs(res) & want).size.toDouble / want.size
    val meanRecall = sm.getAs[Double]("mean_recall")
    assert(math.abs(meanRecall - direct) < 1e-12,
      s"operator mean_recall $meanRecall vs direct recall $direct")
    assert(meanRecall >= 0.72,
      s"IVF recall $meanRecall below the documented 0.72 bound")
  }
}
