package graft

import graft.queries.TextQueries
import org.apache.spark.sql.functions._

/** Composition sanity for the end-to-end RAG gate (tx_rag_pipeline) and
  * its two new building blocks. Value parity is the DuckDB oracle's job;
  * these tests pin the WIRING: stage counts must be mutually consistent,
  * the batch BM25 probe must equal per-query single probes, and the BoW
  * featurizer must be partitioning-invariant.
  */
class RagPipelineSpec extends SparkSpec {
  import spark.implicits._

  test("pipeline stages are mutually consistent at sf0.01") {
    val out = TextQueries.queries("tx_rag_pipeline")(spark, sf01)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val m = out.map(t => (t._1, t._2) -> t._3).toMap
    // every chunk indexed; every chunk with tokens embedded
    assert(m(("3_index", "n_chunks_indexed")) == m(("1_chunk", "n_chunks")))
    assert(m(("2_embed", "n_vectors")) <= m(("1_chunk", "n_chunks")))
    // fused lists are capped at k per query
    assert(m(("4_retrieve", "n_fused_rows")) <=
      m(("4_retrieve", "n_queries")) * 10)
    // retrieval finds sibling chunks for some queries — the task is
    // solvable (chunk overlap shares 6 BPE tokens with the sibling)
    assert(m(("5_eval", "n_queries_scored")) >= 1)
    assert(m(("5_eval", "hit_rate_q")) > 0,
      s"retrieval found nothing: $m")
    assert(m(("5_eval", "recall_at_10_q")) > 0)
  }

  test("bm25ScoresByQuery equals per-query bm25Scores") {
    val idx = TextQueries.ragIndex(spark, sf01)
    val ch = TextQueries.ragChunks(spark, sf01)
    val qset = ch.filter(col("doc_id") % 65 === 0 && col("chunk_idx") === 0)
      .select(col("cid")).collect().map(_.getLong(0)).take(3)
    val qterms = ch.filter(col("cid").isin(qset: _*))
      .select(col("cid").as("query_id"),
        explode(split(col("chunk_text"), " ")).as("term"))
      .filter(length(col("term")) > 0).distinct()
    val batch = graft.operators.InvertedIndex
      .bm25ScoresByQuery(idx, qterms)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val single = qset.flatMap { q =>
      val terms = qterms.filter(col("query_id") === q)
        .select(col("term")).collect().map(_.getString(0)).toSeq
      graft.operators.InvertedIndex.bm25Scores(idx, terms)
        .collect().map(r => (q, r.getLong(0), r.getLong(1)))
    }.toSet
    assert(batch == single, "batch probe diverged from per-query probes")
  }

  test("quality classifier: top-50 enriches the heuristic-keep rate over the base") {
    val sel = TextQueries.queries("t_quality_classifier_select")(spark, sf01)
      .collect()
    assert(sel.length == 50)
    val keepFrac = sel.count(_.getBoolean(2)).toDouble / sel.length
    val docs = Tables.documents(spark, sf01)
    val base = docs.filter(
        graft.functions.TextOps.gopherRules(col("text")).getField("keep") &&
          graft.functions.TextOps.bigramDupFraction(col("text")) <= 0.4)
      .count().toDouble / docs.count()
    // the classifier must ENRICH: selecting by score beats random draw
    assert(keepFrac > base + 0.05,
      s"selected keep=$keepFrac vs base=$base — classifier learned nothing")
    // ranks are 1..50 with no gaps (selection-only contract)
    assert(sel.map(_.getLong(0)).sorted.toSeq == (1L to 50L))
  }

  test("BowEmbed is deterministic under repartitioning") {
    val texts = Seq((1L, "b a c a"), (2L, "c c d"), (3L, ""), (4L, "a"))
      .toDF("id", "text")
    val vocab = graft.operators.BowEmbed.vocabRanks(texts, "text")
    // vocab: a→1 b→2 c→3 d→4 (dense alphabetical)
    assert(vocab.collect().map(r => (r.getString(0), r.getLong(1))).toMap ==
      Map("a" -> 1L, "b" -> 2L, "c" -> 3L, "d" -> 4L))
    val e1 = graft.operators.BowEmbed
      .embed(texts, vocab, 3, "id", "text").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toMap
    // dim 3 buckets: a→0, b→1, c→2, d→0
    assert(e1(1L) == Seq(2.0, 1.0, 1.0)) // a a | b | c
    assert(e1(2L) == Seq(1.0, 0.0, 2.0)) // d | - | c c
    assert(e1(4L) == Seq(1.0, 0.0, 0.0))
    assert(!e1.contains(3L), "token-less text must yield no vector")
    val e2 = graft.operators.BowEmbed
      .embed(texts.repartition(7), vocab, 3, "id", "text").collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1))).toMap
    assert(e1 == e2)
  }
}
