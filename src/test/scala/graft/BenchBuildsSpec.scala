package graft

import graft.queries.Artifact
import org.scalatest.funsuite.AnyFunSuite

/** `graft.Bench` derives its build lines from the queries' declared
  * `needs`: pure over the declarations, no Spark work. */
class BenchBuildsSpec extends AnyFunSuite {

  private def q(names: String*) = names.map(n =>
    SparkEntry.all.find(_.name == n).getOrElse(fail(s"no query $n")))
  private def buildsOf(names: String*): Seq[String] =
    Bench.builds(q(names: _*)).map(_.name)

  test("a single filtered lexical probe derives exactly its index") {
    assert(buildsOf("t_ql_filtered_topk") == Seq("lex_index"))
  }

  test("each consumer once missing from the hand-written lists derives its build") {
    val consumers = Seq(
      "vx_ann_auto_filtered_quantized" -> "ivf_index",
      "vx_retrieval_eval_ndcg" -> "ivf_index",
      "vx_cluster_balanced_sample" -> "ivf_index",
      "vx_ann_ivfpq_artifact_parity" -> "ivf_pq_index",
      "tx_stream_neardup_hits" -> "minhash_sigs",
      "t_ql_filtered_topk" -> "lex_index",
      "t_bm25_batch_wand_filtered" -> "lex_index",
      "t_phrase_filtered_topk" -> "lex_index_pos",
      "tx_stream_decontaminate" -> "bench_grams",
      "t_chunk_bpe_windows" -> "bpe_merges")
    consumers.foreach { case (query, build) =>
      assert(buildsOf(query).contains(build), s"$query does not build $build")
    }
  }

  test("the RAG chain builds every artifact after the ones it reads") {
    val order = buildsOf("tx_rag_pipeline_ivf")
    def before(a: String, b: String): Unit = {
      assert(order.contains(a) && order.contains(b), s"$order lacks $a or $b")
      assert(order.indexOf(a) < order.indexOf(b), s"$a not before $b in $order")
    }
    before("bpe_merges", "rag_chunks")
    Seq("rag_vocab", "rag_emb", "rag_index", "rag_ivf_artifact")
      .foreach(before("rag_chunks", _))
    before("rag_emb", "rag_ivf_artifact")
  }

  test("the full list holds every reachable artifact exactly once, dependencies first") {
    val all = Bench.builds(SparkEntry.all)
    assert(all.map(_.name).distinct.size == all.size)
    val seen = scala.collection.mutable.Set.empty[Artifact[_]]
    all.foreach { a =>
      assert(a.needs.forall(seen), s"${a.name} listed before a build it reads")
      seen += a
    }
    def reach(a: Artifact[_]): Seq[Artifact[_]] = a +: a.needs.flatMap(reach)
    val reachable = SparkEntry.all.flatMap(_.needs.flatMap(reach)).toSet
    assert(all.toSet == reachable)
    assert(all.size == 43)
  }
}
