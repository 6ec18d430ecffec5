package graft

import graft.queries.Artifact
import org.scalatest.funsuite.AnyFunSuite

/** `graft.ScaleBench` derives its build rows from the families' and
  * sections' declared `needs`, as `graft.Bench` does from the queries':
  * pure over the declarations, no Spark work. */
class ScaleBenchBuildsSpec extends AnyFunSuite {

  private def rowsOf(names: String*): Seq[String] =
    ScaleBench.builds(Some(names.toSet)).map(_.name)

  test("the composed RAG pipeline times each artifact it reads as a row, dependencies first") {
    assert(rowsOf("rag_pipeline") ==
      Seq("bpe_merges", "rag_chunks", "rag_vocab", "rag_emb", "rag_index"))
  }

  test("the fused-recall grid derives its lexical and dense fixtures") {
    assert(rowsOf("hybrid_recall_fused") == Seq("scale_lex_index",
      "scale_lex_index_pos", "emb_ivf_index", "emb_ivf_pq_index", "emb_srp_index"))
  }

  test("the filtered-recall grid derives the three IVF tiers") {
    assert(rowsOf("ann_recall_filtered") ==
      Seq("emb_ivf_index", "emb_ivf_int8_index", "emb_ivf_pq_index"))
  }

  test("a section is selected by any of its names, and a name selects nothing else") {
    val (fams, secs) = ScaleBench.selection(Some(Set("vec_stream_merge_fold")))
    assert(fams.isEmpty && secs.map(_.names.head) == Seq("vec_stream_ingest"))
    val names = ScaleBench.families.map(_.name) ++ ScaleBench.sections.flatMap(_.names)
    assert(names.distinct.size == names.size)
  }

  test("a full run builds every declared fixture once, each after all it reads") {
    val all = ScaleBench.builds(None)
    val seen = scala.collection.mutable.Set.empty[Artifact[_]]
    all.foreach { a =>
      assert(a.needs.forall(seen), s"${a.name} listed before a fixture it reads")
      seen += a
    }
    val declared = ScaleBench.families.flatMap(_.needs) ++
      ScaleBench.sections.flatMap(_.needs)
    assert(declared.forall(seen))
  }

  test("artifact names are unique across the declared queries and ScaleBench") {
    // the name is the SessionMemo key: two artifacts sharing one would
    // serve each other's values
    def reach(a: Artifact[_]): Seq[Artifact[_]] = a +: a.needs.flatMap(reach)
    val all = (SparkEntry.all.flatMap(_.needs) ++ ScaleBench.builds(None))
      .flatMap(reach).distinct
    val clashes = all.groupBy(_.name).collect { case (n, as) if as.size > 1 => n }
    assert(clashes.isEmpty, s"artifact names shared by distinct artifacts: $clashes")
  }
}
