package graft

import graft.queries.TextQueries

class ArtifactScratchSpec extends SparkSpec {

  test("releasing a scratch artifact deletes the directory it wrote: lex_index") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def dirs: Set[String] = Option(tmp.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && f.getName.matches("graft-lexidx\\d+"))
      .map(_.getName).toSet
    // an instance an earlier spec built in this session goes first
    TextQueries.lexIndex.release(spark, sf001)
    val before = dirs
    assert(TextQueries.lexIndex(spark, sf001).docLens.count() > 0)
    val made = dirs -- before
    assert(made.size == 1, s"new lex_index directories: $made")
    TextQueries.lexIndex.release(spark, sf001)
    assert((dirs & made).isEmpty, s"left behind after release: ${dirs & made}")
  }
}
