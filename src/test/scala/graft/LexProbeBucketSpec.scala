package graft

import graft.operators.InvertedIndex
import graft.queries.TextQueries
import org.apache.spark.sql.functions._

/** A lexical probe prunes its posting scan to the query terms' hash
  * buckets. The buckets are hashed on the driver by
  * `InvertedIndex.bucketOfTerm`, the twin of the build-side Column
  * `bucketOf`, so building a probe launches no Spark job.
  */
class LexProbeBucketSpec extends SparkSpec {
  import spark.implicits._

  private lazy val idx = TextQueries.lexIndex(spark, sf01)

  test("the driver bucket equals the Column bucket for every vocabulary term and hostile terms") {
    val vocab = idx.termDf.select(col("term")).as[String].collect().toSeq
    assert(vocab.nonEmpty)
    val hostile = Seq("", "é", "naïve", "日本語", "😀", "a𝄞b",
      "tab\there", " ")
    // the corpus vocabulary is small; generated terms cover the whole grid
    val terms = vocab ++ hostile ++ (0 until 2000).map(i => s"w$i")
    val column = terms.toDF("term")
      .select(col("term"), InvertedIndex.bucketOf(col("term")).as("bucket"))
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(column.size == terms.distinct.size)
    val wrong = terms.filter(t => InvertedIndex.bucketOfTerm(t) != column(t))
    assert(wrong.isEmpty, s"driver/Column bucket mismatch: ${wrong.take(5)}")
    assert(column.values.toSet == (0 until InvertedIndex.Buckets).toSet)
  }

  test("building a BM25 probe starts no Spark job") {
    val terms = idx.termDf.orderBy(col("df"), col("term")).limit(3)
      .collect().map(_.getAs[String]("term")).toSeq
    val n = jobsDuring { InvertedIndex.bm25Scores(idx, terms); () }
    assert(n == 0, s"building the probe started $n job(s)")
  }
}
