package graft

import graft.operators.SimilaritySearch
import graft.operators.SimilaritySearch.AnnCodec
import graft.streaming.StreamingVecIndex
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streamed drift observability (r18, verdict item 3): the monitoring
  * half of the drift story whose repair half (epoch rotation) shipped in
  * r17. Load-bearing contracts:
  *   - [[StreamingVecIndex.skewReport]] over a LIVE streamed directory
  *     equals the batch [[SimilaritySearch.ivfSkewReport]] over that
  *     directory's [[StreamingVecIndex.compactTo]] fold — by
  *     construction (same live-segment scoping, same tombstone
  *     application, same report math) — so the advisory trips EXACTLY
  *     when the batch-layout report would;
  *   - the sink's periodic advisory fires on a drifted MemoryStream at
  *     the threshold crossing, and only then; it reports, never
  *     rotates (rotation changes sink identity — caller decision);
  *   - the batch report refuses a streamed layout with the route here.
  */
class RotationAdvisorySpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sf001)
    .select(col("vec_id"), col("embedding")).cache()

  private lazy val centers =
    SimilaritySearch.buildIvfIndex(emb, nlist = 8, persist = false).centers

  private val dim = 64

  private def clump(n: Int) =
    (200000L until (200000L + n)).map { i =>
      (i, Array.tabulate(dim)(j =>
        5.0f + (if (j == 0) (i % 5) * 1e-3f else 0f)))
    }.toDF("vec_id", "embedding")

  private def freshDirs(tag: String): (String, String) = (
    java.nio.file.Files.createTempDirectory(s"graft-rot-$tag").toString,
    java.nio.file.Files.createTempDirectory(s"graft-rot-$tag-ck").toString)

  test("streamed skew report equals the batch report over the compactTo fold, tombstones included") {
    val (dir, _) = freshDirs("parity")
    StreamingVecIndex.freezeCenters(spark, dir, centers)
    StreamingVecIndex.applyBatch(emb, 0L, dir)
    StreamingVecIndex.applyBatch(clump(1500), 1L, dir)
    SimilaritySearch.deleteFromAnnIndex(spark, dir,
      Seq(200001L, 200002L, 3L))
    val streamedRep = StreamingVecIndex.skewReport(spark, dir)
    val fold = java.nio.file.Files
      .createTempDirectory("graft-rot-fold").toString
    StreamingVecIndex.compactTo(AnnCodec.Float, spark, dir, fold)
    val batchRep = SimilaritySearch.ivfSkewReport(spark, fold)
    assert(streamedRep == batchRep,
      s"streamed report diverged from the fold's: $streamedRep vs $batchRep")
    assert(StreamingVecIndex.needsRotation(spark, dir) ==
      batchRep.needsRecluster)
    // and the drifted construction actually trips it — the equality
    // above is not vacuous
    assert(streamedRep.needsRecluster,
      s"construction should trip the trigger: $streamedRep")
  }

  test("the sink's advisory fires on a drifted MemoryStream exactly at the threshold crossing") {
    implicit val sqlCtx = spark.sqlContext
    val (dir, ckpt) = freshDirs("sink")
    StreamingVecIndex.freezeCenters(spark, dir, centers)
    val advisories =
      scala.collection.mutable.ListBuffer.empty[SimilaritySearch.IvfSkewReport]
    val stream = MemoryStream[(Long, Seq[Float])]
    val vecs = stream.toDF().toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val query = StreamingVecIndex.sink(vecs, dir, ckpt,
      rotateCheckEvery = 1,
      onRotationAdvice = rep => { advisories += rep; () }).start()
    def feed(rows: Seq[(Long, Seq[Float])]): Unit = {
      stream.addData(rows: _*); query.processAllAvailable()
    }
    try {
      // batch 0: the balanced bootstrap — no advisory
      feed(emb.collect().map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq)
      assert(advisories.isEmpty,
        s"advisory fired on a balanced ingest: $advisories")
      // batch 1: the drifted clump piles into one frozen cell — the
      // check runs every batch, so the advisory fires exactly once,
      // and only reports (the directory keeps serving, nothing rotated)
      feed(clump(1500).collect()
        .map(r => (r.getLong(0), r.getSeq[Float](1))).toSeq)
    } finally query.stop()
    assert(advisories.size == 1 && advisories.head.needsRecluster,
      s"expected exactly one advisory after the drifted batch: $advisories")
    // equality with the batch-layout verdict the moment it fired
    assert(advisories.head == StreamingVecIndex.skewReport(spark, dir))
    // report-only: the stream's directory is untouched and still serves
    assert(StreamingVecIndex.load(spark, dir, persist = false)
      .assigned.count() == emb.count() + 1500)
  }

  test("the batch report refuses a streamed layout with the route to the streamed twin") {
    val (dir, _) = freshDirs("refuse")
    StreamingVecIndex.freezeCenters(spark, dir, centers)
    StreamingVecIndex.applyBatch(emb, 0L, dir)
    val e = intercept[IllegalArgumentException] {
      SimilaritySearch.ivfSkewReport(spark, dir)
    }
    assert(e.getMessage.contains("StreamingVecIndex.skewReport"))
  }
}
