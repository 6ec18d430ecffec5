package graft

import graft.operators.SimilaritySearch
import graft.operators.SimilaritySearch.AnnCodec
import graft.streaming.StreamingVecIndex
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming dense-index ingest vs a same-centers rebuild: micro-batch
  * cell deltas under the frozen quantizer assemble to the exact inverted
  * file, replayed batches are idempotent, the manifest-committed segment
  * merge changes file geometry but never a probe row, and the batch
  * artifact's delete lifecycle applies at load.
  */
class StreamingVecIndexSpec extends SparkSpec {
  import spark.implicits._

  private lazy val emb = Tables.embeddings(spark, sf001)
    .select(col("vec_id"), col("embedding"))
  private lazy val queries = emb.filter(col("vec_id") < 8)

  // frozen quantizer shared by every test: trained once on the full
  // corpus (the offline-history bootstrap a deployment would run)
  private lazy val centers =
    SimilaritySearch.buildIvfIndex(emb, nlist = 8, persist = false).centers

  private def probe(idx: SimilaritySearch.IvfIndex): Seq[(Long, Int, Long)] =
    SimilaritySearch.ivfProbe(idx, queries, k = 5, nprobe = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq

  private def sameCentersRebuild(corpus: org.apache.spark.sql.DataFrame) =
    SimilaritySearch.IvfIndex(centers,
      SimilaritySearch.assignToCells(corpus, centers, "vec_id", "embedding"))

  private def freshDirs(tag: String): (String, String) = (
    java.nio.file.Files.createTempDirectory(s"graft-svec-$tag").toString,
    java.nio.file.Files.createTempDirectory(s"graft-svec-$tag-ck").toString)

  test("MemoryStream ingest probes identically to a same-centers rebuild; compactTo folds") {
    implicit val sqlCtx = spark.sqlContext
    val (dir, ckpt) = freshDirs("mem")
    StreamingVecIndex.freezeCenters(spark, dir, centers)
    val rows = emb.collect().map(r =>
      (r.getLong(0), r.getSeq[Float](1))).toSeq
    val stream = MemoryStream[(Long, Seq[Float])]
    val vecs = stream.toDF().toDF("vec_id", "embedding")
      .withColumn("embedding", col("embedding").cast("array<float>"))
    val query = StreamingVecIndex.sink(vecs, dir, ckpt).start()
    try {
      rows.grouped(700).foreach { g =>
        stream.addData(g: _*); query.processAllAvailable()
      }
    } finally query.stop()
    val streamed = StreamingVecIndex.load(spark, dir, persist = false)
    val want = probe(sameCentersRebuild(emb))
    assert(probe(streamed).nonEmpty && probe(streamed) == want,
      "streamed index diverged from same-centers rebuild")
    assert(streamed.assigned.count() == emb.count())
    // compactTo: the batch artifact layout, probe rows unchanged
    val folded = java.nio.file.Files
      .createTempDirectory("graft-svec-fold").toString
    StreamingVecIndex.compactTo(AnnCodec.Float, spark, dir, folded)
    val compactIdx = SimilaritySearch.loadIvfIndex(spark, folded,
      persist = false)
    assert(probe(compactIdx) == want)
    assert(!compactIdx.assigned.columns.contains("batch"))
  }

  test("replayed batch is idempotent; unfrozen directory refuses ingest") {
    val (dir, _) = freshDirs("replay")
    // no frozen quantizer: applyBatch must refuse loudly, not train
    intercept[IllegalArgumentException] {
      StreamingVecIndex.applyBatch(emb.limit(5), 0L, dir)
    }
    StreamingVecIndex.freezeCenters(spark, dir, centers)
    val slices = Seq(
      emb.filter(col("vec_id") % 3 === 0),
      emb.filter(col("vec_id") % 3 === 1),
      emb.filter(col("vec_id") % 3 === 2))
    slices.zipWithIndex.foreach { case (s, i) =>
      StreamingVecIndex.applyBatch(s, i.toLong, dir)
    }
    // compactAnnIndex must refuse a NEVER-MERGED streamed dir too (no
    // _segments manifest yet, no tombstones — the batch=-partition sniff
    // is the only guard on this shape, and the refusal is unconditional)
    intercept[IllegalArgumentException] {
      SimilaritySearch.compactAnnIndex(spark, dir)
    }
    val before = probe(StreamingVecIndex.load(spark, dir, persist = false))
    val beforeCount = StreamingVecIndex.load(spark, dir, persist = false)
      .assigned.count()
    // a recovery replay re-delivers batch 1 verbatim: overwrite, not add
    StreamingVecIndex.applyBatch(slices(1), 1L, dir)
    val after = StreamingVecIndex.load(spark, dir, persist = false)
    assert(after.assigned.count() == beforeCount)
    assert(probe(after) == before)
    // opt-in disjoint-ids guard (r15): a SAME-batch-id replay is exempt
    // (it IS the partition-overwrite idempotence), while an upstream
    // re-delivering a live id into a NEW batch id fails loudly instead
    // of occupying two top-k slots
    try {
      spark.conf.set(SimilaritySearch.ValidateAppendsConf, "true")
      StreamingVecIndex.applyBatch(slices(1), 1L, dir) // replay: exempt
      val e = intercept[IllegalStateException] {
        StreamingVecIndex.applyBatch(slices(1).limit(1), 99L, dir)
      }
      assert(e.getMessage.contains("disjoint-ids"))
    } finally spark.conf.unset(SimilaritySearch.ValidateAppendsConf)
  }

  test("segment merge is manifest-committed and bit-identical; delete lifecycle applies") {
    val (dir, _) = freshDirs("merge")
    StreamingVecIndex.freezeCenters(spark, dir, centers)
    (0 to 3).foreach { b =>
      StreamingVecIndex.applyBatch(
        emb.filter(pmod(col("vec_id"), lit(4L)) === b), b.toLong, dir)
      StreamingVecIndex.maybeMerge(spark, dir, threshold = 2, b.toLong)
    }
    val merged = StreamingVecIndex.load(spark, dir, persist = false)
    val want = probe(sameCentersRebuild(emb))
    assert(probe(merged) == want, "merge changed probe rows")
    // the fold really collapsed segments (negative merged ids present)
    val live = StreamingVecIndex.liveSegments(spark, dir)
    assert(live.exists(_ < 0) && live.size < 4,
      s"expected a folded segment set, got $live")
    // a replayed merge round after completion is a no-op
    StreamingVecIndex.maybeMerge(spark, dir, threshold = 2, 3L)
    assert(probe(StreamingVecIndex.load(spark, dir, persist = false)) == want)
    // the batch artifact's takedown story works on the streamed layout
    val dead = Seq(3L, 5L, 999999L)
    SimilaritySearch.deleteFromAnnIndex(spark, dir, dead)
    val tombstoned = StreamingVecIndex.load(spark, dir, persist = false)
    val survivors = emb.filter(!col("vec_id").isin(dead: _*))
    assert(probe(tombstoned) == probe(sameCentersRebuild(survivors)),
      "tombstoned streamed load diverged from survivor rebuild")
    // the batch artifact's in-place compact must REFUSE the streamed
    // layout (it would drop the batch= level and orphan the manifest);
    // the streamed fold is compactTo, which applies the tombstones
    intercept[IllegalArgumentException] {
      SimilaritySearch.compactAnnIndex(spark, dir)
    }
    val folded = java.nio.file.Files
      .createTempDirectory("graft-svec-tombfold").toString
    StreamingVecIndex.compactTo(AnnCodec.Float, spark, dir, folded)
    assert(probe(SimilaritySearch.loadIvfIndex(spark, folded,
        persist = false)) == probe(sameCentersRebuild(survivors)),
      "compactTo did not fold the tombstones into the copy")
  }

  test("int8 streamed ingest: compressed-tier probes equal a same-centers build; merge + takedown hold") {
    val (dir, _) = freshDirs("int8")
    StreamingVecIndex.freezeCenters(spark, dir, centers)
    (0 to 3).foreach { b =>
      StreamingVecIndex.applyBatch(AnnCodec.Int8,
        emb.filter(pmod(col("vec_id"), lit(4L)) === b), b.toLong, dir)
      StreamingVecIndex.maybeMerge(spark, dir, threshold = 2, b.toLong)
    }
    def probe8(idx: SimilaritySearch.IvfInt8Index) =
      SimilaritySearch.ivfProbeInt8(idx, queries, k = 5, nprobe = 3)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    // reference: the SAME frozen centers + row-local quantization over
    // the full corpus (buildIvfInt8Index retrains — assemble directly)
    def int8Rebuild(corpus: org.apache.spark.sql.DataFrame) =
      SimilaritySearch.IvfInt8Index(centers,
        SimilaritySearch.assignToCells(corpus, centers, "vec_id", "embedding")
          .select(col("neighbor_id"), col("cell"))
          .join(SimilaritySearch.quantizeInt8(corpus)
            .select(col("vec_id").as("neighbor_id"), col("scale"),
              col("qnorm"), col("qv")), "neighbor_id"))
    val streamed = SimilaritySearch.loadAnnIndex(AnnCodec.Int8, spark, dir, persist = false)
    val want = probe8(int8Rebuild(emb))
    assert(probe8(streamed).nonEmpty && probe8(streamed) == want,
      "int8 streamed index diverged from same-centers quantized rebuild")
    // the segment machinery really ran (merged negative id present)
    assert(StreamingVecIndex.liveSegments(spark, dir).exists(_ < 0))
    // takedown applies on the compressed streamed layout too
    val dead = Seq(7L, 11L)
    SimilaritySearch.deleteFromAnnIndex(spark, dir, dead)
    val survivors = emb.filter(!col("vec_id").isin(dead: _*))
    assert(probe8(SimilaritySearch.loadAnnIndex(AnnCodec.Int8, spark, dir, persist = false)) ==
      probe8(int8Rebuild(survivors)))
    // compactTo folds into the batch IVF-SQ8 artifact, probe-equal
    val folded = java.nio.file.Files
      .createTempDirectory("graft-svec-int8fold").toString
    StreamingVecIndex.compactTo(AnnCodec.Int8, spark, dir, folded)
    assert(probe8(SimilaritySearch.loadAnnIndex(AnnCodec.Int8, spark, folded,
      persist = false)) == probe8(int8Rebuild(survivors)))
  }

  test("PQ streamed ingest: codes equal a same-codebook build; merge, replay, takedown, fold hold") {
    val (dir, _) = freshDirs("pq")
    // no frozen codebook: the PQ tier refuses loudly, never trains
    intercept[IllegalArgumentException] {
      StreamingVecIndex.applyBatch(AnnCodec.Pq, emb.limit(5), 0L, dir)
    }
    // BOTH quantizers frozen from one offline build (the bootstrap)
    val built = SimilaritySearch.buildIvfPqIndex(emb, nlist = 8, m = 8,
      ksub = 16, persist = false)
    StreamingVecIndex.freeze(AnnCodec.Pq, spark, dir, (built.centers, built.book))
    (0 to 3).foreach { b =>
      StreamingVecIndex.applyBatch(AnnCodec.Pq,
        emb.filter(pmod(col("vec_id"), lit(4L)) === b), b.toLong, dir)
      StreamingVecIndex.maybeMerge(spark, dir, threshold = 2, b.toLong)
    }
    def probePq(idx: SimilaritySearch.IvfPqIndex,
        corpus: org.apache.spark.sql.DataFrame) =
      SimilaritySearch.ivfProbePqRefined(idx, corpus, queries, k = 5,
          nprobe = 3, refine = 8)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    // reference: the same frozen centers + codebook over the full corpus
    def pqRebuild(corpus: org.apache.spark.sql.DataFrame) =
      SimilaritySearch.IvfPqIndex(built.centers, built.book,
        SimilaritySearch.assignAndEncodePq(corpus, built.centers,
          built.book, "vec_id", "embedding"), n = corpus.count())
    val streamed = SimilaritySearch.loadAnnIndex(AnnCodec.Pq, spark, dir, persist = false)
    assert(streamed.n == emb.count(), "the streamed PQ load must count n from the live rows")
    val want = probePq(pqRebuild(emb), emb)
    assert(want.nonEmpty && probePq(streamed, emb) == want,
      "PQ streamed index diverged from same-codebook rebuild")
    assert(StreamingVecIndex.liveSegments(spark, dir).exists(_ < 0),
      "expected a committed merge fold")
    // replay idempotence holds on the encoded tier (frozen codebook ⇒
    // byte-identical codes on re-delivery)
    StreamingVecIndex.applyBatch(AnnCodec.Pq,
      emb.filter(pmod(col("vec_id"), lit(4L)) === 3), 3L, dir)
    assert(SimilaritySearch.loadAnnIndex(AnnCodec.Pq, spark, dir, persist = false)
      .assigned.count() == emb.count())
    // takedown on the compressed streamed layout; n tracks survivors
    val dead = Seq(7L, 11L)
    SimilaritySearch.deleteFromAnnIndex(spark, dir, dead)
    val survivors = emb.filter(!col("vec_id").isin(dead: _*))
    val tombstoned = SimilaritySearch.loadAnnIndex(AnnCodec.Pq, spark, dir, persist = false)
    assert(tombstoned.n == emb.count() - 2)
    assert(probePq(tombstoned, survivors) ==
      probePq(pqRebuild(survivors), survivors))
    // compactTo folds into the batch IVF-PQ artifact: probe-equal,
    // survivor-counted n metadata travels
    val folded = java.nio.file.Files
      .createTempDirectory("graft-svec-pqfold").toString
    StreamingVecIndex.compactTo(AnnCodec.Pq, spark, dir, folded)
    val loadedFold = SimilaritySearch.loadAnnIndex(AnnCodec.Pq, spark, folded,
      persist = false)
    assert(loadedFold.n == emb.count() - 2)
    assert(probePq(loadedFold, survivors) ==
      probePq(pqRebuild(survivors), survivors))
  }

  test("SRP streamed ingest: sketches equal a same-family build; merge, replay, takedown, fold hold") {
    val (dir, _) = freshDirs("srp")
    // no frozen hyperplane family: the SRP tier refuses loudly
    intercept[IllegalArgumentException] {
      StreamingVecIndex.applyBatch(AnnCodec.Srp, emb.limit(5), 0L, dir)
    }
    StreamingVecIndex.freeze(AnnCodec.Srp, spark, dir,
      SimilaritySearch.SrpPlanes(bits = 128, seed = 7L))
    (0 to 3).foreach { b =>
      StreamingVecIndex.applyBatch(AnnCodec.Srp,
        emb.filter(pmod(col("vec_id"), lit(4L)) === b), b.toLong, dir)
      StreamingVecIndex.maybeMerge(spark, dir, threshold = 2, b.toLong)
    }
    def probeS(idx: SimilaritySearch.SrpIndex,
        corpus: org.apache.spark.sql.DataFrame) =
      graft.operators.HybridRetrieval.DenseLeg.Srp(idx, corpus)
        .probe(queries, k = 5)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    // reference: the batch build under the same (bits, seed) family —
    // sketching is row-local and deterministic, so streamed ≡ built
    def srpRebuild(corpus: org.apache.spark.sql.DataFrame) =
      SimilaritySearch.buildSrpIndex(corpus, bits = 128, seed = 7L,
        persist = false)
    val streamed = SimilaritySearch.loadAnnIndex(AnnCodec.Srp, spark, dir, persist = false)
    assert(streamed.n == emb.count() && streamed.idCol == "vec_id")
    val want = probeS(srpRebuild(emb), emb)
    assert(want.nonEmpty && probeS(streamed, emb) == want,
      "SRP streamed index diverged from same-family build")
    assert(StreamingVecIndex.liveSegments(spark, dir).exists(_ < 0),
      "expected a committed merge fold on the sketch relation")
    // replay idempotence (frozen family ⇒ byte-identical signatures)
    StreamingVecIndex.applyBatch(AnnCodec.Srp,
      emb.filter(pmod(col("vec_id"), lit(4L)) === 3), 3L, dir)
    assert(SimilaritySearch.loadAnnIndex(AnnCodec.Srp, spark, dir, persist = false)
      .sketched.count() == emb.count())
    // takedown on the streamed sketch; n tracks survivors; the batch
    // in-place compact refuses the streamed sketch layout
    val dead = Seq(7L, 11L)
    SimilaritySearch.deleteFromAnnIndex(spark, dir, dead)
    intercept[IllegalArgumentException] {
      SimilaritySearch.compactAnnIndex(spark, dir)
    }
    val survivors = emb.filter(!col("vec_id").isin(dead: _*))
    val tombstoned = SimilaritySearch.loadAnnIndex(AnnCodec.Srp, spark, dir, persist = false)
    assert(tombstoned.n == emb.count() - 2)
    assert(probeS(tombstoned, survivors) ==
      probeS(srpRebuild(survivors), survivors))
    // compactTo folds into the batch SRP artifact: probe-equal, metadata
    // (survivor n, bits, seed, id_col) travels
    val folded = java.nio.file.Files
      .createTempDirectory("graft-svec-srpfold").toString
    StreamingVecIndex.compactTo(AnnCodec.Srp, spark, dir, folded)
    val loadedFold = SimilaritySearch.loadAnnIndex(AnnCodec.Srp, spark, folded,
      persist = false)
    assert(loadedFold.n == emb.count() - 2 && loadedFold.idCol == "vec_id")
    assert(probeS(loadedFold, survivors) ==
      probeS(srpRebuild(survivors), survivors))
  }
}
