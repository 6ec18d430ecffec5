package graft

import graft.operators.SimilaritySearch
import graft.operators.SimilaritySearch.AnnCodec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The retrain lifecycle (r17): re-training a persisted ANN artifact's
  * coarse quantizer on its LIVE rows is the drift repair — the one
  * lifecycle stage the frozen-quantizer ingest paths (append, streaming)
  * could not own. The load-bearing contracts:
  *   - retrain ≡ fresh build: on an undrifted artifact, retraining
  *     reproduces a fresh build of the same corpus bit-exactly (hash-
  *     ordered sample + deterministic k-means + map-only re-assign);
  *   - retrain(appended artifact) ≡ fresh build of the union — the
  *     repair claim: after drifted appends, one retrain gives exactly
  *     the index a from-scratch rebuild would;
  *   - tombstones fold: dead ids neither train the new geometry nor
  *     survive into the rewritten inverted file;
  *   - streamed layouts are refused (route through compactTo);
  *   - compressed tiers re-quantize from the supplied corpus, which
  *     must cover every live id (a missing id fails loudly — deletes
  *     go through deleteFromAnnIndex, never a retrain side door).
  */
class RetrainSpec extends SparkSpec {

  private lazy val emb = Tables.embeddings(spark, sf001).cache()

  private def tmp(tag: String): String =
    java.nio.file.Files.createTempDirectory(s"graft-retrain-$tag").toString

  private def probeRows(idx: SimilaritySearch.IvfIndex) =
    SimilaritySearch.ivfProbe(idx, emb.filter(col("vec_id") < 10),
        k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq

  test("retrainIvf on an undrifted artifact reproduces a fresh build bit-exactly") {
    val dir = tmp("ivf-parity")
    val built = SimilaritySearch.buildIvfIndex(emb, nlist = 8, persist = false)
    SimilaritySearch.saveIvfIndex(built, dir)
    SimilaritySearch.retrainIvf(spark, dir) // nlist = 0 keeps the 8 cells
    val re = SimilaritySearch.loadIvfIndex(spark, dir, persist = false)
    // same centers bit-exactly: the hash-ordered TakeOrdered sample is
    // partitioning-independent and k-means trains deterministically on it
    assert(re.centers.length == 8)
    assert(re.centers.map(_.toSeq).toSeq == built.centers.map(_.toSeq).toSeq,
      "retrained centers diverged from the fresh build's")
    assert(probeRows(re) == probeRows(built),
      "retrained probe diverged from the fresh build's")
  }

  test("retrainIvf after drifted appends equals a fresh build of the union corpus") {
    import spark.implicits._
    val dir = tmp("ivf-drift")
    val sliceA = emb.filter(col("vec_id") < 300)
      .select(col("vec_id"), col("embedding"))
    SimilaritySearch.saveIvfIndex(
      SimilaritySearch.buildIvfIndex(sliceA, nlist = 8, persist = false), dir)
    // drifted arrivals: a tight off-distribution clump the frozen
    // quantizer piles into one cell
    val dim = 64
    val drifted = (10000L until 10400L).map { i =>
      (i, Array.tabulate(dim)(j =>
        5.0f + (if (j == 0) (i % 7) * 1e-4f else 0f)))
    }.toDF("vec_id", "embedding")
    SimilaritySearch.appendToIvfIndex(spark, dir, drifted)
    assert(SimilaritySearch.ivfSkewReport(spark, dir).needsRecluster,
      "drifted append should trip the recluster trigger")
    SimilaritySearch.retrainIvf(spark, dir)
    // the repair claim: the retrained artifact IS the from-scratch
    // rebuild of everything ingested, not an approximation of it — so
    // whatever recall/balance a fresh build delivers on this corpus,
    // the retrained artifact delivers identically
    val union = sliceA.unionByName(drifted)
    val fresh = SimilaritySearch.buildIvfIndex(union, nlist = 8,
      persist = false)
    val re = SimilaritySearch.loadIvfIndex(spark, dir, persist = false)
    assert(re.centers.map(_.toSeq).toSeq == fresh.centers.map(_.toSeq).toSeq)
    assert(probeRows(re) == probeRows(fresh))
  }

  test("retrainIvf folds tombstones: dead ids neither train nor survive") {
    val dir = tmp("ivf-tomb")
    SimilaritySearch.saveIvfIndex(
      SimilaritySearch.buildIvfIndex(emb, nlist = 8, persist = false), dir)
    SimilaritySearch.deleteFromAnnIndex(
      emb.filter(col("vec_id") % 5 === 0).select(col("vec_id")), dir)
    SimilaritySearch.retrainIvf(spark, dir)
    // tombstone relation dropped (folded), survivors only
    assert(!new java.io.File(s"$dir/tombstones").exists())
    val re = SimilaritySearch.loadIvfIndex(spark, dir, persist = false)
    val ids = re.assigned.select(col("neighbor_id")).collect()
      .map(_.getLong(0))
    assert(ids.length == 400 && ids.forall(_ % 5 != 0))
    // ≡ a fresh build over the surviving corpus — the dead rows did not
    // vote on the new centers
    val fresh = SimilaritySearch.buildIvfIndex(
      emb.filter(col("vec_id") % 5 =!= 0), nlist = 8, persist = false)
    assert(re.centers.map(_.toSeq).toSeq == fresh.centers.map(_.toSeq).toSeq)
  }

  test("retrainIvf refuses a streamed layout and routes through compactTo") {
    import graft.streaming.StreamingVecIndex
    val dir = tmp("ivf-streamed")
    StreamingVecIndex.freezeCenters(spark, dir,
      SimilaritySearch.buildIvfIndex(emb, nlist = 4, persist = false).centers)
    StreamingVecIndex.applyBatch(emb.filter(col("vec_id") < 100), 0L, dir)
    val e = intercept[IllegalArgumentException] {
      SimilaritySearch.retrainIvf(spark, dir)
    }
    assert(e.getMessage.contains("compactTo"))
    // the documented route works end-to-end: fold, then retrain the fold
    val out = tmp("ivf-streamed-fold")
    StreamingVecIndex.compactTo(AnnCodec.Float, spark, dir, out)
    SimilaritySearch.retrainIvf(spark, out)
    assert(SimilaritySearch.loadIvfIndex(spark, out, persist = false)
      .assigned.count() == 100)
  }

  test("retrainIvfInt8 parity and nlist re-shape") {
    val dir = tmp("int8")
    SimilaritySearch.saveAnnIndex(AnnCodec.Int8,
      SimilaritySearch.buildIvfInt8Index(emb, nlist = 8, persist = false), dir)
    // re-shape to 4 cells while retraining — the √n policy path as the
    // corpus outgrows its original cell count
    SimilaritySearch.retrainIvfInt8(spark, dir, emb, nlist = 4)
    val re = SimilaritySearch.loadAnnIndex(AnnCodec.Int8, spark, dir, persist = false)
    val fresh = SimilaritySearch.buildIvfInt8Index(emb, nlist = 4,
      persist = false)
    assert(re.centers.length == 4)
    assert(re.centers.map(_.toSeq).toSeq == fresh.centers.map(_.toSeq).toSeq)
    val got = SimilaritySearch.ivfProbeInt8(re,
        emb.filter(col("vec_id") < 10), k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    val want = SimilaritySearch.ivfProbeInt8(fresh,
        emb.filter(col("vec_id") < 10), k = 5, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
    assert(got.nonEmpty && got == want)
  }

  test("retrainIvfPq: frozen codebook survives, coarse geometry retrains, meta n refreshes") {
    val dir = tmp("pq")
    val built = SimilaritySearch.buildIvfPqIndex(emb, nlist = 8,
      persist = false)
    SimilaritySearch.saveAnnIndex(AnnCodec.Pq, built, dir)
    SimilaritySearch.deleteFromAnnIndex(
      emb.filter(col("vec_id") >= 450).select(col("vec_id")), dir)
    SimilaritySearch.retrainIvfPq(spark, dir, emb)
    val re = SimilaritySearch.loadAnnIndex(AnnCodec.Pq, spark, dir, persist = false)
    // the codebook is FROZEN by default: codes are row-local, so coarse
    // drift repair never invalidates them
    assert(re.book.centers.map(_.map(_.toSeq).toSeq).toSeq ==
      built.book.centers.map(_.map(_.toSeq).toSeq).toSeq,
      "default retrain must keep the codebook frozen")
    // survivors only, meta n refreshed to the live count
    assert(re.n == 450 && re.assigned.count() == 450)
    // ≡ fresh coarse centers over the survivors
    val fresh = SimilaritySearch.buildIvfIndex(
      emb.filter(col("vec_id") < 450), nlist = 8, persist = false)
    assert(re.centers.map(_.toSeq).toSeq == fresh.centers.map(_.toSeq).toSeq)
    // retrainCodebook = true re-trains BOTH quantizers: on the same live
    // rows and seed this reproduces a fresh full build's codebook
    SimilaritySearch.retrainIvfPq(spark, dir, emb, retrainCodebook = true)
    val re2 = SimilaritySearch.loadAnnIndex(AnnCodec.Pq, spark, dir, persist = false)
    val freshPq = SimilaritySearch.buildIvfPqIndex(
      emb.filter(col("vec_id") < 450), nlist = 8, persist = false)
    assert(re2.book.centers.map(_.map(_.toSeq).toSeq).toSeq ==
      freshPq.book.centers.map(_.map(_.toSeq).toSeq).toSeq)
  }

  test("retrainEpoch rotates a streamed dir into a fresh epoch that equals a fresh build and keeps ingesting") {
    import graft.streaming.StreamingVecIndex
    import graft.operators.HybridRetrieval.DenseLeg
    val e = emb.select(col("vec_id"), col("embedding"))
    val survivors = e.filter(col("vec_id") < 400 && col("vec_id") =!= 7L)
    val wave = e.filter(col("vec_id") >= 400 && col("vec_id") < 450)
    // the new epoch IS a fresh build over the live rows (re-shaped 4→8)
    val fresh = SimilaritySearch.buildIvfIndex(survivors, nlist = 8,
      persist = false)
    // the float segments carry their vectors; the int8 ones carry codes,
    // so that rotation re-quantizes from the supplied corpus
    def rotation[I](fam: SimilaritySearch.CentersCodec[I],
        corpus: Option[DataFrame])(leg: I => DenseLeg): Unit = {
      val s1 = tmp(s"epoch-$fam-src")
      val s2 = tmp(s"epoch-$fam-out")
      def rows(idx: I) = leg(idx).probe(e.filter(col("vec_id") < 10), k = 5,
          nprobe = Some(2))
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq
      def sameCenters(corpus: DataFrame) = fam.assemble(fresh.centers,
        fam.encode(corpus, fresh.centers, "vec_id", "embedding"), -1L)
      StreamingVecIndex.freeze(fam, spark, s1,
        SimilaritySearch.buildIvfIndex(e.filter(col("vec_id") < 200),
          nlist = 4, persist = false).centers)
      StreamingVecIndex.applyBatch(fam, e.filter(col("vec_id") < 200), 0L, s1)
      StreamingVecIndex.applyBatch(fam,
        e.filter(col("vec_id") >= 200 && col("vec_id") < 400), 1L, s1)
      SimilaritySearch.deleteFromAnnIndex(spark, s1, Seq(7L))
      StreamingVecIndex.retrainEpoch(fam, spark, s1, s2, corpus, nlist = 8)
      val re = SimilaritySearch.loadAnnIndex(fam, spark, s2, persist = false)
      assert(fam.parts(re)._1.map(_.toSeq).toSeq ==
        fresh.centers.map(_.toSeq).toSeq, s"$fam: centers diverged")
      assert(rows(re) == rows(sameCenters(survivors)), s"$fam: probe diverged")
      // and the stream RESUMES against the rotated epoch: a new wave
      // appends under the new frozen centers, probing exactly like a
      // same-centers assignment of the union (the append ≡ rebuild
      // contract, now on the post-rotation quantizer)
      StreamingVecIndex.applyBatch(fam, wave, 1L, s2)
      val after = SimilaritySearch.loadAnnIndex(fam, spark, s2,
        persist = false)
      assert(fam.parts(after)._2.count() == 399 + 50)
      assert(rows(after) == rows(sameCenters(survivors.unionByName(wave))),
        s"$fam: resumed probe diverged")
    }
    rotation(AnnCodec.Float, None)(DenseLeg.Float32(_))
    rotation(AnnCodec.Int8, Some(e))(DenseLeg.Int8(_))
  }

  test("retrainEpochPq keeps the frozen codebook and serves the rotated epoch") {
    import graft.streaming.StreamingVecIndex
    val s1 = tmp("epochpq-src")
    val s2 = tmp("epochpq-out")
    val e = emb.select(col("vec_id"), col("embedding"))
    val boot = SimilaritySearch.buildIvfPqIndex(
      e.filter(col("vec_id") < 200), nlist = 4, persist = false)
    StreamingVecIndex.freeze(AnnCodec.Pq, spark, s1, (boot.centers, boot.book))
    StreamingVecIndex.applyBatch(AnnCodec.Pq, e.filter(col("vec_id") < 200), 0L, s1)
    StreamingVecIndex.applyBatch(AnnCodec.Pq,
      e.filter(col("vec_id") >= 200 && col("vec_id") < 400), 1L, s1)
    StreamingVecIndex.retrainEpoch(AnnCodec.Pq, spark, s1, s2, Some(e),
      nlist = 8)
    val re = SimilaritySearch.loadAnnIndex(AnnCodec.Pq, spark, s2, persist = false)
    // frozen book travels; coarse geometry re-trains to the fresh build
    assert(re.book.centers.map(_.map(_.toSeq).toSeq).toSeq ==
      boot.book.centers.map(_.map(_.toSeq).toSeq).toSeq)
    assert(re.n == 400)
    val fresh = SimilaritySearch.buildIvfIndex(
      e.filter(col("vec_id") < 400), nlist = 8, persist = false)
    assert(re.centers.map(_.toSeq).toSeq == fresh.centers.map(_.toSeq).toSeq)
    // re-encoding the same rows under the same frozen book is
    // deterministic: probe the rotated epoch vs a fresh same-dials PQ
    // assignment of the live rows
    val want = SimilaritySearch.IvfPqIndex(fresh.centers, boot.book,
      SimilaritySearch.assignAndEncodePq(e.filter(col("vec_id") < 400),
        fresh.centers, boot.book, "vec_id", "embedding"), n = 400)
    def pqRows(idx: SimilaritySearch.IvfPqIndex) =
      SimilaritySearch.ivfProbePq(idx, e.filter(col("vec_id") < 5),
          k = 5, nprobe = 3)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .toSeq
    assert(pqRows(re).nonEmpty && pqRows(re) == pqRows(want))
  }

  test("compressed retrain fails loudly when the corpus is missing a live id") {
    val dir = tmp("missing")
    SimilaritySearch.saveAnnIndex(AnnCodec.Int8,
      SimilaritySearch.buildIvfInt8Index(emb, nlist = 4, persist = false), dir)
    val e = intercept[IllegalArgumentException] {
      SimilaritySearch.retrainIvfInt8(spark, dir,
        emb.filter(col("vec_id") =!= 7L))
    }
    assert(e.getMessage.contains("missing from the supplied corpus") &&
      e.getMessage.contains("7"))
  }

  test("a torn multi-relation cut-over is refused at load, and a completed one clears the marker") {
    val dir = tmp("torn")
    SimilaritySearch.saveIvfIndex(
      SimilaritySearch.buildIvfIndex(emb, nlist = 8, persist = false), dir)
    // simulate a crash INSIDE the cut-over window: the pending marker a
    // retrain drops before its first rename is still on the artifact
    val (fs, root) = graft.operators.InvertedIndex.fsFor(spark, dir)
    val marker = new org.apache.hadoop.fs.Path(root, "_graft_cutover_pending")
    val out = fs.create(marker, true)
    out.write("retrain".getBytes("UTF-8")); out.close()
    val e = intercept[IllegalStateException] {
      SimilaritySearch.loadIvfIndex(spark, dir, persist = false)
    }
    assert(e.getMessage.contains("retrain") &&
      e.getMessage.contains("did not complete"),
      s"torn-state refusal should name the verb and the tear: ${e.getMessage}")
    fs.delete(marker, false)
    // a COMPLETED retrain brackets the window itself: marker gone, load
    // serves
    SimilaritySearch.retrainIvf(spark, dir)
    assert(!fs.exists(marker), "completed cut-over left the marker behind")
    assert(SimilaritySearch.loadIvfIndex(spark, dir, persist = false)
      .centers.length == 8)
  }
}
