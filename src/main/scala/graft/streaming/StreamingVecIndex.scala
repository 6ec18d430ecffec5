package graft.streaming

import graft.operators.{InvertedIndex, SimilaritySearch}
import graft.operators.SimilaritySearch.{AnnCodec, IvfCodec}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Continuous ingest into a persisted ANN index — the dense twin of
  * [[StreamingLexIndex]], completing the streaming symmetry the lexical
  * artifact already had: each micro-batch of (id, embedding) vectors is
  * assigned under the artifact's FROZEN coarse quantizer (the
  * `appendToIvfIndex` discipline — published IVF practice retrains
  * offline, never per batch) and lands as `batch=<id>/cell=<c>` delta
  * partitions of the inverted file. [[load]] reads the live segments and
  * probes are bit-identical to a same-centers assignment of everything
  * ingested so far: same frozen centers → same cells → same candidate
  * sets → same exact re-rank (spec-pinned). Every persisted family
  * streams the same way: the verbs take a
  * [[SimilaritySearch.AnnCodec]] (float, IVF-SQ8, IVF-PQ, SRP — whose
  * flat `sketch/` segments are `batch=` partitions only), and the
  * `AnnCodec.Float` one-liners keep the float names.
  *
  * Exactly-once by IDEMPOTENCE (the [[StreamingLexIndex.applyBatch]]
  * mechanism): the batch-id partition is the write's identity and the
  * write uses dynamic partition overwrite, so an at-least-once replay
  * replaces its own partitions instead of double-inserting vectors.
  * Assignment is deterministic (frozen centers, pure per-row math), so a
  * replayed batch rewrites byte-identical content.
  *
  * 100 TB shape: per-batch work is one map-only assignment pass; the
  * artifact grows by delta partitions with no read-modify-write of
  * history, and the probe's cell equi-join still prunes on the `cell`
  * partition level under `batch=`. [[maybeMerge]] (wired into [[sink]]
  * via `mergeEvery`) keeps the segment count bounded with the same
  * manifest-committed fold as the lexical index; [[compactTo]] folds
  * everything into the compact [[SimilaritySearch.saveAnnIndex]] layout
  * offline. [[SimilaritySearch.deleteFromAnnIndex]] tombstones apply at
  * [[load]] exactly like the batch artifact's.
  */
object StreamingVecIndex {

  private def fsFor(spark: SparkSession, dir: String): (FileSystem, Path) =
    InvertedIndex.fsFor(spark, dir)

  /** Freeze a family's quantizer state for a streaming ingest directory
    * — the bootstrap step (run once, before the stream starts): persists
    * the codec's frozen state in its batch-artifact layout (`centers/`;
    * `centers/` + `codebook/`; SRP's `meta/` with n = −1). Train it
    * however fits the deployment (an offline build over a history sample
    * is the usual source) — streaming ingest NEVER retrains: frozen
    * centers make cells replay-stable, a frozen codebook or hyperplane
    * family makes codes replay-stable, and together they are what makes a
    * replayed batch idempotent and append ≡ rebuild exact.
    */
  def freeze[S](codec: AnnCodec[S, _], spark: SparkSession, dir: String,
      state: S): Unit =
    codec.writeState(spark, dir, state, None)

  /** [[freeze]] for the float family. */
  def freezeCenters(spark: SparkSession, dir: String,
      centers: Array[Array[Double]]): Unit =
    freeze(AnnCodec.Float, spark, dir, centers)

  /** Apply ONE micro-batch delta: encode the batch under the frozen state
    * (assign; assign + quantize; assign + PQ-encode; sketch — one fused
    * map-only pass) and write it as this batch's partitions of the
    * family's segment relation. Public so the idempotence contract is
    * directly testable — calling this twice with the same `batchId`
    * leaves the artifact byte-identical. SRP batches carry the frozen id
    * column ([[SimilaritySearch.SrpPlanes]]`.idCol`), so the sketch
    * schema is identical across batches.
    *
    * CALLER CONTRACT — vector ids are DISJOINT across batches (the
    * [[graft.operators.SimilaritySearch.appendToIvfIndex]] contract):
    * the partition-overwrite idempotence covers a SAME-batch-id replay
    * exactly; an upstream that re-delivers a record into a NEW batch id
    * duplicates its segment row, and the probe's rank cut carries no
    * defensive distinct (r14). Deduplicate upstream (the streaming dedup
    * operators exist for exactly this) or route re-ingest through
    * delete + compact + append.
    */
  def applyBatch[S](codec: AnnCodec[S, _], batch: DataFrame, batchId: Long,
      dir: String, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val (fs, root) = fsFor(spark, dir)
    codec.stateRelations.foreach { rel =>
      require(fs.exists(new Path(root, rel)),
        s"no frozen $rel at $dir/$rel — run freeze first (streaming " +
          "ingest never trains; a per-batch quantizer would break replay " +
          "idempotence and append-equals-rebuild exactness)")
    }
    val state = codec.readState(spark, dir, None)
    val rows = codec.encode(batch, state, idCol, vecCol)
    val sub = codec.segment
    val relIdCol = codec.idColumn(state)
    // opt-in disjoint-ids guard (SimilaritySearch.ValidateAppendsConf):
    // the existing side excludes THIS batch's own partitions — a
    // same-batch-id replay re-delivers the same ids by design (that is
    // the partition-overwrite idempotence) and must not trip the check —
    // and scopes to live segments so a crashed merge's orphans cannot
    // raise false violations
    if (SimilaritySearch.validateAppends(spark) &&
        fs.exists(new Path(root, sub))) {
      val raw = spark.read.parquet(s"$dir/$sub")
      val prior =
        if (fs.exists(new Path(root, "_segments")))
          raw.filter(col("batch")
            .isin(liveSegments(spark, dir).filterNot(_ == batchId): _*))
        else raw.filter(col("batch") =!= batchId)
      SimilaritySearch.assertDisjointAppend(
        prior.select(col(relIdCol).as("neighbor_id")),
        rows.select(col(relIdCol).as("neighbor_id")),
        s"StreamingVecIndex.applyBatch(batch=$batchId, $dir)")
    }
    val parts = if (sub == "sketch") Seq("batch") else Seq("batch", "cell")
    // cell-clustered before the partitioned write (the
    // SimilaritySearch.clusterByCell small-file discipline; batch is a
    // constant per delta, so clustering on cell alone decides the files)
    (if (sub == "sketch") rows
     else SimilaritySearch.clusterByCell(rows, relIdCol))
      .withColumn("batch", lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(parts: _*)
      .parquet(s"$dir/$sub")
    // once a merge manifest governs the directory, every new segment
    // must register or the manifest-filtered load would never see it;
    // set semantics keep a replayed batch a no-op here too
    if (fs.exists(new Path(root, "_segments"))) {
      val live = liveSegments(spark, dir)
      if (!live.contains(batchId)) writeManifest(fs, root, live :+ batchId)
    }
  }

  /** [[applyBatch]] for the float family. */
  def applyBatch(batch: DataFrame, batchId: Long, dir: String): Unit =
    applyBatch(AnnCodec.Float, batch, batchId, dir)

  /** The streamed SEGMENT RELATION of a directory: the IVF family's
    * cell-partitioned inverted file (`assigned/`, `batch=/cell=`) or
    * the SRP tier's flat sketch (`sketch/`, `batch=` only) — resolved
    * from the directory itself so every piece of the segment machinery
    * (listing, merge fold, orphan sweep) follows the layout and the two
    * can never interleave.
    */
  private def segSub(fs: FileSystem, root: Path): String =
    if (fs.exists(new Path(root, "sketch"))) "sketch" else "assigned"

  /** Cell-occupancy health of a LIVE streamed directory — the
    * [[SimilaritySearch.ivfSkewReport]] twin for the layout a stream
    * serves from (r18, verdict item 3: before this, drift on a live
    * stream was only observable by remembering to fold + report
    * manually). Scoped to exactly what [[load]] serves: live segments
    * per the merge manifest (a crashed merge's orphans or a folded
    * segment never inflate the counts) with tombstones applied — so by
    * construction the report equals the batch-layout report over the
    * [[compactTo]] fold (spec-pinned). One column-pruned pass over the
    * live relation, O(nlist) result.
    */
  def skewReport(spark: SparkSession, dir: String,
      reclusterSkewThreshold: Double = 4.0): SimilaritySearch.IvfSkewReport = {
    val nlist = SimilaritySearch.readCenters(spark, dir).length
    val counts = SimilaritySearch.applyAnnTombstones(spark, dir,
        SimilaritySearch.liveSegment(spark, dir, "assigned")
          .select(col("neighbor_id"), col("cell")), "neighbor_id")
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .collect().map(_.getLong(1)).toSeq
    SimilaritySearch.skewReportOver(nlist, counts, reclusterSkewThreshold)
  }

  /** The rotation ADVISORY: true when the live streamed directory's
    * skew has crossed the recluster threshold — the signal to schedule
    * [[retrainEpoch]] into a fresh directory. Advisory only, never
    * automatic: a rotation changes the SINK IDENTITY (new directory, new
    * checkpoint), which
    * must stay a caller decision — an auto-rotating sink would silently
    * strand the running stream's replay idempotence.
    */
  def needsRotation(spark: SparkSession, dir: String,
      reclusterSkewThreshold: Double = 4.0): Boolean =
    skewReport(spark, dir, reclusterSkewThreshold).needsRecluster

  /** The default rotation advice channel: one loud log line naming the
    * repair route. */
  private def logRotationAdvice(dir: String)(
      rep: SimilaritySearch.IvfSkewReport): Unit =
    println(s"GRAFT-ADVISORY StreamingVecIndex($dir): cell skew " +
      f"${rep.skew}%.2f crossed the recluster threshold " +
      s"(max ${rep.maxCellSize} vs mean ${rep.meanCellSize} over " +
      s"${rep.nlist} cells) — schedule an epoch rotation " +
      "(retrainEpoch into a fresh directory) and switch the sink; " +
      "rotation changes sink identity and is never automatic")

  /** The streaming writer: attach a checkpoint and `.start()` (or
    * `.trigger(AvailableNow)` for catch-up). foreachBatch because the
    * delta is batch-relational (one assignment pass + a partitioned
    * write). `mergeEvery` ≥ 2 turns on auto segment-merge.
    * `rotateCheckEvery` ≥ 1 turns on the drift advisory beside it:
    * every N batches the [[skewReport]] runs and, at
    * `rotateSkewThreshold`, `onRotationAdvice` fires (default: one
    * loud log line). Report-only by design — see [[needsRotation]] for
    * why rotation itself must stay a caller decision. The check pays
    * one column-pruned pass over the live relation per N batches;
    * size N to the ingest cadence (default off).
    */
  def sink(vecs: DataFrame, dir: String, checkpoint: String,
      idCol: String = "vec_id", vecCol: String = "embedding",
      mergeEvery: Int = 0, rotateCheckEvery: Int = 0,
      rotateSkewThreshold: Double = 4.0,
      onRotationAdvice: SimilaritySearch.IvfSkewReport => Unit = null)
      : DataStreamWriter[org.apache.spark.sql.Row] = {
    require(mergeEvery == 0 || mergeEvery >= 2,
      s"mergeEvery must be 0 (off) or >= 2, got $mergeEvery")
    require(rotateCheckEvery >= 0,
      s"rotateCheckEvery must be >= 0 (0 = off), got $rotateCheckEvery")
    val advise =
      Option(onRotationAdvice).getOrElse(logRotationAdvice(dir) _)
    vecs.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (b: DataFrame, id: Long) =>
        applyBatch(AnnCodec.Float, b, id, dir, idCol, vecCol)
        if (mergeEvery > 0) { maybeMerge(b.sparkSession, dir, mergeEvery, id); () }
        if (rotateCheckEvery > 0 && id % rotateCheckEvery == 0) {
          val rep = skewReport(b.sparkSession, dir, rotateSkewThreshold)
          if (rep.needsRecluster) advise(rep)
        }
      }
  }

  /** Live segment ids: the `_segments` manifest when present, else every
    * `batch=` partition on disk (the pre-merge layout, all live).
    */
  private[graft] def liveSegments(spark: SparkSession, dir: String): Seq[Long] = {
    val (fs, root) = fsFor(spark, dir)
    val manifest = new Path(root, "_segments")
    if (fs.exists(manifest)) {
      val in = fs.open(manifest)
      val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
        finally in.close()
      txt.split("\n").map(_.trim).filter(_.nonEmpty).map(_.toLong).toSeq
    } else listSegments(fs, root)
  }

  private def listSegments(fs: FileSystem, root: Path): Seq[Long] = {
    val p = new Path(root, segSub(fs, root))
    if (!fs.exists(p)) Nil
    else fs.listStatus(p).toSeq.map(_.getPath.getName)
      .filter(_.startsWith("batch="))
      .map(_.stripPrefix("batch=").toLong)
  }

  // atomic manifest cut-over — the StreamingLexIndex.writeManifest
  // mechanism (temp file + FileContext OVERWRITE rename), single relation
  private def writeManifest(fs: FileSystem, root: Path, ids: Seq[Long]): Unit = {
    val tmp = new Path(root, "_segments.tmp")
    val out = fs.create(tmp, true)
    try out.write(ids.sorted.mkString("", "\n", "\n").getBytes("UTF-8"))
    finally out.close()
    org.apache.hadoop.fs.FileContext.getFileContext(root.toUri, fs.getConf)
      .rename(tmp, new Path(root, "_segments"),
        org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** Auto segment-merge, manifest-committed — [[StreamingLexIndex
    * .maybeMerge]]'s commit order over the single `assigned` relation:
    * orphan sweep, stage the consolidated fold, rename in as the merged
    * segment (reserved negative id, invisible until commit), atomic
    * manifest swap (the commit point), best-effort source cleanup.
    * Assignment rows pass through VERBATIM (no re-aggregation — a vector
    * is one row in exactly one batch), so probes are bit-identical
    * across the merge; only file geometry changes.
    */
  def maybeMerge(spark: SparkSession, dir: String, threshold: Int,
      currentBatch: Long): Boolean = {
    require(threshold >= 2, s"merge threshold must be >= 2, got $threshold")
    val (fs, root) = fsFor(spark, dir)
    val sub = segSub(fs, root)
    val live = liveSegments(spark, dir)
    if (fs.exists(new Path(root, "_segments"))) {
      val liveSet = live.toSet
      listSegments(fs, root).filterNot(liveSet.contains).foreach { id =>
        fs.delete(new Path(root, s"$sub/batch=$id"), true)
      }
    }
    if (live.size < threshold) return false
    val fold = live.filter(_ < currentBatch)
    val keep = live.filterNot(fold.contains)
    val maxReal = fold.filter(_ >= 0)
    if (maxReal.isEmpty || fold.size < 2) return false
    val mid = -(maxReal.max + 1)
    if (!fs.exists(new Path(root, "_segments")))
      writeManifest(fs, root, live)
    val staging = new Path(root, "_merge-staging")
    fs.delete(staging, true)
    SimilaritySearch.writeSegment(spark.read.parquet(s"$dir/$sub")
      .filter(col("batch").isin(fold: _*)).drop("batch"), sub,
      new Path(staging, sub).toString)
    val target = new Path(root, s"$sub/batch=$mid")
    fs.delete(target, true) // stale target from a crashed earlier attempt
    if (!fs.rename(new Path(staging, sub), target))
      throw new java.io.IOException(s"merge rename failed: $target")
    fs.delete(staging, true)
    writeManifest(fs, root, mid +: keep) // the commit point
    fold.foreach { id =>
      fs.delete(new Path(root, s"$sub/batch=$id"), true)
    }
    true
  }

  /** [[SimilaritySearch.loadAnnIndex]] for the float family. */
  def load(spark: SparkSession, dir: String,
      persist: Boolean = true): SimilaritySearch.IvfIndex =
    SimilaritySearch.loadAnnIndex(AnnCodec.Float, spark, dir, persist)

  /** Fold the streamed layout into the compact batch artifact at
    * `outDir` — probes identical, only file geometry changes; the
    * offline half of the segment-merge rhythm. Tombstones fold into the
    * copy, and the PQ/SRP row count `n` is stamped from the live rows.
    */
  def compactTo[S, I](codec: AnnCodec[S, I], spark: SparkSession,
      dir: String, outDir: String): Unit =
    SimilaritySearch.saveAnnIndex(codec,
      SimilaritySearch.loadAnnIndex(codec, spark, dir, persist = false),
      outDir)

  // ---- epoch rotation: the STREAMED drift repair (r17) ----
  //
  // [[SimilaritySearch.retrainIvf]] repairs a persisted BATCH artifact
  // in place; a live stream cannot retrain in place at all (frozen
  // quantizers are what make replayed batches idempotent), so its
  // repair is a ROTATION: fold the live rows (manifest-scoped,
  // tombstones applied), re-train the coarse centers on a hash-ordered
  // sample of them, and write `outDir` as a FRESH streaming bootstrap —
  // the new frozen state plus the folded corpus re-encoded as segment
  // `batch=0`. The stream then resumes against `outDir` with
  // `applyBatch(batchId ≥ 1)` (new checkpoint — the rotation is a new
  // sink identity by design: replay idempotence is per-directory).
  // Probes of the new epoch equal a fresh build over everything live
  // (spec-pinned — the retrain ≡ rebuild argument carried to streams).
  // SRP rotates with [[compactTo]] alone: its geometry is
  // data-independent, there is nothing to re-train.
  //
  // Crash-safe BY CONSTRUCTION, not by staging: rotation never touches
  // the source directory, so any crash leaves the old epoch serving
  // untouched; a partial target either fails loudly at load (centers
  // without segments) or is safely overwritten by re-running the
  // rotation (freeze overwrites, the batch-0 delta replaces its own
  // partitions). The cut-over IS the caller switching serving
  // directories — the single commit point the in-place retrain verbs
  // cannot have.

  /** Rotate an IVF streamed directory into a fresh epoch under re-trained
    * centers; `nlist` 0 keeps the current cell count. The float segments
    * carry their vectors, so `corpus` may be omitted; the compressed
    * families' segments carry codes, so the caller supplies the float
    * `corpus`, matched to the LIVE ids (every live id must be present —
    * fails loudly otherwise) and re-encoded under the new centers. The
    * PQ codebook stays FROZEN ([[SimilaritySearch.retrainIvfPq]]'s
    * argument: codes are row-local, coarse repair invalidates nothing).
    */
  def retrainEpoch[S, I](codec: IvfCodec[S, I], spark: SparkSession,
      dir: String, outDir: String, corpus: Option[DataFrame] = None,
      nlist: Int = 0, seed: Long = 42L, trainSample: Int = 50000,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val (state, live, _) = codec.parts(
      SimilaritySearch.loadAnnIndex(codec, spark, dir, persist = false))
    val rows = corpus match {
      case Some(c) => SimilaritySearch.liveCorpusAmong(
        live.select(col("neighbor_id")), c, idCol, s"retrainEpoch($dir)")
      case None =>
        require(live.columns.contains("tv"),
          s"retrainEpoch($dir): $codec segments carry codes, not floats — " +
            "supply the float corpus")
        live.select(col("neighbor_id").as(idCol), col("tv").as(vecCol))
    }
    val k = if (nlist > 0) nlist else codec.centers(state).length
    freeze(codec, spark, outDir, codec.withCenters(state, SimilaritySearch
      .buildIvfIndex(rows, k, seed, idCol, vecCol, trainSample,
        persist = false).centers))
    applyBatch(codec, rows, 0L, outDir, idCol, vecCol)
  }
}
