package graft.streaming

import graft.operators.{InvertedIndex, SimilaritySearch}
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Continuous ingest into a persisted IVF index — the dense twin of
  * [[StreamingLexIndex]], completing the streaming symmetry the lexical
  * artifact already had: each micro-batch of (id, embedding) vectors is
  * assigned under the artifact's FROZEN coarse quantizer (the
  * `appendToIvfIndex` discipline — published IVF practice retrains
  * offline, never per batch) and lands as `batch=<id>/cell=<c>` delta
  * partitions of the inverted file. [[load]] reads the live segments and
  * probes are bit-identical to a same-centers assignment of everything
  * ingested so far: same frozen centers → same cells → same candidate
  * sets → same exact re-rank (spec-pinned).
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
  * everything into the compact [[SimilaritySearch.saveIvfIndex]] layout
  * offline. [[SimilaritySearch.deleteFromAnnIndex]] tombstones apply at
  * [[load]] exactly like the batch artifact's.
  */
object StreamingVecIndex {

  private def fsFor(spark: SparkSession, dir: String): (FileSystem, Path) =
    InvertedIndex.fsFor(spark, dir)

  /** Freeze the coarse quantizer for a streaming ingest directory —
    * the bootstrap step (run once, before the stream starts): persists
    * `centers/` in the [[SimilaritySearch.saveIvfIndex]] layout. Train
    * the centers however fits the deployment (an offline
    * `buildIvfIndex` over a history sample is the usual source) —
    * streaming ingest NEVER retrains; that is what makes a replayed
    * batch idempotent and append ≡ rebuild exact.
    */
  def freezeCenters(spark: SparkSession, dir: String,
      centers: Array[Array[Double]]): Unit =
    SimilaritySearch.writeCenters(spark, dir, centers)

  /** Apply ONE micro-batch delta: assign under the frozen centers, write
    * as this batch's partitions. Public so the idempotence contract is
    * directly testable — calling this twice with the same `batchId`
    * leaves the artifact byte-identical.
    *
    * CALLER CONTRACT — vector ids are DISJOINT across batches (the
    * [[graft.operators.SimilaritySearch.appendToIvfIndex]] contract):
    * the partition-overwrite idempotence covers a SAME-batch-id replay
    * exactly; an upstream that re-delivers a record into a NEW batch id
    * duplicates its inverted-file row, and the probe's rank cut carries
    * no defensive distinct (r14). Deduplicate upstream (the streaming
    * dedup operators exist for exactly this) or route re-ingest through
    * delete + compact + append.
    */
  def applyBatch(batch: DataFrame, batchId: Long, dir: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    writeDelta(batch, batchId, dir, idCol, "assigned", "neighbor_id",
      SimilaritySearch.assignToCells(batch,
        requireCenters(batch.sparkSession, dir), idCol, vecCol))

  /** The streamed SEGMENT RELATION of a directory: the IVF family's
    * cell-partitioned inverted file (`assigned/`, `batch=/cell=`) or
    * the SRP tier's flat sketch (`sketch/`, `batch=` only) — resolved
    * from the directory itself so every piece of the segment machinery
    * (listing, merge fold, orphan sweep, load scoping) follows the
    * layout and the two can never interleave.
    */
  private def segSub(fs: FileSystem, root: Path): String =
    if (fs.exists(new Path(root, "sketch"))) "sketch" else "assigned"

  private def requireCenters(spark: SparkSession,
      dir: String): Array[Array[Double]] = {
    val (fs, root) = fsFor(spark, dir)
    require(fs.exists(new Path(root, "centers")),
      s"no frozen quantizer at $dir/centers — run freezeCenters first " +
        "(streaming ingest never trains; a per-batch retrain would break " +
        "replay idempotence and append-equals-rebuild exactness)")
    SimilaritySearch.readCenters(spark, dir)
  }

  // the shared per-batch delta mechanics (guards, dynamic partition
  // overwrite, manifest registration) — ONE definition for every tier
  // (float/int8/PQ under `assigned`, SRP under `sketch`), so a fix to
  // the write options or the manifest race cannot desynchronize them;
  // only the row projection and the relation layout differ. `rows` is
  // by-name: quantizer loading/validation stays lazy behind the
  // empty-batch no-op.
  private def writeDelta(batch: DataFrame, batchId: Long, dir: String,
      idCol: String, sub: String, relIdCol: String,
      rows: => DataFrame): Unit = {
    if (batch.isEmpty) return
    val spark = batch.sparkSession
    val (fs, root) = fsFor(spark, dir)
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
        batch.select(col(idCol).as("neighbor_id")),
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

  /** [[applyBatch]] for the MEMORY-FLOOR tier: the batch quantizes to
    * the IVF-SQ8 inverted-file schema (per-row symmetric int8 — bytes,
    * scale, norm; 4× less resident than floats) and assigns under the
    * same frozen centers, so a deployment can STREAM into the
    * compressed serving artifact directly. Per-row quantization is
    * row-local, so the append ≡ rebuild exactness argument is unchanged
    * (same centers → same cells; same rows → same codes). The segment
    * machinery ([[maybeMerge]], manifest, orphan sweep) is
    * schema-agnostic and shared verbatim — rows pass through merges
    * untouched. Same disjoint-ids caller contract as [[applyBatch]].
    */
  def applyBatchInt8(batch: DataFrame, batchId: Long, dir: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    writeDelta(batch, batchId, dir, idCol, "assigned", "neighbor_id",
      SimilaritySearch // ONE pass: assign + quantize fused
        .assignAndQuantizeInt8(batch,
          requireCenters(batch.sparkSession, dir), idCol, vecCol))

  /** Freeze the PQ tier's SECOND quantizer beside the coarse centers —
    * the bootstrap for [[applyBatchPq]] (run once, before the stream):
    * persists `centers/` and `codebook/` in the
    * [[SimilaritySearch.saveIvfPqIndex]] layout. Train both offline
    * (usually one [[SimilaritySearch.buildIvfPqIndex]] over a history
    * sample); streaming ingest never retrains EITHER quantizer — frozen
    * centers make cells replay-stable, a frozen codebook makes codes
    * replay-stable, and together they are the append ≡ rebuild argument
    * on the compressed tier.
    */
  def freezePq(spark: SparkSession, dir: String,
      centers: Array[Array[Double]],
      book: SimilaritySearch.PqCodebook): Unit = {
    freezeCenters(spark, dir, centers)
    SimilaritySearch.writeCodebook(spark, book, dir)
  }

  /** [[applyBatch]] for the 32×-compressed tier: the batch assigns under
    * the frozen centers AND encodes against the frozen codebook in one
    * fused pass ([[SimilaritySearch.assignAndEncodePq]]), landing in the
    * IVF-PQ inverted-file schema (neighbor_id, cell, codes, rnorm).
    * Encoding is row-local under a frozen codebook, so the idempotence
    * and append-equals-rebuild arguments carry over verbatim; the
    * segment machinery (merge, manifest, orphan sweep, tombstones) is
    * schema-agnostic and shared. Same disjoint-ids caller contract.
    */
  def applyBatchPq(batch: DataFrame, batchId: Long, dir: String,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    writeDelta(batch, batchId, dir, idCol, "assigned", "neighbor_id", {
      val spark = batch.sparkSession
      val (fs, root) = fsFor(spark, dir)
      require(fs.exists(new Path(root, "codebook")),
        s"no frozen PQ codebook at $dir/codebook — run freezePq first " +
          "(streaming ingest never trains; a per-batch codebook would " +
          "break replay idempotence and make codes batch-dependent)")
      SimilaritySearch.assignAndEncodePq(batch,
        requireCenters(spark, dir),
        SimilaritySearch.readCodebook(spark, dir), idCol, vecCol)
    })

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
    val counts = liveAssigned(spark, dir, Seq("neighbor_id", "cell"),
        persist = false)
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .collect().map(_.getLong(1)).toSeq
    SimilaritySearch.skewReportOver(nlist, counts, reclusterSkewThreshold)
  }

  /** The rotation ADVISORY: true when the live streamed directory's
    * skew has crossed the recluster threshold — the signal to schedule
    * [[retrainEpoch]]/[[retrainEpochInt8]]/[[retrainEpochPq]] into a
    * fresh directory. Advisory only, never automatic: a rotation
    * changes the SINK IDENTITY (new directory, new checkpoint), which
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
      "(retrainEpoch* into a fresh directory) and switch the sink; " +
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
        applyBatch(b, id, dir, idCol, vecCol)
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
    val foldRows = spark.read.parquet(s"$dir/$sub")
      .filter(col("batch").isin(fold: _*)).drop("batch")
    val foldW =
      (if (sub == "sketch") foldRows
       else SimilaritySearch.clusterByCell(foldRows)) // small-file discipline
        .write.mode("overwrite")
    (if (sub == "sketch") foldW else foldW.partitionBy("cell"))
      .parquet(new Path(staging, sub).toString)
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

  /** Assemble the live index: the frozen centers plus the live segments'
    * assignment rows (`batch` dropped — it is the write's identity, not
    * index data), with any [[SimilaritySearch.deleteFromAnnIndex]]
    * tombstones applied exactly (the batch artifact's load contract).
    */
  def load(spark: SparkSession, dir: String,
      persist: Boolean = true): SimilaritySearch.IvfIndex =
    SimilaritySearch.IvfIndex(SimilaritySearch.readCenters(spark, dir),
      liveAssigned(spark, dir, Seq("neighbor_id", "tv", "cell"), persist))

  // the shared live-index assembly (manifest scoping, batch-identity
  // drop, tombstone application, persist) — one definition for every
  // tier; only the relation, projected column set, and id column differ
  private def liveAssigned(spark: SparkSession, dir: String,
      cols: Seq[String], persist: Boolean, sub: String = "assigned",
      relIdCol: String = "neighbor_id"): DataFrame = {
    val (fs, root) = fsFor(spark, dir)
    val raw = spark.read.parquet(s"$dir/$sub")
    val scoped =
      if (fs.exists(new Path(root, "_segments")))
        raw.filter(col("batch").isin(liveSegments(spark, dir): _*))
      else raw
    val dropped = scoped.drop("batch")
    val projected =
      if (cols.isEmpty) dropped else dropped.select(cols.map(col): _*)
    val assigned = SimilaritySearch.applyAnnTombstones(spark, dir,
      projected, relIdCol)
    if (persist) assigned.persist() else assigned
  }

  /** [[load]] for an [[applyBatchInt8]]-ingested directory: the same
    * live-segment scoping and tombstone application, assembled as the
    * IVF-SQ8 serving index.
    */
  def loadInt8(spark: SparkSession, dir: String,
      persist: Boolean = true): SimilaritySearch.IvfInt8Index =
    SimilaritySearch.IvfInt8Index(SimilaritySearch.readCenters(spark, dir),
      liveAssigned(spark, dir,
        Seq("neighbor_id", "cell", "scale", "qnorm", "qv"), persist))

  /** Fold the streamed layout into the compact batch artifact at
    * `outDir` — probes identical, only file geometry changes; the
    * offline half of the segment-merge rhythm.
    */
  def compactTo(spark: SparkSession, dir: String, outDir: String): Unit =
    SimilaritySearch.saveIvfIndex(load(spark, dir, persist = false), outDir)

  /** [[compactTo]] for an int8-ingested directory. */
  def compactToInt8(spark: SparkSession, dir: String, outDir: String): Unit =
    SimilaritySearch.saveIvfInt8Index(loadInt8(spark, dir, persist = false),
      outDir)

  /** [[load]] for an [[applyBatchPq]]-ingested directory: the same
    * live-segment scoping and tombstone application, assembled as the
    * IVF-PQ serving index with the frozen codebook. `n` — the auto
    * refine dial's input — counts the LIVE relation (one bounded
    * load-time job, the [[SimilaritySearch.loadIvfPqIndex]] survivors
    * discipline): a streamed artifact has no single build-time n, and
    * the dial must describe what the probe can actually see.
    */
  def loadPq(spark: SparkSession, dir: String,
      persist: Boolean = true): SimilaritySearch.IvfPqIndex = {
    val assigned = liveAssigned(spark, dir,
      Seq("neighbor_id", "codes", "rnorm", "cell"), persist)
    SimilaritySearch.IvfPqIndex(SimilaritySearch.readCenters(spark, dir),
      SimilaritySearch.readCodebook(spark, dir), assigned,
      n = assigned.count())
  }

  /** [[compactTo]] for a PQ-ingested directory — folds into the batch
    * [[SimilaritySearch.saveIvfPqIndex]] layout (codes, codebook, and
    * the survivor-counted n metadata travel with it).
    */
  def compactToPq(spark: SparkSession, dir: String, outDir: String): Unit =
    SimilaritySearch.saveIvfPqIndex(loadPq(spark, dir, persist = false),
      outDir)

  /** Freeze the SRP tier's hyperplane family — the bootstrap for
    * [[applyBatchSrp]] (run once, before the stream): persists `meta/`
    * in the [[SimilaritySearch.saveSrpIndex]] layout with n = −1 (a
    * streamed artifact has no single build-time n; [[loadSrp]] counts
    * the live relation — the dial must describe the served scan). The
    * hyperplanes themselves are hash-derived from (bits, seed), so
    * freezing the PAIR freezes the family: every batch sketches
    * against identical planes, which is the replay-idempotence and
    * append ≡ rebuild argument on this tier (the sketch UDF is
    * row-local and deterministic).
    */
  def freezeSrp(spark: SparkSession, dir: String, bits: Int = 128,
      seed: Long = 42L, idCol: String = "vec_id"): Unit = {
    require(bits % 64 == 0 && bits > 0,
      s"bits=$bits must be a positive multiple of 64")
    import spark.implicits._
    Seq((-1L, bits, seed, idCol)).toDF("n", "bits", "seed", "id_col")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** [[applyBatch]] for the LEANEST tier (16 bytes/vector at the
    * 128-bit default): the batch sketches under the frozen (bits, seed)
    * family from `meta/` and lands as flat `batch=` delta partitions of
    * the `sketch/` relation — no cell level (SRP is the brute-scan
    * tier). The segment machinery (manifest, merge, orphan sweep,
    * tombstones) resolves the layout from the directory and is shared
    * verbatim. The batch's id column is the FROZEN `id_col` from meta —
    * the sketch schema must be identical across batches.
    */
  def applyBatchSrp(batch: DataFrame, batchId: Long, dir: String,
      vecCol: String = "embedding"): Unit = {
    if (batch.isEmpty) return // the other tiers' empty-batch no-op
    val (bits, seed, idCol) = srpMeta(batch.sparkSession, dir)
    writeDelta(batch, batchId, dir, idCol, "sketch", idCol,
      SimilaritySearch.srpSketch(batch, bits, seed, idCol, vecCol))
  }

  private def srpMeta(spark: SparkSession,
      dir: String): (Int, Long, String) = {
    val (fs, root) = fsFor(spark, dir)
    require(fs.exists(new Path(root, "meta")),
      s"no frozen hyperplane family at $dir/meta — run freezeSrp first " +
        "(streaming ingest never re-seeds; per-batch planes would make " +
        "signatures batch-dependent and break replay idempotence)")
    val m = spark.read.parquet(s"$dir/meta").collect()(0)
    (m.getAs[Int]("bits"), m.getAs[Long]("seed"), m.getAs[String]("id_col"))
  }

  /** [[load]] for an [[applyBatchSrp]]-ingested directory: live-segment
    * scoping and tombstone application on the flat sketch, assembled as
    * the [[SimilaritySearch.SrpIndex]] with n counted from the live
    * relation (one bounded load-time job — the loadPq discipline).
    */
  def loadSrp(spark: SparkSession, dir: String,
      persist: Boolean = true): SimilaritySearch.SrpIndex = {
    val (bits, seed, idCol) = srpMeta(spark, dir)
    val sk = liveAssigned(spark, dir, Nil, persist, sub = "sketch",
      relIdCol = idCol)
    SimilaritySearch.SrpIndex(sk, sk.count(), bits, seed, idCol)
  }

  /** [[compactTo]] for an SRP-ingested directory — folds into the batch
    * [[SimilaritySearch.saveSrpIndex]] layout (the survivor-counted n
    * and the (bits, seed, id_col) metadata travel with it).
    */
  def compactToSrp(spark: SparkSession, dir: String, outDir: String): Unit =
    SimilaritySearch.saveSrpIndex(loadSrp(spark, dir, persist = false),
      outDir)

  // ---- epoch rotation: the STREAMED drift repair (r17) ----
  //
  // [[SimilaritySearch.retrainIvf]] repairs a persisted BATCH artifact
  // in place; a live stream cannot retrain in place at all (frozen
  // quantizers are what make replayed batches idempotent), so its
  // repair is a ROTATION: fold the live rows (manifest-scoped,
  // tombstones applied), re-train the quantizer on a hash-ordered
  // sample of them, and write `outDir` as a FRESH streaming bootstrap —
  // the new frozen quantizer plus the folded corpus re-assigned as
  // segment `batch=0`. The stream then resumes against `outDir` with
  // `applyBatch(batchId ≥ 1)` (new checkpoint — the rotation is a new
  // sink identity by design: replay idempotence is per-directory).
  // Probes of the new epoch equal a fresh build over everything live
  // (spec-pinned — the retrain ≡ rebuild argument carried to streams).
  // SRP rotates with [[compactToSrp]] alone: its geometry is
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

  /** Rotate a float streamed directory into a fresh epoch under
    * re-trained centers. `nlist` 0 keeps the current cell count. */
  def retrainEpoch(spark: SparkSession, dir: String, outDir: String,
      nlist: Int = 0, seed: Long = 42L, trainSample: Int = 50000): Unit = {
    val live = load(spark, dir, persist = false).assigned
      .select(col("neighbor_id").as("vec_id"), col("tv").as("embedding"))
    val k =
      if (nlist > 0) nlist else SimilaritySearch.readCenters(spark, dir).length
    freezeCenters(spark, outDir, SimilaritySearch
      .buildIvfIndex(live, k, seed, trainSample = trainSample,
        persist = false).centers)
    applyBatch(live, 0L, outDir)
  }

  /** [[retrainEpoch]] for an int8-ingested directory. The segments
    * carry codes, not floats, so the caller supplies the float
    * `corpus`; rows are matched to the LIVE ids (every live id must be
    * present — fails loudly otherwise) and re-quantized under the new
    * centers.
    */
  def retrainEpochInt8(spark: SparkSession, dir: String, outDir: String,
      corpus: DataFrame, nlist: Int = 0, seed: Long = 42L,
      trainSample: Int = 50000, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val liveIds = loadInt8(spark, dir, persist = false).assigned
      .select(col("neighbor_id"))
    val liveCorpus = SimilaritySearch.liveCorpusAmong(liveIds, corpus,
      idCol, s"retrainEpochInt8($dir)")
    val k =
      if (nlist > 0) nlist else SimilaritySearch.readCenters(spark, dir).length
    freezeCenters(spark, outDir, SimilaritySearch
      .buildIvfIndex(liveCorpus, k, seed, idCol, vecCol, trainSample,
        persist = false).centers)
    applyBatchInt8(liveCorpus, 0L, outDir, idCol, vecCol)
  }

  /** [[retrainEpoch]] for a PQ-ingested directory. The codebook stays
    * FROZEN by default ([[SimilaritySearch.retrainIvfPq]]'s argument:
    * codes are row-local, coarse repair invalidates nothing);
    * `retrainCodebook = true` re-trains both quantizers on the live
    * rows for value drift.
    */
  def retrainEpochPq(spark: SparkSession, dir: String, outDir: String,
      corpus: DataFrame, nlist: Int = 0, seed: Long = 42L,
      trainSample: Int = 50000, retrainCodebook: Boolean = false,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit = {
    val pq = loadPq(spark, dir, persist = false)
    val liveCorpus = SimilaritySearch.liveCorpusAmong(
      pq.assigned.select(col("neighbor_id")), corpus, idCol,
      s"retrainEpochPq($dir)")
    val k = if (nlist > 0) nlist else pq.centers.length
    val centers = SimilaritySearch.buildIvfIndex(liveCorpus, k, seed,
      idCol, vecCol, trainSample, persist = false).centers
    val book =
      if (retrainCodebook)
        SimilaritySearch.trainPqCodebook(liveCorpus, pq.book.m,
          pq.book.centers.head.length, seed, idCol, vecCol)
      else pq.book
    freezePq(spark, outDir, centers, book)
    applyBatchPq(liveCorpus, 0L, outDir, idCol, vecCol)
  }
}
