package graft.perfbench

import graft.functions.TextOps
import graft.ml.{MlOps, Reduce2d}
import graft.operators.{Dedup, HybridRetrieval, InvertedIndex, SeqPack, SimilaritySearch, VecAgg}
import graft.pipelines.{CorpusCuration, DeepfakeAnalysis}
import graft.sources.{Embedder, ImageIngest, StubEmbedder}
import graft.streaming.{StreamingLexIndex, StreamingVecIndex}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The one adapter between the benchmark and the engine: every call into
  * engine code is made here, inside a span named after the module it
  * enters. Each function forces the result it returns, so the span covers
  * the work and not only the building of a lazy plan.
  */
object Engine {
  import Trace.span

  /** The session every workload runs in: `local[cores]`, shuffle
    * partitions = cores (as the engine's own harness sets them), the
    * engine's expression extensions, scratch space under `dir`. */
  def session(cores: Int, dir: String): SparkSession = {
    val s = SparkSession.builder().master(s"local[$cores]").appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$dir/warehouse")
      .config("spark.local.dir", s"$dir/local")
      .withExtensions(new graft.expressions.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  // ---- sources -------------------------------------------------------

  /** Decoded and corrupt image counts, and the number of groups seen. */
  def decodeImages(spark: SparkSession, root: String): (Long, Long, Long) =
    span("sources.ImageIngest") {
      val imgs = ImageIngest.withGenImageGroup(ImageIngest.scanImages(spark, root))
      val groups = imgs.select(col("group")).distinct().count()
      val r = ImageIngest.decodeImages(imgs)
        .agg(count(when(col("ok"), 1)), count(when(!col("ok"), 1))).head()
      (r.getLong(0), r.getLong(1), groups)
    }

  /** Embeds every scanned image; returns (rows, min dim, max dim). */
  def embedImages(spark: SparkSession, root: String, dim: Int): (Long, Int, Int) =
    span("sources.Embedder") {
      val imgs = span("sources.ImageIngest")(ImageIngest.scanImages(spark, root))
      val r = Embedder.embedImages(imgs, new StubEmbedder(dim))
        .agg(count(lit(1)), min(size(col("embedding"))), max(size(col("embedding")))).head()
      (r.getLong(0), r.getInt(1), r.getInt(2))
    }

  // ---- pipelines.DeepfakeAnalysis, ml, operators.VecAgg -----------------

  final case class Comparison(counts: Map[String, Long], cka: Map[String, Double],
      sepA: Double, sepB: Double)

  def compareSpaces(a: DataFrame, b: DataFrame, cap: Int, lrIter: Int): Comparison =
    span("pipelines.DeepfakeAnalysis") {
      val r = DeepfakeAnalysis.compareSpaces(a, b, "embedding", "image_id", "group",
        maxPerGroup = cap, cvFolds = 2, lrMaxIter = lrIter)
      Comparison(
        r.alignedCounts.collect().map(x => x.getString(0) -> x.getLong(1)).toMap,
        r.ckaPerGroup.collect().map(x => x.getString(0) -> x.getDouble(1)).toMap,
        r.separabilityA, r.separabilityB)
    }

  /** Rows of the joint 2-D map. */
  def embeddingMap(emb: DataFrame, cap: Int): Long = span("pipelines.DeepfakeAnalysis") {
    DeepfakeAnalysis.embeddingMap(emb, "embedding", "image_id", "group",
      samplePerGroup = cap).coords.count()
  }

  def separateMaps(emb: DataFrame, cap: Int): Long = span("pipelines.DeepfakeAnalysis") {
    DeepfakeAnalysis.separateMaps(emb, "embedding", "image_id", "group",
      samplePerGroup = cap).coords.count()
  }

  def pairsMap(emb: DataFrame, cap: Int, pairs: Int): Long = span("pipelines.DeepfakeAnalysis") {
    DeepfakeAnalysis.pairsMap(emb, "embedding", "image_id", "group",
      numPairs = pairs, samplePerGroup = cap).coords.count()
  }

  /** A t-SNE map of a small per-group sample. */
  def tsneMap(emb: DataFrame, cap: Int, iterations: Int): Long = span("ml.Reduce2d") {
    Reduce2d(emb, "embedding", "image_id", "group", method = "tsne",
      maxPerGroup = cap, iterations = iterations).count()
  }

  /** Per-group centroids through `VecAgg.meanVec`, sorted by group. */
  def centroids(emb: DataFrame): Seq[(String, Array[Double])] = span("operators.VecAgg") {
    emb.groupBy(col("group")).agg(VecAgg.meanVec(col("embedding")).as("c"))
      .orderBy(col("group")).collect()
      .map(r => r.getString(0) -> r.getSeq[Double](1).toArray).toSeq
  }

  /** Per-group CKA of one column with itself. */
  def selfCka(emb: DataFrame): Seq[Double] = span("operators.VecAgg") {
    emb.groupBy(col("group")).agg(VecAgg.cka(col("embedding"), col("embedding")))
      .collect().map(_.getDouble(1)).toSeq
  }

  /** GBT cross-validated accuracy of `positive` against every other group. */
  def gbtAccuracy(emb: DataFrame, positive: String, iters: Int): Double = span("ml.MlOps") {
    MlOps.gbtCvAccuracy(
      emb.withColumn("y", (col("group") === positive).cast("int")),
      "embedding", "y", "image_id", k = 2, maxIter = iters)
  }

  // ---- pipelines.CorpusCuration, functions.TextOps, operators.Dedup -----

  /** One curation run, its packed output consumed: the survivors' ids. */
  def curatedIds(docs: DataFrame, benchmark: DataFrame): Set[Long] =
    span("pipelines.CorpusCuration") {
      CorpusCuration.run(docs, benchmark).packed.select(col("doc_id")).collect()
        .map(_.getLong(0)).toSet
    }

  /** The curation run with each stage's call made and forced under the
    * span of the module it belongs to, in the order and with the
    * defaults `CorpusCuration.run` uses, its output then consumed as in
    * `curatedIds`. The traced run uses it to split the pipeline's time
    * across `functions.TextOps` and `operators.Dedup`. Returns the
    * survivors' ids and the near-dup candidate pairs the LSH stage
    * emitted. */
  def curateByStage(docs: DataFrame, benchmark: DataFrame)
      : (Set[Long], Seq[(Long, Long)]) = span("pipelines.CorpusCuration") {
    val flagged = span("functions.TextOps") {
      val f = docs.withColumn("__keep",
        TextOps.gopherRules(col("text")).getField("keep") &&
          TextOps.bigramDupFraction(col("text")) <= 0.4).cache()
      f.agg(count(lit(1)), count(when(col("__keep"), lit(1)))).head()
      f
    }
    // lazy columns are paid where the next stage forces them: redaction
    // runs inside the exact-dedup materialisation
    val redacted = span("functions.TextOps") {
      flagged.filter(col("__keep")).drop("__keep")
        .withColumn("text", TextOps.redactPii(col("text")))
    }
    val exact = span("operators.Dedup") {
      val e = Dedup.exact(redacted).cache(); e.count(); e
    }
    flagged.unpersist()
    val (nearDeduped, candidates) = span("operators.Dedup") {
      // minhashNearDups(exact, 0.5) is these candidates cut at 0.5
      val cands = Dedup.minhashCandidates(Dedup.minhashSignatures(exact)).cache()
      val candPairs = cands.select(col("id_a"), col("id_b")).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      val pairs = cands.filter(col("est_jaccard") >= 0.5).select(col("id_a"), col("id_b"))
      val drops = Dedup.canonicalize(pairs).filter(!col("keep")).select(col("doc_id"))
      val nd = exact.join(drops, Seq("doc_id"), "left_anti").cache()
      nd.count(); cands.unpersist(); (nd, candPairs)
    }
    val clean = span("operators.Dedup") {
      val grams = Dedup.benchmarkGrams(benchmark, n = 8)
      val c = Dedup.decontaminateAgainstGrams(nearDeduped, grams, n = 8)
        .filter(!col("contaminated")).drop("contaminated").cache()
      c.count(); c
    }
    exact.unpersist(); nearDeduped.unpersist()
    val packed = span("functions.TextOps") {
      SeqPack.packGreedy(clean.select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens")), "n_tokens", 512)
    }
    // the pipeline releases its last snapshot before it returns, so
    // consuming its output re-derives it: pipeline self time
    clean.unpersist()
    (packed.select(col("doc_id")).collect().map(_.getLong(0)).toSet, candidates)
  }

  // ---- operators.InvertedIndex, SimilaritySearch, HybridRetrieval -------

  type LexIndex = InvertedIndex.LexIndex
  type IvfIndex = SimilaritySearch.IvfIndex

  /** Builds the lexical index in memory with its relations cached — the
    * build-once, probe-many serving shape without an artifact on disk. */
  def lexBuild(docs: DataFrame): LexIndex = span("operators.InvertedIndex") {
    val idx = InvertedIndex.build(docs)
    val cached = idx.copy(postings = idx.postings.persist(), docLens = idx.docLens.persist(),
      termDf = idx.termDf.persist())
    cached.postings.count(); cached.docLens.count(); cached.termDf.count()
    cached
  }

  /** Trains the coarse quantizer on the corpus and saves the IVF index. */
  def buildIvf(vecs: DataFrame, dir: String, nlist: Int): Unit =
    span("operators.SimilaritySearch") {
      val idx = SimilaritySearch.buildIvfIndex(vecs, nlist = nlist, persist = false)
      SimilaritySearch.saveIvfIndex(idx, dir)
    }

  /** Loads the saved IVF index with its inverted file cached. */
  def loadIvf(spark: SparkSession, dir: String): IvfIndex = span("operators.SimilaritySearch") {
    val idx = SimilaritySearch.loadIvfIndex(spark, dir)
    idx.assigned.count(); idx
  }

  def ivfNlist(n: Long): Int = SimilaritySearch.ivfScaleParams(n)._1

  /** The unfiltered nprobe policy for an index. */
  def policyNprobe(idx: IvfIndex): Int = SimilaritySearch.policyNprobe(idx.centers.length)

  private def ids(df: DataFrame, c: String): Seq[Long] = df.select(col(c)).collect().map(_.getLong(0)).toSeq

  /** BM25 top-k: WAND-pruned, or among an allowed set. */
  def bm25(idx: LexIndex, terms: Seq[String], k: Int, allowed: Option[DataFrame]): Seq[Long] =
    span("operators.InvertedIndex") {
      ids(allowed.fold(InvertedIndex.bm25TopKPruned(idx, terms, k))(
        a => InvertedIndex.bm25TopKAmong(idx, terms, k, a)), "doc_id")
    }

  /** Unpruned BM25 top-k with scores, the reference for the pruned probe. */
  def bm25Exact(idx: LexIndex, terms: Seq[String], k: Int): Seq[(Long, Long)] =
    span("operators.InvertedIndex") {
      InvertedIndex.bm25TopK(idx, terms, k).collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    }

  def bm25Pruned(idx: LexIndex, terms: Seq[String], k: Int): Seq[(Long, Long)] =
    span("operators.InvertedIndex") {
      InvertedIndex.bm25TopKPruned(idx, terms, k).collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
    }

  /** Dense top-k through the float IVF `DenseLeg`; with an allowed set the
    * leg's selectivity-driven `Auto` nprobe dial is used. */
  def dense(idx: IvfIndex, q: DataFrame, k: Int,
      allowed: Option[(DataFrame, Double)]): Seq[Long] = span("operators.SimilaritySearch") {
    val leg = HybridRetrieval.DenseLeg.Float32(idx)
    ids(allowed.fold(leg.probe(q, k, None, "vec_id", "embedding")) { case (a, sel) =>
      leg.probeAmong(q, k, a.withColumnRenamed("doc_id", "vec_id"), Some(sel), "vec_id", "embedding")
    }, "neighbor_id")
  }

  /** Dense top-k per query id for many queries at once. */
  def denseByQuery(idx: IvfIndex, qs: DataFrame, k: Int): Map[Long, Seq[Long]] =
    span("operators.SimilaritySearch") {
      HybridRetrieval.DenseLeg.Float32(idx).probe(qs, k, None, "vec_id", "embedding")
        .select(col("query_id"), col("neighbor_id")).collect()
        .groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSeq }
    }

  /** Exact cosine top-k per query id. */
  def bruteByQuery(corpus: DataFrame, qs: DataFrame, k: Int): Map[Long, Seq[Long]] =
    span("operators.SimilaritySearch") {
      SimilaritySearch.bruteForceTopK(corpus, qs, k).select(col("query_id"), col("neighbor_id"))
        .collect().groupBy(_.getLong(0)).map { case (q, rs) => q -> rs.map(_.getLong(1)).toSeq }
    }

  /** Mean IVF candidates scored per query at the unfiltered policy dial. */
  def candidatesPerQuery(idx: IvfIndex, qs: DataFrame): Double = span("operators.SimilaritySearch") {
    val np = SimilaritySearch.policyNprobe(idx.centers.length)
    SimilaritySearch.ivfCandidates(idx, qs, np).count().toDouble / qs.count()
  }

  /** Max ÷ mean cell size of a saved IVF index. */
  def cellSkew(spark: SparkSession, dir: String): Double =
    span("operators.SimilaritySearch")(SimilaritySearch.ivfSkewReport(spark, dir).skew)

  /** RRF hybrid top-k of one (terms, vector) query. */
  def rrf(lex: LexIndex, ivf: IvfIndex, terms: Seq[String], q: DataFrame, k: Int,
      allowed: Option[(DataFrame, Double)]): Seq[Long] = span("operators.HybridRetrieval") {
    val leg = HybridRetrieval.DenseLeg.Float32(ivf)
    ids(allowed.fold(HybridRetrieval.rrfTopK(lex, terms, leg, q, k)) { case (a, sel) =>
      HybridRetrieval.rrfTopKAmong(lex, terms, leg, q, k, a.withColumnRenamed("doc_id", "vec_id"),
        selectivity = Some(sel))
    }, "doc_id")
  }

  /** Batched BM25: (query_id, term) rows in, rows answered out. */
  def bm25Batch(idx: LexIndex, qterms: DataFrame, k: Int): Long = span("operators.InvertedIndex") {
    InvertedIndex.bm25TopKPrunedByQuery(idx, qterms, k).count()
  }

  def rrfBatch(lex: LexIndex, ivf: IvfIndex, qterms: DataFrame, qvecs: DataFrame, k: Int): Long =
    span("operators.HybridRetrieval") {
      HybridRetrieval.rrfTopKByQuery(lex, qterms, HybridRetrieval.DenseLeg.Float32(ivf),
        qvecs, k).count()
    }

  // ---- streaming, and the artifact cut-over paths ------------------------

  def freezeCenters(spark: SparkSession, dir: String, centers: Array[Array[Double]]): Unit =
    span("streaming.StreamingVecIndex")(StreamingVecIndex.freezeCenters(spark, dir, centers))

  def lexApply(batch: DataFrame, id: Long, dir: String): Unit =
    span("streaming.StreamingLexIndex")(StreamingLexIndex.applyBatch(batch, id, dir))

  def vecApply(batch: DataFrame, id: Long, dir: String): Unit =
    span("streaming.StreamingVecIndex")(StreamingVecIndex.applyBatch(batch, id, dir))

  def lexDelete(spark: SparkSession, dir: String, ids: Seq[Long]): Unit =
    span("operators.InvertedIndex")(InvertedIndex.delete(spark, dir, ids))

  def vecDelete(spark: SparkSession, dir: String, ids: Seq[Long]): Unit =
    span("operators.SimilaritySearch")(SimilaritySearch.deleteFromAnnIndex(spark, dir, ids))

  /** BM25 top-k against the live streamed lexical index. */
  def lexProbeLive(spark: SparkSession, dir: String, terms: Seq[String], k: Int): Seq[(Long, Long)] =
    span("streaming.StreamingLexIndex") {
      val idx = StreamingLexIndex.load(spark, dir)
      bm25Pruned(idx, terms, k)
    }

  /** IVF top-k against the live streamed vector index. */
  def vecProbeLive(spark: SparkSession, dir: String, q: DataFrame, k: Int, nprobe: Int): Seq[Long] =
    span("streaming.StreamingVecIndex") {
      val idx = StreamingVecIndex.load(spark, dir, persist = false)
      ivfProbe(idx, q, k, nprobe)
    }

  def ivfProbe(idx: IvfIndex, q: DataFrame, k: Int, nprobe: Int): Seq[Long] =
    span("operators.SimilaritySearch") {
      ids(SimilaritySearch.ivfProbe(idx, q, k, nprobe), "neighbor_id")
    }

  /** A lexical index built in memory from scratch over `docs`. */
  def lexFromScratch(docs: DataFrame): LexIndex =
    span("operators.InvertedIndex")(InvertedIndex.build(docs))

  /** Max ÷ mean cell size of the live streamed vector index. */
  def liveCellSkew(spark: SparkSession, dir: String): Double =
    span("streaming.StreamingVecIndex")(StreamingVecIndex.skewReport(spark, dir).skew)
}
