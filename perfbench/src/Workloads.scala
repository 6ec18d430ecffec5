package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** deepfake_analytics: one pass of the paper's flows over an image tree
  * and a two-space embedding store. After the sampling caps the work is
  * many small MLlib jobs, so the pass is bound by job launch and the
  * driver. */
final class DeepfakeAnalytics(c: Ctx) extends Workload {
  private val RowsPerGroup = 800
  private var in: DeepfakeInput = _
  private var a: DataFrame = _
  private var b: DataFrame = _
  private val passS = mutable.ArrayBuffer.empty[Double]
  private var pass0: Option[Seq[Any]] = None
  private var sep = 0.0

  def inputHash: String = in.hash
  private def root = c.dir("images")

  def setup(): Unit = {
    in = DeepfakeGen(c.o.seed, new java.io.File(root), imagesPerGroup = 12, corrupt = 4,
      rowsPerGroup = RowsPerGroup)
    import c.spark.implicits._
    a = Frames.stored(in.spaceA.map(r => (r._1, r._2, r._3.toSeq)).toDF("group", "image_id", "embedding"),
      c.dir("store_a"))
    b = Frames.stored(in.spaceB.map(r => (r._1, r._2, r._3.toSeq)).toDF("group", "image_id", "embedding"),
      c.dir("store_b"))
    // one tiny query loads the session's query path; a full warm-up pass
    // would double a run's cost, so the timed pass includes each flow's
    // first-execution cost
    a.agg(count(lit(1))).collect()
  }

  private val Cap = 100
  private val LrIter = 10
  private val Pairs = 1
  private val TsneCap = 6
  private val TsneIter = 40
  private val GbtIter = 1

  /** One pass; every result is checked, and must equal the first pass's. */
  private def pass(): Unit = {
    Trace.nextOp()
    val out = mutable.ArrayBuffer.empty[Any]
    c.attempt("decode") {
      val (ok, bad, groups) = Engine.decodeImages(c.spark, root)
      out += ok; ok == in.images && bad == in.corrupt && groups == in.groups.size
    }
    c.attempt("embed") {
      val (n, lo, hi) = Engine.embedImages(c.spark, root, 16)
      n == in.images + in.corrupt && lo == 16 && hi == 16
    }
    c.attempt("compare_spaces") {
      val r = Engine.compareSpaces(a, b, Cap, LrIter)
      out += ((r.sepA, r.sepB)); sep = (r.sepA + r.sepB) / 2
      val chance = 1.0 / in.groups.size
      r.counts.size == in.groups.size && r.counts.values.forall(_ == Cap) &&
        r.cka.values.forall(v => v > 0.0 && v <= 1.0 + 1e-9) &&
        r.sepA > 2 * chance && r.sepB > 2 * chance
    }
    c.attempt("embedding_map")(Engine.embeddingMap(a, Cap) == in.groups.size * Cap)
    c.attempt("separate_maps")(Engine.separateMaps(a, Cap) == in.groups.size * Cap)
    c.attempt("pairs_map")(Engine.pairsMap(a, Cap, Pairs) == Pairs * 2 * Cap)
    c.attempt("tsne_map")(Engine.tsneMap(a, TsneCap, TsneIter) == in.groups.size * TsneCap)
    c.attempt("centroid_cosine") {
      val cs = Engine.centroids(a)
      val m = cs.map { case (_, x) => cs.map { case (_, y) => cosine(x, y) } }
      out += m.flatten.map(v => math.round(v * 1e9))
      cs.map(_._1) == in.groups && m.indices.forall(i => math.abs(m(i)(i) - 1.0) < 1e-9 &&
        m.indices.forall(j => math.abs(m(i)(j) - m(j)(i)) < 1e-12))
    }
    c.attempt("gbt_separability") {
      val two = a.filter(col("group").isin(in.groups(0), in.groups(1)))
      val acc = Engine.gbtAccuracy(two, in.groups(0), GbtIter)
      out += acc; acc > 0.6
    }
    c.attempt("pass_repeats")(pass0.forall(_ == out.toSeq))
    if (pass0.isEmpty) pass0 = Some(out.toSeq)
  }

  private def cosine(x: Array[Double], y: Array[Double]): Double = {
    val d = x.indices.map(i => x(i) * y(i)).sum
    d / math.sqrt(x.map(v => v * v).sum * y.map(v => v * v).sum)
  }

  def measure(): Unit = c.loop(passS += c.time(pass()))
  def prepare(): Unit = pass()
  def fixedOps(traced: Boolean): Double = c.time(pass())

  def check(): Unit =
    c.attempt("self_cka_is_one")(Engine.selfCka(a).forall(v => math.abs(v - 1.0) < 1e-9))

  private def rows = in.spaceA.size.toDouble
  def endToEnd: Seq[(String, Double)] =
    if (passS.isEmpty) Seq("throughput_per_s" -> 0.0, "op_p50_ms" -> 0.0, "quality" -> sep)
    else Seq("throughput_per_s" -> rows / Stats.median(passS.toSeq),
      "op_p50_ms" -> Stats.median(passS.toSeq) * 1e3, "quality" -> sep)
  def report: Seq[(String, Double, String)] =
    if (passS.isEmpty) Nil
    else Seq(("images_per_s", rows / Stats.median(passS.toSeq), "images/s"),
      ("passes", passS.size.toDouble, "count"), ("store_rows", rows, "rows"),
      ("separability", sep, "ratio"))
}

/** retrieval_serving: curate a corpus with planted duplicates and
  * contamination, build the lexical index in memory over the survivors
  * and train and save the IVF index (timed once, as `build_s`); then a
  * closed loop of blocks — every (query kind, allowed-set filter) pair
  * twice as a single query, then one batched block; last, the maintenance
  * path: a micro-batch streamed into fresh streaming indexes under the
  * served quantizer, a delete, and probes of the live indexes. */
final class RetrievalServing(c: Ctx) extends Workload {
  private val N = 3000
  private val K = 10
  private var in: RetrievalInput = _
  private var docs: DataFrame = _
  private var vecs: DataFrame = _
  private var lex: Engine.LexIndex = _
  private var ivf: Engine.IvfIndex = _
  private var small: (DataFrame, Double) = _
  private var half: (DataFrame, Double) = _
  private var smallIds = Set.empty[Long]
  private var halfIds = Set.empty[Long]
  private var bterms: DataFrame = _
  private var bvecs: DataFrame = _
  private val lat = mutable.ArrayBuffer.empty[Double]
  private var batchS = 0.0
  private var batchQ = 0L
  private var buildS = 0.0
  private var curateS = 0.0
  private var kept = Set.empty[Long]
  private var dedupRecall = 0.0
  private var candidates = 0.0
  private var precision = 0.0
  private var bench: DataFrame = _
  private var keptVecs: DataFrame = _
  private var recall = 0.0
  private var lexFiles = (0L, 0L)
  private var ingestS = 0.0
  private var pos = 0
  private val reads = mutable.ArrayBuffer.empty[Double]
  private var vecFiles = 0L
  private var spaceRatio = 0.0
  private var lexAfterDelete = Seq.empty[(Long, Long)]
  private var vecAfterDelete = Seq.empty[Long]
  private def streamLex = c.dir("stream_lex")
  private def streamVec = c.dir("stream_vec")

  def inputHash: String = in.hash

  def setup(): Unit = {
    in = RetrievalGen(c.o.seed, N, blocks = 4, batchSize = 16, microN = 200, deleteN = 20)
    import c.spark.implicits._
    docs = Frames.stored(Frames.docs(c.spark, in.corpus.docs), c.dir("docs"))
    vecs = Frames.stored(Frames.vecs(c.spark, in.vecs), c.dir("vecs"))
    bench = Frames.stored(in.corpus.benchmark.toDF("text"), c.dir("benchmark"), files = 1)
    def allowed(xs: Seq[Long]) = {
      val df = Frames.ids(c.spark, xs).cache(); df.count(); (df, xs.size.toDouble / N)
    }
    small = allowed(in.allowedSmall); half = allowed(in.allowedHalf)
    smallIds = in.allowedSmall.toSet; halfIds = in.allowedHalf.toSet
    bterms = in.batch.flatMap(q => q.terms.map(t => (q.id, t))).toDF("query_id", "term")
    bvecs = Frames.vecs(c.spark, in.batch.map(q => Vec(q.id, q.vec)))
      .withColumnRenamed("vec_id", "query_id")
  }

  /** The timed one-off build; then, untimed, the loads that fill the
    * serving caches. */
  private def build(): Unit = {
    Trace.nextOp()
    buildS = c.time {
      curateS = c.time {
        kept = if (!Trace.enabled) Engine.curatedIds(docs, bench) else {
          val (k, cands) = Engine.curateByStage(docs, bench)
          val truth = in.corpus.truePairs
          candidates = cands.size
          precision = if (cands.isEmpty) 0.0 else cands.count(truth).toDouble / cands.size
          k
        }
      }
      val survivors = Frames.ids(c.spark, kept.toSeq)
      keptVecs = vecs.join(broadcast(survivors.withColumnRenamed("doc_id", "vec_id")), "vec_id")
      lex = Engine.lexBuild(docs.join(broadcast(survivors), "doc_id"))
      Engine.buildIvf(keptVecs, c.dir("ivf"), Engine.ivfNlist(kept.size))
    }
    ivf = Engine.loadIvf(c.spark, c.dir("ivf"))
  }

  /** The one-row query-vector relation a dense or hybrid query carries. */
  private def qvec(q: Query): DataFrame = Frames.vecs(c.spark, Seq(Vec(q.id, q.vec)))

  private def single(q: Query): Unit = {
    val (allowed, allowedIds) = q.filter match {
      case 1 => (Some(small), Some(smallIds))
      case 2 => (Some(half), Some(halfIds))
      case _ => (None, None)
    }
    Trace.nextOp()
    val t0 = System.nanoTime()
    c.attempt(s"query_${q.kind}") {
      val r = q.kind match {
        case "bm25" => Engine.bm25(lex, q.terms, K, allowed.map(_._1))
        case "dense" => Engine.dense(ivf, qvec(q), K, allowed)
        case _ => Engine.rrf(lex, ivf, q.terms, qvec(q), K, allowed)
      }
      lat += (System.nanoTime() - t0) / 1e6
      r.size <= K && r.distinct.size == r.size && allowedIds.forall(s => r.forall(s)) &&
        (q.kind == "bm25" || r.size == K)
    }
  }

  /** Every (kind, filter) pair twice as a single query, then the batch. */
  private def block(): Unit = {
    val n = 2 * RetrievalGen.Kinds.size * 3
    (0 until n).foreach(i => single(in.stream((pos + i) % in.stream.size)))
    pos += n
    Trace.nextOp()
    batchS += c.time {
      c.attempt("batch_bm25")(Engine.bm25Batch(lex, bterms, K) <= K * in.batch.size)
      c.attempt("batch_rrf")(Engine.rrfBatch(lex, ivf, bterms, bvecs, K) == K * in.batch.size)
    }
    batchQ += 2 * in.batch.size
  }

  private def nprobe = Engine.policyNprobe(ivf)

  /** A micro-batch of vectors into a fresh streaming vector index under
    * the served quantizer, a delete, a probe of the live index. With
    * `lexical`, the micro-batch's documents also go through the
    * streaming lexical writer, are deleted from it and probed: that path
    * writes about two thousand files per batch (~15 s here), so only the
    * traced run's fixed list takes it. */
  private def maintain(lexical: Boolean): Unit = {
    Seq(streamLex, streamVec).foreach(Frames.rm)
    Trace.nextOp()
    ingestS = c.time(c.attempt("apply_batch") {
      if (lexical) Engine.lexApply(Frames.docs(c.spark, in.microDocs), 1L, streamLex)
      Engine.freezeCenters(c.spark, streamVec, ivf.centers)
      Engine.vecApply(Frames.vecs(c.spark, in.microVecs), 1L, streamVec); true
    })
    if (lexical) lexFiles = Frames.du(streamLex)
    vecFiles = Frames.du(streamVec)._2
    Trace.nextOp()
    c.attempt("delete") {
      if (lexical) Engine.lexDelete(c.spark, streamLex, in.deletes)
      Engine.vecDelete(c.spark, streamVec, in.deletes); true
    }
    if (lexical) read("lex_probe_live") {
      lexAfterDelete = Engine.lexProbeLive(c.spark, streamLex, in.stream(0).terms, K)
      lexAfterDelete.size <= K
    }
    read("vec_probe_live") {
      vecAfterDelete = Engine.vecProbeLive(c.spark, streamVec, qvec(in.stream(1)), K, nprobe)
      vecAfterDelete.size <= K
    }
  }

  private def read(name: String)(f: => Boolean): Unit = {
    Trace.nextOp()
    val t0 = System.nanoTime()
    c.attempt(name)(f)
    reads += (System.nanoTime() - t0) / 1e6
  }

  /** Every (kind, filter) pair once, untimed: fills codegen and the
    * serving caches before the timed blocks. */
  private def warmUp(): Unit = {
    (0 until RetrievalGen.Kinds.size * 3).foreach(i => single(in.stream(in.stream.size - 1 - i)))
    lat.clear()
  }

  def measure(): Unit = {
    build()
    warmUp()
    c.loop(block())
    maintain(lexical = false)
  }

  /** The build is traced: it is the workload's one-off work. */
  def prepare(): Unit = { Trace.traced(c.spark)(build()); warmUp() }
  /** One block, compared traced against untraced; the traced list then
    * takes the maintenance path with the streaming lexical writer. */
  def fixedOps(traced: Boolean): Double = {
    pos = 0
    val t = c.time(block())
    if (traced) maintain(lexical = true)
    t
  }

  def check(): Unit = {
    val removed = in.corpus.docs.map(_.id).toSet -- kept
    val planted = in.corpus.plantedRemovals
    dedupRecall = (planted & removed).size.toDouble / planted.size
    c.attempt("exact_dups_removed")(in.corpus.exactDrops.subsetOf(removed))
    c.attempt("no_clean_doc_removed")((removed -- planted -- in.corpus.ruleDrops).isEmpty)
    c.attempt("dedup_recall_floor")(dedupRecall >= 0.97)
    val exactProbe = in.stream.filter(q => q.kind == "bm25" && q.filter == 0).take(1)
    c.attempt("pruned_equals_unpruned")(exactProbe.forall(q =>
      Engine.bm25Pruned(lex, q.terms, K) == Engine.bm25Exact(lex, q.terms, K)))
    val qs = Frames.vecs(c.spark, in.recallQueries)
    val approx = Engine.denseByQuery(ivf, qs, K)
    val exact = Engine.bruteByQuery(keptVecs, qs, K)
    recall = in.recallQueries.map(q =>
      (approx.getOrElse(q.id, Nil).toSet & exact(q.id).toSet).size.toDouble / K).sum /
      in.recallQueries.size
    c.attempt("recall_at_10_floor")(recall >= c.o.recallFloor)
    // after the delete, the live indexes answer as indexes built from
    // scratch over the surviving rows
    val lexical = lexFiles._2 > 0
    val liveDocs = Frames.docs(c.spark, in.liveMicroDocs)
    val liveVecs = Frames.vecs(c.spark, in.liveMicroVecs)
    val scratchVec = c.dir("scratch_vec")
    Engine.freezeCenters(c.spark, scratchVec, ivf.centers)
    Engine.vecApply(liveVecs, 1L, scratchVec)
    c.attempt("live_equals_from_scratch") {
      (!lexical || lexAfterDelete ==
        Engine.bm25Pruned(Engine.lexFromScratch(liveDocs), in.stream(0).terms, K)) &&
        vecAfterDelete == Engine.vecProbeLive(c.spark, scratchVec, qvec(in.stream(1)), K, nprobe)
    }
    // space: streamed artifact bytes over the parquet bytes of the live rows
    Frames.stored(liveVecs, c.dir("user_vecs"), files = 1)
    Frames.stored(liveDocs, c.dir("user_docs"), files = 1)
    val user = Frames.du(c.dir("user_vecs"))._1 + (if (lexical) Frames.du(c.dir("user_docs"))._1 else 0L)
    spaceRatio = (Frames.du(streamVec)._1 + Frames.du(streamLex)._1).toDouble / user
  }

  private def p50 = if (lat.isEmpty) 0.0 else Stats.median(lat.toSeq)
  private def batchRate = if (batchS > 0) batchQ / batchS else 0.0
  def endToEnd: Seq[(String, Double)] = Seq(
    "throughput_per_s" -> batchRate, "op_p50_ms" -> p50, "quality" -> recall)
  def report: Seq[(String, Double, String)] = Seq(
    ("build_s", buildS, "s"), ("curate_s", curateS, "s"),
    ("docs_per_s", N / curateS, "docs/s"), ("dedup_recall", dedupRecall, "ratio"),
    ("query_p50_ms", p50, "ms"),
    ("query_max_ms", if (lat.isEmpty) 0.0 else lat.max, "ms"),
    ("query_samples", lat.size.toDouble, "count"),
    ("batch_queries_per_s", batchRate, "queries/s"), ("recall_at_10", recall, "ratio"),
    ("corpus_docs", N.toDouble, "docs"),
    ("ingest_docs_per_s", if (ingestS > 0) in.microDocs.size / ingestS else 0.0, "docs/s"),
    ("read_p50_ms", if (reads.isEmpty) 0.0 else Stats.median(reads.toSeq), "ms"),
    ("bytes_per_user_byte", spaceRatio, "ratio"))
  override def layerExtras: Seq[(String, Double)] = {
    val qs = Frames.vecs(c.spark, in.recallQueries)
    Seq("operators.Dedup.candidate_pairs" -> candidates,
      "operators.Dedup.pair_precision" -> precision,
      "operators.SimilaritySearch.candidates_per_query" -> Engine.candidatesPerQuery(ivf, qs),
      "operators.SimilaritySearch.cell_skew" -> Engine.cellSkew(c.spark, c.dir("ivf")),
      "streaming.StreamingLexIndex.files_per_batch" -> lexFiles._2.toDouble,
      "streaming.StreamingLexIndex.bytes_per_batch" -> lexFiles._1.toDouble,
      "streaming.StreamingVecIndex.files_per_batch" -> vecFiles.toDouble,
      "streaming.StreamingVecIndex.cell_skew" -> Engine.liveCellSkew(c.spark, streamVec))
  }
}
