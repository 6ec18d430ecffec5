package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Hybrid (dense + sparse) retrieval via reciprocal-rank fusion — the
  * ensemble production search actually serves, promoted from inline gate
  * code to an operator with a filtered twin (r15; reference analog: the
  * two-space comparison of
  * `/root/reference/src/compare_embeddings_vs_features.py:202-221` is
  * exactly a two-leg fusion of embedding-space and feature-space
  * rankings).
  *
  * RRF (Cormack, Clarke & Buettcher 2009): fused(d) = Σ_legs 1/(k0 +
  * rank_leg(d)), k0 = 60 the paper's convention. Rank fusion beats score
  * fusion across heterogeneous legs because ranks need no cross-leg
  * score calibration — a BM25 log-sum and a cosine live on incomparable
  * scales, their ranks do not.
  *
  * Scale shape: each leg is already a bounded top-`legK` relation (the
  * serving verbs' k×|Q| convention), so fusion is arithmetic over
  * O(legs·legK) rows — one hash aggregation, no corpus contact. Leg
  * ranks come from the two-pass [[GlobalRank]] (no single-partition
  * window) when ranking an unbounded scored relation, or ride along
  * free when the leg verb already emits them (the IVF probes' `rn`).
  *
  * The fused sum is made ORDER-FREE by folding terms in leg order (an
  * array_sort + aggregate over the collected (leg, term) pairs), so the
  * fused double is deterministic and engine-reproducible for any leg
  * count — two-leg fusion is bit-equal to the `t0 + t1` a hand-wired
  * pipeline computes.
  */
object HybridRetrieval {

  /** The dense tier a hybrid leg probes — the abstraction that lets the
    * fusion verbs accept ANY of the persisted ANN families (r16; before
    * this, `rrfTopK*` took only the float [[SimilaritySearch.IvfIndex]],
    * so the PQ-resident configuration a 100 TB corpus actually serves
    * from — codes hot, floats cold — was back to hand-wiring fusion per
    * caller, the exact condition the operator exists to end). Every
    * implementation returns the family's normalized probe shape
    * `(query_id, rn, neighbor_id, score)`, which is all the fusion tail
    * ever consumes — so adding a tier cannot change a fused bit on the
    * existing tiers (the float gates' hashes pin it).
    *
    * Dial discipline — the library's ONE place that resolves probe dials:
    * `probe` resolves the tier's UNFILTERED policy
    * ([[SimilaritySearch.policyNprobe]], plus the √n
    * [[SimilaritySearch.refineScaleParam]] shortlist for the re-rank
    * tiers) when the caller does not pin one; `probeAmong` widens nprobe
    * with the filter's selectivity
    * ([[SimilaritySearch.filteredNprobeParam]]; `None` derives it with two
    * bounded counts at probe construction) over the family verb's
    * pre-filter `allowed` semantics — so a leg under an ACL can never
    * silently under-recall relative to the tier's unfiltered serve.
    */
  sealed trait DenseLeg {
    /** Unfiltered top-k probe; `nprobe` None resolves the tier policy. */
    def probe(queries: DataFrame, k: Int, nprobe: Option[Int] = None,
        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame
    /** Filtered top-k under the tier's selectivity-capped auto dial. */
    def probeAmong(queries: DataFrame, k: Int, allowed: DataFrame,
        selectivity: Option[Double] = None,
        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame
  }

  object DenseLeg {
    import scala.language.implicitConversions

    /** The four IVF tiers share their dials: a tier supplies its coarse
      * quantizer's inverted file and its family probe at a resolved
      * nprobe; the policy (unfiltered) and the selectivity-capped
      * (filtered) nprobe are resolved here once for all of them.
      */
    sealed abstract class IvfLeg(centers: Array[Array[Double]],
        assigned: DataFrame) extends DenseLeg {
      protected def probeAt(queries: DataFrame, k: Int, nprobe: Int,
          idCol: String, vecCol: String,
          allowed: Option[DataFrame]): DataFrame
      final def probe(queries: DataFrame, k: Int, nprobe: Option[Int],
          idCol: String, vecCol: String): DataFrame =
        probeAt(queries, k,
          nprobe.getOrElse(SimilaritySearch.policyNprobe(centers.length)),
          idCol, vecCol, None)
      final def probeAmong(queries: DataFrame, k: Int, allowed: DataFrame,
          selectivity: Option[Double],
          idCol: String, vecCol: String): DataFrame =
        probeAt(queries, k,
          SimilaritySearch.filteredNprobeParam(centers.length,
            SimilaritySearch.resolveSelectivity(selectivity, allowed,
              assigned, idCol)),
          idCol, vecCol, Some(allowed))
    }

    /** The float32 IVF tier ([[SimilaritySearch.ivfProbe]]). An
      * [[SimilaritySearch.IvfIndex]] converts implicitly, keeping every
      * existing call site source-compatible.
      */
    final case class Float32(index: SimilaritySearch.IvfIndex)
        extends IvfLeg(index.centers, index.assigned) {
      protected def probeAt(queries: DataFrame, k: Int, nprobe: Int,
          idCol: String, vecCol: String,
          allowed: Option[DataFrame]): DataFrame =
        SimilaritySearch.ivfProbe(index, queries, k, nprobe, idCol, vecCol,
          allowed)
    }

    /** The 4×-compressed IVF-SQ8 memory-floor tier (native Int8Cosine
      * codegen kernel on the candidate relation).
      */
    final case class Int8(index: SimilaritySearch.IvfInt8Index)
        extends IvfLeg(index.centers, index.assigned) {
      protected def probeAt(queries: DataFrame, k: Int, nprobe: Int,
          idCol: String, vecCol: String,
          allowed: Option[DataFrame]): DataFrame =
        SimilaritySearch.ivfProbeInt8(index, queries, k, nprobe, idCol,
          vecCol, allowed)
    }

    /** The 32×-compressed IVF-PQ tier WITH the exact float re-rank
      * ([[SimilaritySearch.ivfProbePqRefined]] — the production
      * compressed configuration: the ADC scan never touches a float,
      * then only the k·refine shortlist point-looks-up `corpus` for
      * exact cosine). `refine` None follows the √n
      * [[SimilaritySearch.refineScaleParam]] policy (base 4, the PQ
      * family dial) from the index's stamped n; pinning it high enough
      * that the shortlist covers every (allowed) candidate puts the leg in
      * the EXACT regime — it equals the filtered brute ranking, the
      * construction the FULL-oracle gate drives. Under a filter the two
      * dials COMPOSE: the widened probe restores allowed-candidate volume
      * into the ADC scan, then the shortlist rides it into the exact
      * re-rank.
      */
    final case class PqRefined(index: SimilaritySearch.IvfPqIndex,
        corpus: DataFrame, refine: Option[Int] = None)
        extends IvfLeg(index.centers, index.assigned) {
      // lazy val, not def: a legacy index without a stamped n falls back
      // to corpus.count() — a full-corpus driver action that must run AT
      // MOST ONCE per leg instance, never once per probe inside a fused
      // batch serve (ADVICE r16)
      private lazy val resolvedRefine: Int = refine.getOrElse(
        SimilaritySearch.refineScaleParam(
          if (index.n >= 0) index.n else corpus.count(), base = 4))
      protected def probeAt(queries: DataFrame, k: Int, nprobe: Int,
          idCol: String, vecCol: String,
          allowed: Option[DataFrame]): DataFrame =
        SimilaritySearch.ivfProbePqRefined(index, corpus, queries, k,
          nprobe, resolvedRefine, idCol, vecCol, allowed)
    }

    /** ADC-only IVF-PQ — the pure 32×-compressed serve for callers whose
      * float vectors are genuinely unreachable (no refine corpus at
      * all); ranks carry PQ quantization noise, the tier's documented
      * trade.
      */
    final case class Pq(index: SimilaritySearch.IvfPqIndex)
        extends IvfLeg(index.centers, index.assigned) {
      protected def probeAt(queries: DataFrame, k: Int, nprobe: Int,
          idCol: String, vecCol: String,
          allowed: Option[DataFrame]): DataFrame =
        SimilaritySearch.ivfProbePq(index, queries, k, nprobe, idCol, vecCol,
          allowed)
    }

    /** The SRP-Hamming tier ([[SimilaritySearch.hammingTopK]] — the
      * leanest resident artifact in the family, 16 bytes/vector at the
      * 128-bit default, scored by pure xor+popcount codegen) with the
      * exact float re-rank of the k·refine shortlist. Completes the
      * four-family symmetry: every persisted ANN tier that streams
      * (r15) can now BE a hybrid leg (r16). `refine` None follows the
      * √n [[SimilaritySearch.refineScaleParam]] policy (base 8, the
      * family dial) from the index's stamped n — no corpus action at
      * probe construction; pinning it high enough that the shortlist
      * covers every allowed candidate is the tier's exact regime.
      * `nprobe`/`selectivity` are ignored — SRP has no cell-coverage dial
      * to widen: the allowed semi-join rides the Hamming scan itself, so
      * the filter prices directly and the shortlist never wastes a slot
      * on a disallowed candidate.
      */
    final case class Srp(index: SimilaritySearch.SrpIndex,
        corpus: DataFrame, refine: Option[Int] = None) extends DenseLeg {
      private lazy val resolvedRefine: Int = refine.getOrElse(
        SimilaritySearch.refineScaleParam(index.n, base = 8))
      def probe(queries: DataFrame, k: Int, nprobe: Option[Int],
          idCol: String, vecCol: String): DataFrame =
        probeOver(queries, k, idCol, vecCol, None)
      def probeAmong(queries: DataFrame, k: Int, allowed: DataFrame,
          selectivity: Option[Double],
          idCol: String, vecCol: String): DataFrame =
        probeOver(queries, k, idCol, vecCol, Some(allowed))
      private def probeOver(queries: DataFrame, k: Int, idCol: String,
          vecCol: String, allowed: Option[DataFrame]): DataFrame =
        SimilaritySearch.hammingTopK(index.sketched, corpus, queries, k,
          resolvedRefine, index.bits, index.seed, idCol, vecCol, allowed)
    }

    /** The exact corpus-scan tier ([[SimilaritySearch.bruteForceTopK]])
      * — no index, no dials (`nprobe`/`selectivity` have nothing to
      * tune and are ignored), O(queries × corpus): NOT a scale path.
      * Its role is the EXACT-FUSION TRUTH: fused with the (lossless)
      * WAND lexical leg through the same fold, it defines the reference
      * ranking the recall grid scores the approximate tiers' fusion
      * against.
      */
    final case class Brute(corpus: DataFrame) extends DenseLeg {
      def probe(queries: DataFrame, k: Int, nprobe: Option[Int],
          idCol: String, vecCol: String): DataFrame =
        SimilaritySearch.bruteForceTopK(corpus, queries, k, idCol, vecCol)
      def probeAmong(queries: DataFrame, k: Int, allowed: DataFrame,
          selectivity: Option[Double],
          idCol: String, vecCol: String): DataFrame =
        SimilaritySearch.bruteForceTopK(corpus, queries, k, idCol, vecCol,
          Some(allowed))
    }

    // the float and int8 index types ARE their legs (no extra inputs),
    // so they convert implicitly — every pre-r16 call site keeps
    // compiling, and the companion-object placement means no import at
    // call sites. PQ has no implicit form: a caller must CHOOSE between
    // the refined tier (which needs the float corpus) and ADC-only.
    implicit def floatLeg(index: SimilaritySearch.IvfIndex): DenseLeg =
      Float32(index)
    implicit def int8Leg(index: SimilaritySearch.IvfInt8Index): DenseLeg =
      Int8(index)
  }

  /** The lexical ranker a hybrid leg serves from — BM25 (the
    * probabilistic default every pre-r16 call site keeps) or Dirichlet
    * query likelihood (the language-modeling ranker, [[Ql]]): both
    * families expose the same four serving shapes over the same
    * persisted index, emitting the normalized `score_q` relations the
    * fusion tails rank, so the ensemble choice is one parameter, not a
    * re-wire. The batch forms stay LOSSLESS (batch-WAND for BM25, the
    * one-pass batch QL) — leg ranks equal the exact per-query ranking's
    * head either way.
    */
  sealed trait SparseLeg {
    private[graft] def topK(idx: InvertedIndex.LexIndex,
        terms: Seq[String], k: Int): DataFrame
    private[graft] def topKAmong(idx: InvertedIndex.LexIndex,
        terms: Seq[String], k: Int, allowed: DataFrame,
        idCol: String): DataFrame
    private[graft] def topKByQuery(idx: InvertedIndex.LexIndex,
        qterms: DataFrame, k: Int, queryIdCol: String,
        termCol: String): DataFrame
    private[graft] def topKByQueryAmong(idx: InvertedIndex.LexIndex,
        qterms: DataFrame, k: Int, allowed: DataFrame, idCol: String,
        queryIdCol: String, termCol: String): DataFrame
  }

  object SparseLeg {
    /** BM25 — compiles to the EXACT calls the pre-r16 verbs made, so
      * every existing gate re-serves hash-unchanged. */
    case object Bm25 extends SparseLeg {
      private[graft] def topK(idx: InvertedIndex.LexIndex,
          terms: Seq[String], k: Int): DataFrame =
        InvertedIndex.bm25TopK(idx, terms, k)
      private[graft] def topKAmong(idx: InvertedIndex.LexIndex,
          terms: Seq[String], k: Int, allowed: DataFrame,
          idCol: String): DataFrame =
        InvertedIndex.bm25TopKAmong(idx, terms, k, allowed, idCol = idCol)
      private[graft] def topKByQuery(idx: InvertedIndex.LexIndex,
          qterms: DataFrame, k: Int, queryIdCol: String,
          termCol: String): DataFrame =
        InvertedIndex.bm25TopKPrunedByQuery(idx, qterms, k,
          queryIdCol, termCol)
      private[graft] def topKByQueryAmong(idx: InvertedIndex.LexIndex,
          qterms: DataFrame, k: Int, allowed: DataFrame, idCol: String,
          queryIdCol: String, termCol: String): DataFrame =
        InvertedIndex.bm25TopKPrunedByQueryAmong(idx, qterms, k, allowed,
          idCol = idCol, queryIdCol = queryIdCol, termCol = termCol)
    }

    /** Dirichlet query likelihood (Zhai & Lafferty 2001) at smoothing
      * `mu` — collection statistics stay corpus-wide under a filter,
      * the family's documented contract. */
    final case class Ql(mu: Double = 2000.0) extends SparseLeg {
      private[graft] def topK(idx: InvertedIndex.LexIndex,
          terms: Seq[String], k: Int): DataFrame =
        InvertedIndex.qlTopK(idx, terms, k, mu)
      private[graft] def topKAmong(idx: InvertedIndex.LexIndex,
          terms: Seq[String], k: Int, allowed: DataFrame,
          idCol: String): DataFrame =
        InvertedIndex.qlTopKAmong(idx, terms, k, allowed, idCol, mu)
      private[graft] def topKByQuery(idx: InvertedIndex.LexIndex,
          qterms: DataFrame, k: Int, queryIdCol: String,
          termCol: String): DataFrame =
        InvertedIndex.qlTopKByQuery(idx, qterms, k, queryIdCol, termCol, mu)
      private[graft] def topKByQueryAmong(idx: InvertedIndex.LexIndex,
          qterms: DataFrame, k: Int, allowed: DataFrame, idCol: String,
          queryIdCol: String, termCol: String): DataFrame =
        InvertedIndex.qlTopKByQueryAmong(idx, qterms, k, allowed, idCol,
          queryIdCol, termCol, mu)
    }
  }

  /** Rank a scored leg globally: (idCol, scoreCol) → (idCol, rankCol)
    * with rank = row_number by (score desc, id) — the two-pass
    * [[GlobalRank]], never a single-partition window. Use this to turn
    * an unbounded scoring relation ([[InvertedIndex.bm25Scores]]) into a
    * fusion leg; top-k verbs that already emit ranks skip it.
    */
  def rankLeg(scored: DataFrame, idCol: String, scoreCol: String,
      rankCol: String = "rank"): DataFrame =
    GlobalRank.withGlobalRank(scored, rankCol,
      -col(scoreCol), col(idCol))._1
      .select(col(idCol), col(rankCol))

  /** RRF-fuse ranked legs. Each leg is a (idCol, rankCol) relation
    * (rank ≥ 1); the fused universe is the UNION of leg members — a doc
    * absent from a leg contributes nothing for it, the published RRF
    * convention for fusing top-k lists. `anchor = Some(i)` restricts
    * the universe to leg i's members instead: the corpus-covering-leg
    * convention for legs that score EVERYTHING (the original
    * vx_hybrid_rrf_top10 shape, where the dense leg ranks every vector
    * and the sparse leg only annotates it). `weights` Some(w) scales
    * leg i's terms to wᵢ/(k0 + rank) — weighted RRF (r16), the
    * standard per-leg confidence dial; None keeps the paper's unit
    * weights AND the exact pre-r16 expression, so unweighted fused
    * doubles are bit-unchanged. The fold stays order-free either way
    * (weights ride the per-leg terms, sorted before summing). Returns
    * (idCol, rrf).
    */
  def rrfFuseRanked(legs: Seq[DataFrame], k0: Double = 60.0,
      idCol: String = "doc_id", rankCol: String = "rank",
      anchor: Option[Int] = None,
      weights: Option[Seq[Double]] = None): DataFrame = {
    require(legs.nonEmpty, "no legs to fuse")
    require(k0 > 0.0, s"k0 must be > 0, got $k0")
    anchor.foreach(a => require(a >= 0 && a < legs.size,
      s"anchor $a out of range for ${legs.size} legs"))
    weights.foreach(w => require(
      w.length == legs.size && w.forall(_ > 0.0),
      s"need one positive weight per leg (${legs.size}), got $w"))
    val tagged = legs.zipWithIndex.map { case (df, i) =>
      df.select(col(idCol),
        lit(i).as("__leg"),
        (weights.fold(lit(1.0))(w => lit(w(i))) /
          (lit(k0) + col(rankCol).cast("double"))).as("__t"))
    }.reduce(_ unionByName _)
    // order-free fused sum: fold the (leg, term) pairs in leg order —
    // collect_list arrival order is nondeterministic, array_sort pins it
    val fused = tagged.groupBy(col(idCol))
      .agg(
        aggregate(
          array_sort(collect_list(struct(col("__leg"), col("__t")))),
          lit(0.0), (acc: Column, x: Column) => acc + x.getField("__t"))
          .as("rrf"),
        max(when(col("__leg") === lit(anchor.getOrElse(-1)), 1)
          .otherwise(0)).as("__in_anchor"))
    anchor.fold(fused.drop("__in_anchor"))(_ =>
      fused.filter(col("__in_anchor") === 1).drop("__in_anchor"))
  }

  /** The full hybrid serving verb: a sparse leg from the persisted
    * lexical index ([[SparseLeg]] — BM25 by default, or Dirichlet QL)
    * fused with a dense leg from ANY tier of the persisted ANN family
    * ([[DenseLeg]] — float IVF, IVF-SQ8, IVF-PQ±refine, SRP-Hamming;
    * the float and int8 index types convert implicitly), both
    * top-`legK`, optionally weighted (`legWeights` = (dense, sparse)),
    * RRF over the union, top-k by (rrf desc, id). `queryVec` is a
    * ONE-row (idCol, vecCol) relation — the dense query paired with the
    * lexical term bag; `nprobe` None resolves the tier's unfiltered
    * policy dial ([[SimilaritySearch.policyNprobe]]), so the filtered
    * twin's allowed=all reduction is exact. NOTE a pinned `nprobe` only
    * dials the cell-coverage tiers (Float32 / Int8 / Pq / PqRefined);
    * the SRP and Brute tiers scan every candidate by construction and
    * SILENTLY IGNORE it — pin the SRP dial via its `refine` field
    * instead. Returns (doc_id, rrf).
    */
  def rrfTopK(
      lexIdx: InvertedIndex.LexIndex, terms: Seq[String],
      denseLeg: DenseLeg, queryVec: DataFrame,
      k: Int, legK: Int = 100, nprobe: Option[Int] = None,
      k0: Double = 60.0,
      idCol: String = "vec_id", vecCol: String = "embedding",
      sparseLeg: SparseLeg = SparseLeg.Bm25,
      legWeights: Option[(Double, Double)] = None): DataFrame =
    fuseLegs(
      sparseLeg.topK(lexIdx, terms, legK),
      denseLeg.probe(queryVec, legK, nprobe, idCol, vecCol),
      k, k0, legWeights)

  /** [[rrfTopK]] restricted to an allowed document set — the
    * multi-tenant ensemble, with PRE-filter semantics through BOTH legs
    * (the one serving shape that still had to be hand-wired per caller):
    * the sparse leg is [[InvertedIndex.bm25TopKAmong]] (corpus-wide
    * collection statistics, allowed semi-join on the pruned posting
    * scan) and the dense leg is the tier's [[DenseLeg.probeAmong]]
    * (the selectivity-capped nprobe dial,
    * allowed semi-join on the candidate relation before scoring) — so
    * every fused rank is a rank AMONG ALLOWED documents, never a
    * post-filtered global rank that under-returns. With allowed =
    * everything the result is bit-equal to [[rrfTopK]] (selectivity 1
    * resolves the same policy dial; spec-pinned). NOTE `selectivity`
    * only dials the cell-coverage tiers — on the SRP and Brute tiers
    * the allowed semi-join rides the scan itself and a pinned value is
    * SILENTLY IGNORED (the filter prices directly; there is no
    * coverage dial to widen).
    */
  def rrfTopKAmong(
      lexIdx: InvertedIndex.LexIndex, terms: Seq[String],
      denseLeg: DenseLeg, queryVec: DataFrame,
      k: Int, allowed: DataFrame, legK: Int = 100,
      selectivity: Option[Double] = None, k0: Double = 60.0,
      idCol: String = "vec_id", vecCol: String = "embedding",
      sparseLeg: SparseLeg = SparseLeg.Bm25,
      legWeights: Option[(Double, Double)] = None): DataFrame =
    fuseLegs(
      sparseLeg.topKAmong(lexIdx, terms, legK, allowed, idCol),
      denseLeg.probeAmong(queryVec, legK, allowed, selectivity,
        idCol, vecCol),
      k, k0, legWeights)

  // the shared fusion tail: rank the bounded lexical top-legK relation
  // (row_number by its own (score desc, id) order — GlobalRank over
  // ≤ legK rows), take the dense probe's rn as its rank, union-fuse
  // (dense = leg 0, so `legWeights` reads (dense, lex)), cut top-k by
  // (rrf desc, id). One definition so the filtered and unfiltered
  // verbs cannot drift.
  private def fuseLegs(lexTopK: DataFrame, denseTopK: DataFrame,
      k: Int, k0: Double,
      legWeights: Option[(Double, Double)] = None): DataFrame = {
    val lexRanked = rankLeg(lexTopK, "doc_id", "score_q")
    val denseRanked = denseTopK
      .select(col("neighbor_id").as("doc_id"), col("rn").as("rank"))
    rrfFuseRanked(Seq(denseRanked, lexRanked), k0,
        weights = legWeights.map { case (wd, wl) => Seq(wd, wl) })
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(k)
  }

  /** BATCH hybrid serving: MANY (dense vector, term bag) queries fused
    * in one pass per leg — the RAG-evaluation shape (hundreds of
    * queries; a per-query driver loop would pay one posting scan and
    * one cell probe EACH). `queryVecs` is a (queryIdCol, vecCol)
    * relation and `qterms` a (queryIdCol, termCol) relation (one row
    * per term occurrence, bag semantics). The lexical leg is the
    * batch-WAND planner ([[InvertedIndex.bm25TopKPrunedByQuery]] at
    * legK — lossless, so ranks equal the exact per-query top-legK);
    * the dense leg is ONE multi-query probe of the chosen tier
    * (`nprobe`/`selectivity` carry [[rrfTopK]]/[[rrfTopKAmong]]'s tier
    * caveat: ignored by the SRP and Brute tiers, which have no
    * coverage dial). Per query, the result rows are EXACTLY [[rrfTopK]]'s for that
    * query's (terms, vector) pair (parity gate + spec). A query whose
    * terms are all unindexed degrades to its dense leg alone — the
    * right serving semantics, and the batch must not die for it.
    * Returns (query_id, doc_id, rrf), ≤ k rows per query.
    */
  def rrfTopKByQuery(
      lexIdx: InvertedIndex.LexIndex, qterms: DataFrame,
      denseLeg: DenseLeg, queryVecs: DataFrame,
      k: Int, legK: Int = 100, nprobe: Option[Int] = None,
      k0: Double = 60.0,
      idCol: String = "vec_id", vecCol: String = "embedding",
      queryIdCol: String = "query_id", termCol: String = "term",
      sparseLeg: SparseLeg = SparseLeg.Bm25,
      legWeights: Option[(Double, Double)] = None): DataFrame =
    fuseLegsByQuery(
      sparseLeg.topKByQuery(lexIdx, qterms, legK, queryIdCol, termCol),
      denseLeg.probe(
        queryVecs.select(col(queryIdCol).as(idCol), col(vecCol)),
        legK, nprobe, idCol, vecCol),
      k, k0, legWeights)

  /** [[rrfTopKByQuery]] restricted to an allowed document set — the
    * multi-tenant batch ensemble: the lexical leg is the filtered
    * batch-WAND planner ([[InvertedIndex.bm25TopKPrunedByQueryAmong]])
    * and the dense leg the tier's [[DenseLeg.probeAmong]] under the
    * selectivity dial (resolved ONCE — the filter is per-tenant, not
    * per-query). Per query ≡ [[rrfTopKAmong]] for that query's pair.
    */
  def rrfTopKByQueryAmong(
      lexIdx: InvertedIndex.LexIndex, qterms: DataFrame,
      denseLeg: DenseLeg, queryVecs: DataFrame,
      k: Int, allowed: DataFrame, legK: Int = 100,
      selectivity: Option[Double] = None, k0: Double = 60.0,
      idCol: String = "vec_id", vecCol: String = "embedding",
      queryIdCol: String = "query_id", termCol: String = "term",
      sparseLeg: SparseLeg = SparseLeg.Bm25,
      legWeights: Option[(Double, Double)] = None): DataFrame =
    fuseLegsByQuery(
      sparseLeg.topKByQueryAmong(lexIdx, qterms, legK, allowed, idCol,
        queryIdCol, termCol),
      denseLeg.probeAmong(
        queryVecs.select(col(queryIdCol).as(idCol), col(vecCol)),
        legK, allowed, selectivity, idCol, vecCol),
      k, k0, legWeights)

  // the batch fusion tail: per-query leg ranks (the lexical rank is a
  // query-partitioned row_number over the ≤ legK·|Q| top rows — never a
  // global window; the dense probe's rn rides along), the same ordered
  // leg-fold, a per-query top-k cut. Per query this computes exactly
  // what fuseLegs computes for that query alone.
  private def fuseLegsByQuery(lexTopK: DataFrame, denseTopK: DataFrame,
      k: Int, k0: Double,
      legWeights: Option[(Double, Double)] = None): DataFrame = {
    val byScore = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score_q").desc, col("doc_id"))
    val lexRanked = lexTopK
      .withColumn("rank", row_number().over(byScore))
      .select(col("query_id"), col("doc_id"), col("rank"))
    val denseRanked = denseTopK.select(col("query_id"),
      col("neighbor_id").as("doc_id"), col("rn").as("rank"))
    fuseRankedByQuery(Seq(denseRanked, lexRanked),
      legWeights.map { case (wd, wl) => Seq(wd, wl) }, k, k0)
  }

  // the N-ary batch fusion fold: each leg a normalized (query_id,
  // doc_id, rank) relation, weighted terms folded in leg order (the
  // rrfFuseRanked order-free construction), per-query top-k cut via a
  // query-partitioned window. With two legs this compiles to the exact
  // expressions fuseLegsByQuery always built, so the pre-r17 batch
  // gates re-serve hash-unchanged.
  private def fuseRankedByQuery(legs: Seq[DataFrame],
      weights: Option[Seq[Double]], k: Int, k0: Double): DataFrame = {
    val tagged = legs.zipWithIndex.map { case (df, i) =>
      df.select(col("query_id"), col("doc_id"),
        lit(i).as("__leg"),
        (weights.fold(lit(1.0))(w => lit(w(i))) /
          (lit(k0) + col("rank").cast("double"))).as("__t"))
    }.reduce(_ unionByName _)
    val fused = tagged.groupBy(col("query_id"), col("doc_id"))
      .agg(aggregate(
        array_sort(collect_list(struct(col("__leg"), col("__t")))),
        lit(0.0), (acc: Column, x: Column) => acc + x.getField("__t"))
        .as("rrf"))
    val cut = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id"))
    fused.withColumn("__rn", row_number().over(cut))
      .filter(col("__rn") <= k)
      .select(col("query_id"), col("doc_id"), col("rrf"))
  }

  /** A leg of the N-ARY ensemble serving verbs (the [[rrfTopKLegs]]
    * family, r17). The two-leg verbs hard-shape dense+sparse; a
    * standard production ensemble is often wider — two dense tiers
    * hedging each other's quantization, dense+sparse+positional, or the
    * reference's third concatenated feature space (the combined model of
    * `/root/reference/src/combined_embedding_features_comprations.py:218`
    * beside its embedding-space and feature-space legs). Every member
    * resolves to the same normalized bounded top-`legK` ranked relation
    * the fusion folds — so adding a leg kind can never change a fused
    * bit on existing kinds — and carries the two-leg verbs' PRE-FILTER
    * semantics under the `Among` variants.
    */
  sealed trait EnsembleLeg
  object EnsembleLeg {
    /** A dense ANN tier ([[DenseLeg]] — any persisted family, or Brute)
      * probing the verb's query vector(s). `nprobe` pins the tier's
      * coverage dial on the UNFILTERED verbs only (the [[rrfTopK]]
      * caveat: SRP/Brute ignore it); the `Among` twins route through
      * the tier's selectivity-capped auto dial and FAIL LOUDLY on a
      * pinned nprobe (r18 — silently dropping it hid a dead dial) —
      * pin a filtered dense dial via the tier's own fields
      * ([[DenseLeg.PqRefined]]'s `refine`) or the verb's
      * `selectivity`. */
    final case class Dense(leg: DenseLeg, nprobe: Option[Int] = None)
        extends EnsembleLeg
    /** A lexical ranker ([[SparseLeg]] — BM25 or Dirichlet QL) over a
      * persisted index at the verb's term bag(s). */
    final case class Sparse(idx: InvertedIndex.LexIndex,
        ranker: SparseLeg = SparseLeg.Bm25) extends EnsembleLeg
    /** The exact-phrase ranker as an ensemble leg: ranks by occurrence
      * count of the verb's terms AS AN ORDERED PHRASE (n_occ desc,
      * doc_id — [[InvertedIndex.phraseTopK]]'s cut). Needs a positional
      * index; the batch verbs read the slot sequence from `slotCol`. */
    final case class Phrase(idx: InvertedIndex.LexIndex) extends EnsembleLeg
    /** The proximity ranker as an ensemble leg: ranks by the count of
      * `window`-bounded co-occurrence windows of the verb's (distinct)
      * terms ([[InvertedIndex.proximityTopK]]). Needs a positional
      * index. */
    final case class Proximity(idx: InvertedIndex.LexIndex, window: Int)
        extends EnsembleLeg
  }

  // A pinned dense nprobe has no route through the filtered (Among)
  // ensemble verbs — the tier serves through its selectivity-capped auto
  // dial there. Silently dropping the pin (the pre-r18 behavior, stated
  // only in scaladoc) let a caller believe their coverage dial was live;
  // the repo's loud-contract convention says fail instead (ADVICE r17).
  private def requireNoPinnedNprobeAmong(nprobe: Option[Int]): Unit =
    require(nprobe.isEmpty,
      s"EnsembleLeg.Dense(nprobe = Some(${nprobe.get})) under a filtered " +
        "(Among) ensemble verb: the pinned nprobe is NOT routed through " +
        "the tier's selectivity-capped auto dial and would be silently " +
        "ignored. Drop the pin, or steer the filtered coverage via the " +
        "verb's `selectivity` (or the tier's own fields, e.g. " +
        "DenseLeg.PqRefined.refine).")

  // resolve one leg to the single-query normalized (doc_id, rank)
  // relation. allowed None compiles each kind to its unfiltered verb;
  // Some routes through the kind's Among verb — pre-filter semantics
  // (rank among allowed) on EVERY leg, the property the two-leg verbs
  // encode and a hand-wired ensemble always had to re-derive.
  private def legRankedSingle(leg: EnsembleLeg, terms: Seq[String],
      queryVec: DataFrame, legK: Int, idCol: String, vecCol: String,
      allowed: Option[DataFrame],
      selectivity: Option[Double]): DataFrame = leg match {
    case EnsembleLeg.Dense(d, nprobe) =>
      allowed.fold(d.probe(queryVec, legK, nprobe, idCol, vecCol)) { a =>
          requireNoPinnedNprobeAmong(nprobe)
          d.probeAmong(queryVec, legK, a, selectivity, idCol, vecCol)
        }
        .select(col("neighbor_id").as("doc_id"), col("rn").as("rank"))
    case EnsembleLeg.Sparse(idx, ranker) =>
      rankLeg(allowed.fold(ranker.topK(idx, terms, legK))(a =>
        ranker.topKAmong(idx, terms, legK, a, idCol)), "doc_id", "score_q")
    case EnsembleLeg.Phrase(idx) =>
      rankLeg(allowed.fold(InvertedIndex.phraseTopK(idx, terms, legK))(a =>
          InvertedIndex.phraseTopKAmong(idx, terms, legK, a, idCol)),
        "doc_id", "n_occ")
    case EnsembleLeg.Proximity(idx, w) =>
      rankLeg(allowed.fold(
          InvertedIndex.proximityTopK(idx, terms, w, legK))(a =>
          InvertedIndex.proximityTopKAmong(idx, terms, w, legK, a, idCol)),
        "doc_id", "n_windows")
  }

  // the batch twin: one leg to its normalized (query_id, doc_id, rank)
  // relation — dense ranks ride the probe's rn; lexical/positional tops
  // rank via a query-partitioned window over their own (score desc, id)
  // cut order (never a global window)
  private def legRankedByQuery(leg: EnsembleLeg, qterms: DataFrame,
      queryVecs: DataFrame, legK: Int, idCol: String, vecCol: String,
      queryIdCol: String, termCol: String, slotCol: String,
      allowed: Option[DataFrame],
      selectivity: Option[Double]): DataFrame = {
    def perQueryRank(top: DataFrame, scoreCol: String): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("query_id"))
        .orderBy(col(scoreCol).desc, col("doc_id"))
      top.withColumn("rank", row_number().over(w))
        .select(col("query_id"), col("doc_id"), col("rank"))
    }
    leg match {
      case EnsembleLeg.Dense(d, nprobe) =>
        val qv = queryVecs.select(col(queryIdCol).as(idCol), col(vecCol))
        allowed.fold(d.probe(qv, legK, nprobe, idCol, vecCol)) { a =>
            requireNoPinnedNprobeAmong(nprobe)
            d.probeAmong(qv, legK, a, selectivity, idCol, vecCol)
          }
          .select(col("query_id"), col("neighbor_id").as("doc_id"),
            col("rn").as("rank"))
      case EnsembleLeg.Sparse(idx, ranker) =>
        perQueryRank(allowed.fold(
            ranker.topKByQuery(idx, qterms, legK, queryIdCol, termCol))(a =>
            ranker.topKByQueryAmong(idx, qterms, legK, a, idCol,
              queryIdCol, termCol)), "score_q")
      case EnsembleLeg.Phrase(idx) =>
        perQueryRank(allowed.fold(
            InvertedIndex.phraseTopKByQuery(idx, qterms, legK,
              queryIdCol, termCol, slotCol))(a =>
            InvertedIndex.phraseTopKByQueryAmong(idx, qterms, legK, a,
              idCol, queryIdCol, termCol, slotCol)), "n_occ")
      case EnsembleLeg.Proximity(idx, w) =>
        perQueryRank(allowed.fold(
            InvertedIndex.proximityTopKByQuery(idx, qterms, w, legK,
              queryIdCol, termCol))(a =>
            InvertedIndex.proximityTopKByQueryAmong(idx, qterms, w, legK,
              a, idCol, queryIdCol, termCol)), "n_windows")
    }
  }

  /** N-ARY hybrid serving (r17): fuse ANY weighted set of ensemble legs
    * — dense tiers, lexical rankers, positional rankers — over one
    * (terms, queryVec) query, weighted RRF over the union universe,
    * top-k by (rrf desc, id). Legs fuse in CALLER ORDER (leg i is fold
    * index i — the deterministic order-free sum's identity), and each
    * leg is a bounded top-`legK` relation, so fusion stays arithmetic
    * over O(legs·legK) rows with no corpus contact. With legs =
    * (Dense(d), w_d) :: (Sparse(idx), w_l) :: Nil this computes
    * BIT-EXACTLY what [[rrfTopK]] computes (spec-pinned): the two-leg
    * verbs remain the ergonomic special case, this is the general form.
    * Returns (doc_id, rrf).
    */
  def rrfTopKLegs(legs: Seq[(EnsembleLeg, Double)], terms: Seq[String],
      queryVec: DataFrame, k: Int, legK: Int = 100, k0: Double = 60.0,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(legs.nonEmpty, "no legs to fuse")
    rrfFuseRanked(
        legs.map { case (l, _) => legRankedSingle(l, terms, queryVec,
          legK, idCol, vecCol, None, None) },
        k0, weights = Some(legs.map(_._2)))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(k)
  }

  /** [[rrfTopKLegs]] restricted to an allowed document set — every leg
    * serves through its kind's `Among` verb (pre-filter semantics: the
    * dense tiers' selectivity-capped auto dial, the lexical rankers'
    * corpus-stat filtered scan, the positional rankers' semi-join on
    * the pruned posting scan), so every fused rank is a rank AMONG
    * ALLOWED documents on every leg. `selectivity` carries the
    * [[rrfTopKAmong]] tier caveat.
    */
  def rrfTopKLegsAmong(legs: Seq[(EnsembleLeg, Double)],
      terms: Seq[String], queryVec: DataFrame, k: Int, allowed: DataFrame,
      legK: Int = 100, selectivity: Option[Double] = None,
      k0: Double = 60.0, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame = {
    require(legs.nonEmpty, "no legs to fuse")
    rrfFuseRanked(
        legs.map { case (l, _) => legRankedSingle(l, terms, queryVec,
          legK, idCol, vecCol, Some(allowed), selectivity) },
        k0, weights = Some(legs.map(_._2)))
      .orderBy(col("rrf").desc, col("doc_id"))
      .limit(k)
  }

  /** BATCH N-ary hybrid serving: [[rrfTopKLegs]] for MANY queries in
    * one pass per leg — each dense leg is ONE multi-query probe, each
    * lexical leg one batch-planner pass, each positional leg one
    * positional posting pass ([[rrfTopKByQuery]]'s organization lifted
    * to N legs). `qterms` is the (queryIdCol, termCol[, slotCol])
    * relation — `slotCol` is read ONLY by [[EnsembleLeg.Phrase]] legs
    * (the ordered-slot contract of the batch phrase verb); bags without
    * it serve every other kind. Per query the rows are exactly what the
    * single-query verb computes for that query's (terms, vector) pair
    * (spec-pinned). Returns (query_id, doc_id, rrf), ≤ k rows/query.
    */
  def rrfTopKLegsByQuery(legs: Seq[(EnsembleLeg, Double)],
      qterms: DataFrame, queryVecs: DataFrame, k: Int, legK: Int = 100,
      k0: Double = 60.0, idCol: String = "vec_id",
      vecCol: String = "embedding", queryIdCol: String = "query_id",
      termCol: String = "term", slotCol: String = "slot"): DataFrame = {
    require(legs.nonEmpty, "no legs to fuse")
    fuseRankedByQuery(
      legs.map { case (l, _) => legRankedByQuery(l, qterms, queryVecs,
        legK, idCol, vecCol, queryIdCol, termCol, slotCol, None, None) },
      Some(legs.map(_._2)), k, k0)
  }

  /** [[rrfTopKLegsByQuery]] restricted to an allowed document set — the
    * multi-tenant N-ary batch ensemble; the filter is per-tenant
    * (resolved once), pre-filter semantics through every leg.
    */
  def rrfTopKLegsByQueryAmong(legs: Seq[(EnsembleLeg, Double)],
      qterms: DataFrame, queryVecs: DataFrame, k: Int, allowed: DataFrame,
      legK: Int = 100, selectivity: Option[Double] = None,
      k0: Double = 60.0, idCol: String = "vec_id",
      vecCol: String = "embedding", queryIdCol: String = "query_id",
      termCol: String = "term", slotCol: String = "slot"): DataFrame = {
    require(legs.nonEmpty, "no legs to fuse")
    fuseRankedByQuery(
      legs.map { case (l, _) => legRankedByQuery(l, qterms, queryVecs,
        legK, idCol, vecCol, queryIdCol, termCol, slotCol, Some(allowed),
        selectivity) },
      Some(legs.map(_._2)), k, k0)
  }
}
