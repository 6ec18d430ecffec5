package graft.operators

import graft.functions.VecOps
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.ColumnBridge

/** Approximate-nearest-neighbor search over an embedding column (north-star
  * op; SURVEY.md §2.8 engine-added). Two paths:
  *
  *  - `bruteForceTopK`: exact cosine top-k via query×corpus join. The join is
  *    a broadcast of the (small) query set against the corpus — no shuffle of
  *    the corpus at all; per-row math is a codegen'd higher-order-function
  *    dot product (VecOps). Right at any corpus size as long as the QUERY
  *    side is small; cost is |Q|·|corpus| dot products, embarrassingly
  *    parallel over corpus partitions.
  *
  *  - `lshTopK`: random-hyperplane LSH (signed projections) bucket join.
  *    Corpus and queries hash to `numTables` independent signature buckets;
  *    candidates are bucket collisions only, then exact re-rank. Sub-linear
  *    candidate counts at the cost of recall; recall rises with tables.
  *    Hyperplanes are derived deterministically from (table, dim, seed) via
  *    a hash → uniform in [-1,1], so executors regenerate them without any
  *    driver-side randomness or broadcast payload.
  */
object SimilaritySearch {

  /** Exact cosine top-k of `queries` against `corpus`; both need (idCol,
    * vecCol). Returns (query_id, rn, neighbor_id, cosine).
    *
    * `allowed` (rows carrying `idCol`) restricts the ranking to those
    * documents — PRE-filter semantics (rank among allowed), never a
    * post-filter of an unrestricted top-k, which silently returns fewer
    * than k and misses allowed neighbors ranked past the global cut. The
    * allowed relation semi-joins the corpus side before the scan, so the
    * scored volume is ∝ |allowed| × queries.
    */
  def bruteForceTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding",
      allowed: Option[DataFrame] = None): DataFrame = {
    val among = allowed.fold(corpus)(a =>
      corpus.join(a.select(col(idCol)), Seq(idCol), "left_semi"))
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val t = among.select(col(idCol).as("neighbor_id"), col(vecCol).as("tv"))
    topKPerQuery(floatScored(
      t.join(broadcast(q), col("query_id") =!= col("neighbor_id"))), k)
  }

  /** The per-query rank cut every top-k verb ends in (the global merge of
    * the REPOSE shape: partition-local candidates, then one top-k per
    * query): keep the `k` best `cosine`s per `query_id`, ties broken by
    * `neighbor_id`, as (query_id, rn, neighbor_id, carry…, cosine) ordered
    * by (query_id, rn). One definition, so no two tiers can rank ties
    * differently.
    */
  private[graft] def topKPerQuery(scored: DataFrame, k: Int,
      carry: String*): DataFrame = {
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cosine").desc, col("neighbor_id"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select((Seq("query_id", "rn", "neighbor_id") ++ carry :+ "cosine")
        .map(col): _*)
      .orderBy(col("query_id"), col("rn"))
  }

  /** Cross-set embedding decontamination — the vector-space twin of the
    * n-gram [[Dedup.decontaminate]] family (semantic train/eval overlap
    * that paraphrasing hides from token matching; the discipline behind
    * published embedding-similarity contamination audits). Flags every
    * corpus vector whose cosine to ANY benchmark vector is ≥ `tau`, with
    * the hit count. Returns `corpus` columns + (`n_hits`, `contaminated`).
    *
    * Scale shape mirrors the text path: the benchmark side is tiny
    * relative to the corpus and BROADCASTS; scoring is a map-only
    * broadcast nested-loop with the codegen'd cosine — the corpus never
    * shuffles to score. Only the hit set (≪ corpus under any useful tau)
    * reaches the id-keyed aggregation and joins back. For benchmark sets
    * too big to broadcast, prefilter candidates with [[srpSketch]] or an
    * IVF probe and verify exactly — the same widen-then-verify ladder as
    * the ANN family.
    */
  def crossDecontaminate(corpus: DataFrame, bench: DataFrame, tau: Double,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val hits = corpus.select(col(idCol), col(vecCol).as("__cv"))
      .crossJoin(broadcast(bench.select(col(vecCol).as("__bv"))))
      .filter(VecOps.cosineNative(col("__cv"), col("__bv")) >= tau)
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_hits"))
    corpus.join(hits, Seq(idCol), "left")
      .withColumn("n_hits", coalesce(col("n_hits"), lit(0L)))
      .withColumn("contaminated", col("n_hits") > 0)
  }

  /** Deterministic pseudo-random hyperplane component for (plane, dim):
    * splitmix64-style finalizer → uniform in [-1, 1]. Derived purely from
    * (plane index, dim, seed), so both join sides and all executors agree
    * without sharing or broadcasting any state.
    */
  private def planeComponent(plane: Int, d: Int, seed: Long): Double = {
    var h = seed ^ (plane.toLong * 0x9E3779B97F4A7C15L) ^ (d.toLong * 0xC2B2AE3D27D4EB4FL)
    h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 33
    (h & 0xFFFFF).toDouble / 0xFFFFF.toDouble * 2.0 - 1.0
  }

  /** Integer twin of [[planeComponent]]: the same avalanche over (plane,
    * dim, seed), with the low 20 bits mapped to the ODD integer
    * 2·(h & 0xFFFFF) − 0xFFFFF ∈ [−2^20+1, 2^20−1] instead of a float in
    * [−1, 1]. Every step is wrapping 64-bit integer arithmetic, so a SQL
    * engine replays it exactly (HUGEINT limb-split multiply, `//` for the
    * unsigned shifts — the tx_dedup_simhash_pairs recipe); the constant
    * positive rescale between the two forms preserves each component's
    * SIGN DISTRIBUTION but not values, so quantized signatures are a
    * parallel hash family, not a bit-for-bit match of the float one.
    */
  private[graft] def planeComponentQ(plane: Int, d: Int, seed: Long): Long = {
    var h = seed ^ (plane.toLong * 0x9E3779B97F4A7C15L) ^ (d.toLong * 0xC2B2AE3D27D4EB4FL)
    h ^= h >>> 33; h *= 0xFF51AFD7ED558CCDL; h ^= h >>> 33
    2L * (h & 0xFFFFFL) - 0xFFFFFL
  }

  /** floor(v·10⁶) per element — the engine-wide exact-arithmetic input
    * quantization (QueryPack convention): integer-valued doubles both
    * engines derive bit-identically from the stored floats.
    */
  private[graft] def quantizeExpr(vecCol: Column): Column =
    transform(vecCol, v => floor(v.cast("double") * lit(1e6)).cast("double"))

  /** [[signatures]] over QUANTIZED vectors and the integer hyperplane
    * family: bit j of table t = sign of Σ_d vq[d]·planeComponentQ(p, d) —
    * pure Long arithmetic end-to-end (|vq| ≤ ~10⁷, |c| < 2^20, dim ≤ 10³
    * keeps every dot far from overflow), so DuckDB replays the whole
    * signature → band → bucket pipeline and the gates built on this form
    * carry FULL oracles. The float [[signatures]] family stays the
    * production path; recall specs pin its behavior.
    */
  private def signaturesQuantized(numTables: Int, bitsPerTable: Int, seed: Long) = {
    val cache = new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Long]]]()
    udf { (v: Seq[Double]) =>
      val dim = v.length
      val planes = cache.computeIfAbsent(dim, d =>
        Array.tabulate(numTables * bitsPerTable)(p =>
          Array.tabulate(d)(planeComponentQ(p, _, seed))))
      val vq = new Array[Long](dim)
      var i = 0
      while (i < dim) { vq(i) = v(i).toLong; i += 1 }
      Array.tabulate(numTables) { t =>
        var sig = 0L
        var j = 0
        while (j < bitsPerTable) {
          val p = planes(t * bitsPerTable + j)
          var s = 0L
          var d2 = 0
          while (d2 < dim) { s += vq(d2) * p(d2); d2 += 1 }
          if (s >= 0) sig |= (1L << j)
          j += 1
        }
        sig
      }
    }
  }

  /** All-table signature vector via one UDF call per row with the plane
    * matrix captured in the closure (built lazily per observed dim). An
    * earlier all-Catalyst form re-derived every plane component via a hash
    * expression per element — numTables·bits·dim hash calls per row — and
    * measured ~10× slower; here each row costs one dense
    * (numTables·bits)×dim mat-vec in tight JVM loops.
    */
  private def signatures(numTables: Int, bitsPerTable: Int, seed: Long) = {
    val cache = new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Double]]]()
    udf { (v: Seq[Float]) =>
      val dim = v.length
      val planes = cache.computeIfAbsent(dim, d =>
        Array.tabulate(numTables * bitsPerTable)(p =>
          Array.tabulate(d)(planeComponent(p, _, seed))))
      val arr = new Array[Float](dim)
      var i = 0
      while (i < dim) { arr(i) = v(i); i += 1 }
      Array.tabulate(numTables) { t =>
        var sig = 0L
        var j = 0
        while (j < bitsPerTable) {
          val p = planes(t * bitsPerTable + j)
          var s = 0.0
          var d2 = 0
          while (d2 < dim) { s += arr(d2) * p(d2); d2 += 1 }
          if (s >= 0) sig |= (1L << j)
          j += 1
        }
        sig
      }
    }
  }

  /** A built IVF index: the coarse-quantizer centroids plus the
    * cell-assigned corpus (`neighbor_id`, `tv`, `cell`). At 100 TB this is
    * the artifact you build ONCE (and would write out partitioned by
    * `cell`), then probe many times — round-1 verdict item 5 replaced the
    * per-query rebuild with this split. `unpersist()` releases the cached
    * inverted file when the index is retired.
    */
  final case class IvfIndex(centers: Array[Array[Double]], assigned: DataFrame) {
    def unpersist(): Unit = { assigned.unpersist(); () }
  }

  /** Squared L2 distance between a row vector and a centroid. */
  private def sqDist(v: Seq[Float], ctr: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < ctr.length) { val dl = v(i) - ctr(i); s += dl * dl; i += 1 }
    s
  }

  /** Session conf key bounding the LOCAL Lloyd fast path inside
    * [[trainCentersDistributed]]: when the counted sample's per-round
    * work (nPts × k × dim distance ops) is at or under this budget, the
    * rounds run on the driver over the collected quantized sample —
    * bit-identical by construction (the same [[lloydAccumulate]] fold;
    * Long sums are order-free) — instead of paying one Spark job per
    * round that a single task finishes in milliseconds (guide §2.6: at
    * gate/sample scale the rounds are pure job-launch latency; the
    * retrain/rotation lifecycle gates run 3-4 trainings each). Large
    * samples and large nlist blow the budget and keep the distributed
    * fold — the 100 TB path is untouched. Set to 0 to force the
    * distributed fold (the trainer spec does, to keep exercising it).
    */
  private[graft] val LocalTrainOpsBudgetKey =
    "spark.graft.ann.localTrainOpsBudget"
  private[graft] val LocalTrainOpsBudgetDefault = 1L << 24

  /** One Lloyd round's assignment+accumulation over `rows` — ONE
    * definition shared by the distributed per-partition fold and the
    * driver-local fast path, so the two modes cannot drift. Quantized
    * integer space: exact Long sums (commutative + associative → the
    * partitioning/iteration order cannot move a bit); the squared
    * distance runs in double over exact integer operands in fixed index
    * order; ties keep the lowest center index (strict `<`).
    */
  private def lloydAccumulate(rows: Iterator[Array[Long]],
      ctr: Array[Array[Double]], k: Int,
      dim: Int): (Array[Array[Long]], Array[Long]) = {
    val s = Array.fill(k)(new Array[Long](dim))
    val c = new Array[Long](k)
    rows.foreach { q =>
      var best = 0; var bestD = Double.MaxValue
      var ci = 0
      while (ci < k) {
        val cc = ctr(ci)
        var d2 = 0.0; var i = 0
        while (i < dim) { val dl = q(i) - cc(i); d2 += dl * dl; i += 1 }
        if (d2 < bestD) { bestD = d2; best = ci }
        ci += 1
      }
      val sb = s(best)
      var i = 0
      while (i < dim) { sb(i) += q(i); i += 1 }
      c(best) += 1
    }
    (s, c)
  }

  /** The round's centroid update from the folded sums — shared like
    * [[lloydAccumulate]]. Empty cells keep their previous centroid; the
    * ratio is evaluated once in IEEE double (deterministic for fixed
    * operands).
    */
  private def lloydUpdate(prev: Array[Array[Double]],
      sums: Array[Array[Long]], counts: Array[Long], k: Int,
      dim: Int): Array[Array[Double]] =
    Array.tabulate(k)(ci =>
      if (counts(ci) > 0)
        Array.tabulate(dim)(i => sums(ci)(i).toDouble / counts(ci))
      else prev(ci))

  /** The coarse quantizer's trainer — the one piece of the IVF build
    * whose cost is NOT map-only, and the only one every build, retrain
    * and epoch rotation uses. Deterministic Lloyd rounds whose per-cell
    * accumulators are QUANTIZED INTEGER SUMS (floor(v·10⁶) longs — the
    * engine-wide exact-arithmetic convention): integer sums are
    * order-free and merge-combinable, so the rounds run as map-side-
    * combined partial aggregations across every core, yet the centroids
    * are bit-identical under ANY partitioning of the sample — which is
    * what keeps retrain ≡ rebuild bit-exact (spec- and gate-pinned).
    *
    * Points are Long vectors end-to-end, per-cell accumulators are
    * (Σq, count) Long sums folded per partition and reduced (associative
    * + commutative → partitioning-independent; the same fold runs
    * driver-local under [[LocalTrainOpsBudgetKey]]), and each round's
    * centroid view is the exact ratio Σq/count evaluated once in
    * IEEE double (deterministic for fixed operands). Assignment per point
    * scans centers in index order with strict `<`, so distance ties keep
    * the lowest index — deterministic. Empty cells keep their previous
    * centroid (the [[trainPqCodebook]] convention). Returned centers are
    * divided back to the original embedding space.
    *
    * Overflow headroom: |floor(v·10⁶)| ≤ ~10⁹ for any sane embedding and
    * the per-cell sum folds ≤ trainSample rows, so Σq stays ≤ ~10¹⁴ ≪
    * 2⁶³; the squared-distance accumulation runs in double (exact inputs,
    * fixed order).
    */
  private[graft] def trainCentersDistributed(
      corpus: DataFrame, nlist: Int, seed: Long,
      idCol: String, vecCol: String, trainSample: Int,
      iters: Int): Array[Array[Double]] = {
    val spark = corpus.sparkSession
    val sample = corpus
      .select(col(vecCol), xxhash64(col(idCol), lit(seed)).as("__h"))
      .orderBy(col("__h")).limit(trainSample)
      .select(col("__h"), transform(col(vecCol),
        v => floor(v.cast("double") * lit(1e6)).cast("long")).as("__q"))
    // deterministic init: the first nlist DISTINCT quantized vectors in
    // hash order (min hash per distinct content; a full hash collision
    // breaks ties by content — arrays order lexicographically)
    val initRows = sample.groupBy(col("__q")).agg(min(col("__h")).as("__mh"))
      .orderBy(col("__mh"), col("__q")).limit(nlist)
      .select(col("__q")).collect().map(_.getSeq[Long](0).toArray)
    require(initRows.nonEmpty,
      "distributed coarse trainer: empty training sample")
    val k = initRows.length // < nlist when fewer distinct vectors exist
    val dim = initRows.head.length
    // spread the sample across the cores — the whole point of this
    // trainer (the TakeOrdered sample occupies ONE partition, where
    // k-means would run single-threaded). Round-robin
    // placement is partitioning-dependent, and that is FINE: everything
    // downstream is an order-free integer fold. The slice count is
    // SCALE-ADAPTIVE (guide §2: never a constant tuned for one mode):
    // ~2k points per slice, capped at the core count — a tiny gate-scale
    // sample stays in one slice (each Lloyd round is then a single task
    // instead of defaultParallelism near-empty ones, and the rounds are
    // pure job latency at that scale), a full 50k sample spreads wide.
    val one = sample.select(col("__q")).rdd
      .map(_.getSeq[Long](0).toArray)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nPts = one.count()
    // LOCAL fast path (see [[LocalTrainOpsBudgetKey]]): tiny counted
    // sample × small k → collect once (bounded by the ops budget and an
    // explicit ≤ 32 MB memory guard) and run the SAME rounds on the
    // driver — zero jobs per round instead of one. Bit-identical: both
    // modes fold through [[lloydAccumulate]]/[[lloydUpdate]] and the
    // Long sums are order-free.
    val opsBudget = spark.conf.get(LocalTrainOpsBudgetKey,
      LocalTrainOpsBudgetDefault.toString).toLong
    if (nPts * k.toLong * dim <= opsBudget && nPts * dim.toLong <= (1L << 22)) {
      val localPts =
        try one.collect()
        finally one.unpersist(blocking = false)
      var centers: Array[Array[Double]] = initRows.map(_.map(_.toDouble))
      var it = 0
      while (it < iters) {
        val (sums, counts) = lloydAccumulate(localPts.iterator, centers, k, dim)
        centers = lloydUpdate(centers, sums, counts, k, dim)
        it += 1
      }
      return centers.map(_.map(_ / 1e6))
    }
    val slices = math.max(1L, math.min(
      spark.sparkContext.defaultParallelism.toLong, nPts / 2048L)).toInt
    val pts =
      if (slices > 1)
        one.repartition(slices)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else one
    try {
      var centers: Array[Array[Double]] = initRows.map(_.map(_.toDouble))
      var it = 0
      while (it < iters) {
        val bc = spark.sparkContext.broadcast(centers)
        val (sums, counts) = pts.mapPartitions { rows =>
          Iterator.single(lloydAccumulate(rows, bc.value, k, dim))
        }.reduce { case ((s1, c1), (s2, c2)) =>
          // plain reduce, not treeReduce (r19): each partition's partial
          // is k×(dim+1) longs (~4 KB at any sane nlist sample), so the
          // driver-side fold is free while treeReduce's intermediate
          // stages doubled the per-round job count — at gate scale the
          // rounds are pure job latency. Integer sums are commutative
          // and associative, so the fold order cannot move a bit.
          var ci = 0
          while (ci < k) {
            var i = 0
            while (i < dim) { s1(ci)(i) += s2(ci)(i); i += 1 }
            c1(ci) += c2(ci); ci += 1
          }
          (s1, c1)
        }
        bc.destroy()
        centers = lloydUpdate(centers, sums, counts, k, dim)
        it += 1
      }
      centers.map(_.map(_ / 1e6))
    } finally {
      pts.unpersist(blocking = false)
      if (!(pts eq one)) one.unpersist(blocking = false)
      ()
    }
  }

  /** Build the IVF inverted file. The quantizer trains on a bounded
    * HASH-ORDERED sample — `ORDER BY xxhash64(id, seed) LIMIT n` runs as a
    * distributed TakeOrdered (every partition contributes its local top-n,
    * merged on the driver), so the sample is unbiased by file order and
    * never gathers the corpus to one partition (unlike a bare `.limit`,
    * which at 100 TB both single-partition-gathers and trains on whatever
    * files happen to come first). The quantizer is
    * [[trainCentersDistributed]] — 10 Lloyd rounds suffice for a coarse
    * index, and its order-free integer folds make the centers a function
    * of the sample alone, never of the corpus's partitioning. With
    * `persist=true` the assigned corpus is cached for repeated probing
    * (the build-once path); one-shot callers pass false.
    */
  def buildIvfIndex(
      corpus: DataFrame, nlist: Int = 16, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      trainSample: Int = 50000, persist: Boolean = true): IvfIndex = {
    val centers = trainCentersDistributed(corpus, nlist, seed, idCol, vecCol,
      trainSample, iters = 10)
    val assigned = assignToCells(corpus, centers, idCol, vecCol)
    IvfIndex(centers, if (persist) assigned.persist() else assigned)
  }

  /** The nearest-center assignment under a frozen quantizer — one
    * definition shared by [[assignToCells]] and the fused int8/PQ passes.
    * Since r19 this composes the NATIVE codegen expression
    * [[graft.expressions.NearestCenter]] instead of a Scala-closure UDF:
    * the assignment is the build/append/retrain verbs' linear term at
    * corpus scale, and the closure paid a Catalyst→Seq[Float] conversion
    * plus lambda dispatch per row while evicting the projection from
    * whole-stage codegen. Bit-identical by the kernel's documented
    * fidelity contract (same widening, accumulation order, and first-wins
    * strict-< tie-break as the old closure).
    */
  private def assignUdf(centers: Array[Array[Double]]): Column => Column = {
    val dim = centers(0).length
    val flat = new Array[Double](centers.length * dim)
    var c = 0
    while (c < centers.length) {
      System.arraycopy(centers(c), 0, flat, c * dim, dim)
      c += 1
    }
    val k = centers.length
    (v: Column) => ColumnBridge.column(graft.expressions.NearestCenter(
      ColumnBridge.expression(v), flat, dim, k))
  }

  /** The probe-cell selection of the `ivfProbe*` family — the `nprobe`
    * nearest cells of the query vector ordered by (distance, cell id),
    * optionally restricted to a sorted candidate-cell subset (the
    * cell-aware filtered dial). Native codegen expression since r19, same
    * rationale and fidelity contract as [[assignUdf]].
    */
  private[graft] def probeCells(centers: Array[Array[Double]], nprobe: Int,
      among: Option[Array[Int]] = None): Column => Column = {
    val dim = centers(0).length
    val flat = new Array[Double](centers.length * dim)
    var c = 0
    while (c < centers.length) {
      System.arraycopy(centers(c), 0, flat, c * dim, dim)
      c += 1
    }
    val cells = among.getOrElse(Array.range(0, centers.length))
    (v: Column) => ColumnBridge.column(graft.expressions.NearestCells(
      ColumnBridge.expression(v), flat, dim, cells, nprobe))
  }

  /** Map-only nearest-center assignment under a FROZEN quantizer — the
    * shared step of the initial build and every incremental append.
    */
  private[graft] def assignToCells(vecs: DataFrame,
      centers: Array[Array[Double]],
      idCol: String, vecCol: String): DataFrame =
    vecs.select(col(idCol).as("neighbor_id"), col(vecCol).as("tv"),
      assignUdf(centers)(col(vecCol)).as("cell"))

  /** Incremental index maintenance: assign `newVecs` under the persisted
    * index's EXISTING centers and append them to its inverted file —
    * nightly vector arrivals join the index without a rebuild. The coarse
    * quantizer stays frozen (published IVF practice: retrain offline only
    * when drift degrades cell balance — Faiss's add-vs-train split);
    * assignment is one map-only pass and each new row lands in its cell's
    * partition directory via an append write, touching no existing file.
    * Probing the appended index is EXACTLY probing a fresh same-centers
    * assignment of the union corpus (spec-pinned): same centers → same
    * cells → same candidate sets → same exact re-rank distances.
    *
    * CALLER CONTRACT — ids are DISJOINT across appends (the
    * [[InvertedIndex.append]] contract, stated here too): re-appending a
    * live id leaves two identical inverted-file rows, and since r14 the
    * probe's rank cut no longer carries a defensive distinct (the dead
    * shuffle the r13 verdict flagged), so the duplicate would occupy two
    * top-k slots. Re-adding a TOMBSTONED id is also not a supported flow:
    * [[deleteFromAnnIndex]]'s anti-join matches the id, so it would kill
    * the new row along with the old — run [[compactAnnIndex]] first,
    * then append the replacement.
    */
  def appendToIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      newVecs: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit = {
    val centers = readCenters(spark, dir)
    if (validateAppends(spark))
      assertDisjointAppend(
        spark.read.parquet(s"$dir/assigned").select(col("neighbor_id")),
        newVecs.select(col(idCol).as("neighbor_id")),
        s"appendToIvfIndex($dir)")
    clusterByCell(assignToCells(newVecs, centers, idCol, vecCol))
      .write.mode("append").partitionBy("cell").parquet(s"$dir/assigned")
  }

  /** Session conf key for the OPT-IN disjoint-append invariant check
    * (default off). The append contract — ids disjoint across appends —
    * is load-bearing since the probe's defensive distinct was removed
    * (r14): a violated contract puts the same vector in two top-k slots
    * instead of being silently deduped. With
    * `spark.graft.ann.validateAppends=true`, every append/ingest site
    * pays one bounded semi-join over the incoming ids and FAILS LOUDLY
    * on a duplicate, so a contract violation surfaces in rehearsal
    * instead of corrupting rankings in production. Off by default: the
    * check scans the artifact's id column per append, which a
    * steady-state high-frequency ingest should not pay.
    */
  val ValidateAppendsConf = "spark.graft.ann.validateAppends"

  private[graft] def validateAppends(
      spark: org.apache.spark.sql.SparkSession): Boolean =
    spark.conf.getOption(ValidateAppendsConf).exists(_.toBoolean)

  /** The guard's one semi-join: incoming ids already present in the
    * artifact are a contract violation — report a bounded sample. */
  private[graft] def assertDisjointAppend(existingIds: DataFrame,
      incomingIds: DataFrame, site: String): Unit = {
    val dups = incomingIds
      .join(existingIds, Seq("neighbor_id"), "left_semi")
      .limit(5).collect().map(_.get(0))
    if (dups.nonEmpty)
      throw new IllegalStateException(
        s"$site: disjoint-ids append contract violated — incoming batch " +
          s"re-appends live id(s) ${dups.mkString(", ")} (first 5 shown). " +
          "A duplicated vector would occupy two top-k slots (the probe " +
          "carries no defensive distinct). Deduplicate upstream, or route " +
          "re-ingest through delete + compact + append.")
  }

  /** Cluster a cell-partitioned relation before its partitioned write
    * (guide §6 — output small-file discipline). Without an exchange,
    * every write task sprays one file into EVERY cell directory it
    * touches — tasks × nlist files; measured 51 s to write a 50 MB
    * inverted file at nlist 632 (~20k files), pure file-creation cost.
    * Hash-clustering rows on (cell, salt) bounds the artifact at
    * ≤ [[CellWriteSalt]] files per cell, while a skewed hot cell still
    * writes salt-way parallel (guide §2.5 — never funnel a hot key into
    * one task). Row values and every downstream read are unchanged; the
    * shuffle moves exactly the artifact's own bytes once.
    */
  private[graft] val CellWriteSalt = 4L
  private[graft] def clusterByCell(df: DataFrame,
      idCol: String = "neighbor_id"): DataFrame =
    df.repartition(col("cell"),
      pmod(xxhash64(col(idCol)), lit(CellWriteSalt)))

  /** The coarse quantizer's `centers/` relation under an artifact
    * directory — (cell, center) rows, one tiny file — written and read
    * HERE for every IVF layout (float, SQ8 and PQ artifacts, the
    * rebalance staging, the streamed bootstrap), so no two layouts can
    * disagree on its encoding. [[readCenters]] returns the centers
    * indexed by cell id.
    */
  private[graft] def writeCenters(spark: org.apache.spark.sql.SparkSession,
      dir: String, centers: Array[Array[Double]]): Unit = {
    import spark.implicits._
    centers.zipWithIndex
      .map { case (c, i) => (i, c.toSeq) }.toSeq.toDF("cell", "center")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/centers")
  }

  private[graft] def readCenters(spark: org.apache.spark.sql.SparkSession,
      dir: String): Array[Array[Double]] =
    spark.read.parquet(s"$dir/centers").collect()
      .map(r => r.getInt(0) -> r.getSeq[Double](1).toArray)
      .sortBy(_._1).map(_._2)

  // ---- the persisted ANN artifact: one codec per family, one lifecycle ----
  //
  // Four families persist — float IVF, IVF-SQ8, IVF-PQ and SRP — and what
  // differs between them is exactly an [[AnnCodec]]: the segment relation
  // and its served columns, the per-row encoder, the frozen state beside
  // it, and the index assembly. Save, load and the streamed lifecycle
  // ([[graft.streaming.StreamingVecIndex]]'s freeze / applyBatch /
  // compactTo / retrainEpoch) are each written ONCE over the codec, so a
  // fix to one lifecycle step reaches every family.

  type Centers = Array[Array[Double]]

  /** One persisted ANN family. `S` is its FROZEN state — what streaming
    * ingest never re-trains and a save writes beside the segment relation
    * (the coarse centers; centers plus the PQ codebook; the SRP hyperplane
    * family) — and `I` its serving index.
    */
  sealed abstract class AnnCodec[S, I](
      /** `assigned` (the cell-partitioned inverted file) or `sketch` (flat) */
      private[graft] val segment: String,
      /** the served projection of the segment; empty serves every column */
      private[graft] val columns: Seq[String],
      /** the frozen-state relations streaming ingest requires */
      private[graft] val stateRelations: Seq[String]) {
    /** The segment rows of `vecs` under the frozen state: one map-only pass. */
    private[graft] def encode(vecs: DataFrame, state: S, idCol: String,
        vecCol: String): DataFrame
    private[graft] def idColumn(state: S): String = "neighbor_id"
    /** Write the frozen state; `n` is a saved index's row count (a freeze
      * has none). */
    private[graft] def writeState(spark: org.apache.spark.sql.SparkSession,
        dir: String, state: S, n: Option[Long]): Unit
    /** Read the frozen state; `served` is the segment relation when a load
      * has it at hand. */
    private[graft] def readState(spark: org.apache.spark.sql.SparkSession,
        dir: String, served: Option[DataFrame]): S
    /** The index over `rel`; `n` is forced only by the families that carry
      * a row count. */
    private[graft] def assemble(state: S, rel: DataFrame, n: => Long): I
    /** `assemble`'s inverse; the row count only where the family has one. */
    private[graft] def parts(index: I): (S, DataFrame, Option[Long])
  }

  /** The IVF families: the frozen state holds the coarse centers an epoch
    * rotation re-trains. */
  sealed abstract class IvfCodec[S, I](columns: Seq[String],
      stateRelations: Seq[String])
      extends AnnCodec[S, I]("assigned", columns, stateRelations) {
    private[graft] def centers(state: S): Centers
    private[graft] def withCenters(state: S, centers: Centers): S
  }

  /** The IVF families whose whole frozen state is the centers. */
  sealed abstract class CentersCodec[I](columns: Seq[String])
      extends IvfCodec[Centers, I](columns, Seq("centers")) {
    private[graft] def writeState(spark: org.apache.spark.sql.SparkSession,
        dir: String, state: Centers, n: Option[Long]): Unit =
      writeCenters(spark, dir, state)
    private[graft] def readState(spark: org.apache.spark.sql.SparkSession,
        dir: String, served: Option[DataFrame]): Centers =
      readCenters(spark, dir)
    private[graft] def centers(state: Centers): Centers = state
    private[graft] def withCenters(state: Centers, centers: Centers): Centers =
      centers
  }

  /** The SRP family's frozen state: the hyperplanes are hash-derived from
    * (bits, seed), so freezing the pair freezes the family; `idCol` names
    * the sketch's id column ON the artifact, so the delete lifecycle
    * anti-joins on the right column even after the sketch schema evolves
    * (r15). */
  final case class SrpPlanes(bits: Int = 128, seed: Long = 42L,
      idCol: String = "vec_id") {
    require(bits % 64 == 0 && bits > 0,
      s"bits=$bits must be a positive multiple of 64")
  }

  object AnnCodec {
    /** Float IVF: `assigned` = (neighbor_id, tv, cell) under `centers/`. */
    case object Float extends CentersCodec[IvfIndex](
        Seq("neighbor_id", "tv", "cell")) {
      private[graft] def encode(vecs: DataFrame, state: Centers,
          idCol: String, vecCol: String): DataFrame =
        assignToCells(vecs, state, idCol, vecCol)
      private[graft] def assemble(state: Centers, rel: DataFrame,
          n: => Long): IvfIndex = IvfIndex(state, rel)
      private[graft] def parts(index: IvfIndex) =
        (index.centers, index.assigned, None)
    }

    /** IVF-SQ8: the inverted file stores per-row int8 codes (bytes, scale,
      * norm) — the 4× saving is what gets persisted. */
    case object Int8 extends CentersCodec[IvfInt8Index](
        Seq("neighbor_id", "cell", "scale", "qnorm", "qv")) {
      private[graft] def encode(vecs: DataFrame, state: Centers,
          idCol: String, vecCol: String): DataFrame =
        assignAndQuantizeInt8(vecs, state, idCol, vecCol)
      private[graft] def assemble(state: Centers, rel: DataFrame,
          n: => Long): IvfInt8Index = IvfInt8Index(state, rel)
      private[graft] def parts(index: IvfInt8Index) =
        (index.centers, index.assigned, None)
    }

    /** IVF-PQ: 8-byte codes under `centers/` plus `codebook/` (sub, code,
      * center); a save stamps `meta/` = (n), the auto refine dial's input. */
    case object Pq extends IvfCodec[(Centers, PqCodebook), IvfPqIndex](
        Seq("neighbor_id", "codes", "rnorm", "cell"),
        Seq("centers", "codebook")) {
      private[graft] def encode(vecs: DataFrame, state: (Centers, PqCodebook),
          idCol: String, vecCol: String): DataFrame =
        assignAndEncodePq(vecs, state._1, state._2, idCol, vecCol)
      private[graft] def writeState(spark: org.apache.spark.sql.SparkSession,
          dir: String, state: (Centers, PqCodebook), n: Option[Long]): Unit = {
        import spark.implicits._
        writeCenters(spark, dir, state._1)
        writeCodebook(spark, state._2, dir)
        n.foreach(v => Seq(Tuple1(v)).toDF("n")
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta"))
      }
      private[graft] def readState(spark: org.apache.spark.sql.SparkSession,
          dir: String, served: Option[DataFrame]): (Centers, PqCodebook) =
        (readCenters(spark, dir), readCodebook(spark, dir))
      private[graft] def assemble(state: (Centers, PqCodebook),
          rel: DataFrame, n: => Long): IvfPqIndex =
        IvfPqIndex(state._1, state._2, rel, n)
      private[graft] def parts(index: IvfPqIndex) =
        ((index.centers, index.book), index.assigned, Some(index.n))
      private[graft] def centers(state: (Centers, PqCodebook)): Centers =
        state._1
      private[graft] def withCenters(state: (Centers, PqCodebook),
          centers: Centers): (Centers, PqCodebook) = (centers, state._2)
    }

    /** SRP: the flat packed-signature `sketch/` (16 bytes/vector at 128
      * bits) beside one `meta/` row (n, bits, seed, id_col); a freeze
      * stamps n = −1, since a streamed artifact has no single n. The id
      * column is the FROZEN one — SRP ingest ignores the caller's. */
    case object Srp extends AnnCodec[SrpPlanes, SrpIndex]("sketch", Nil,
        Seq("meta")) {
      private[graft] def encode(vecs: DataFrame, state: SrpPlanes,
          idCol: String, vecCol: String): DataFrame =
        srpSketch(vecs, state.bits, state.seed, state.idCol, vecCol)
      override private[graft] def idColumn(state: SrpPlanes): String =
        state.idCol
      private[graft] def writeState(spark: org.apache.spark.sql.SparkSession,
          dir: String, state: SrpPlanes, n: Option[Long]): Unit = {
        import spark.implicits._
        Seq((n.getOrElse(-1L), state.bits, state.seed, state.idCol))
          .toDF("n", "bits", "seed", "id_col")
          .coalesce(1).write.mode("overwrite").parquet(s"$dir/meta")
      }
      // a load resolves the id column against the served sketch (legacy
      // artifacts without id_col: the unambiguous-schema inference)
      private[graft] def readState(spark: org.apache.spark.sql.SparkSession,
          dir: String, served: Option[DataFrame]): SrpPlanes = {
        val m = spark.read.parquet(s"$dir/meta").collect()(0)
        SrpPlanes(m.getAs[Int]("bits"), m.getAs[Long]("seed"),
          served.fold(m.getAs[String]("id_col"))(srpIdColumn(spark, dir, _)))
      }
      private[graft] def assemble(state: SrpPlanes, rel: DataFrame,
          n: => Long): SrpIndex =
        SrpIndex(rel, n, state.bits, state.seed, state.idCol)
      private[graft] def parts(index: SrpIndex) =
        (SrpPlanes(index.bits, index.seed, index.idCol), index.sketched,
          Some(index.n))
    }
  }

  /** Write a segment relation: the inverted file cell-clustered and
    * PARTITIONED BY cell (a probe's nprobe-cell equi-join prunes to nprobe
    * directories at the scan), the SRP sketch flat. */
  private[graft] def writeSegment(rel: DataFrame, segment: String,
      path: String): Unit =
    if (segment == "sketch") rel.write.mode("overwrite").parquet(path)
    else clusterByCell(rel).write.mode("overwrite").partitionBy("cell")
      .parquet(path)

  /** Persist a built ANN index under `dir`: the family's frozen state, then
    * its segment relation. Round-trips via [[loadAnnIndex]]: probe results
    * are identical after reload (spec-pinned per family).
    */
  def saveAnnIndex[S, I](codec: AnnCodec[S, I], index: I, dir: String): Unit = {
    val (state, rel, n) = codec.parts(index)
    codec.writeState(rel.sparkSession, dir, state, n)
    writeSegment(rel, codec.segment, s"$dir/${codec.segment}")
  }

  /** Load a persisted ANN index — the batch artifact ([[saveAnnIndex]]) and
    * the streamed directory ([[graft.streaming.StreamingVecIndex]]) alike.
    * A torn multi-relation cut-over refuses ([[requireNotTorn]]); the
    * segment relation scopes to the `_segments` manifest when one exists,
    * drops the `batch` write identity, projects the served columns and
    * applies any [[deleteFromAnnIndex]] tombstones exactly. The segment
    * reads lazily (cell partition pruning intact); `persist` caches it for
    * repeated probing. `n` (PQ, SRP) comes from `meta/` when it holds an
    * n ≥ 0 and no tombstones apply; otherwise it counts the live relation
    * (one bounded load-time job) — n feeds the auto refine dial and must
    * describe what the probe can actually see.
    */
  def loadAnnIndex[S, I](codec: AnnCodec[S, I],
      spark: org.apache.spark.sql.SparkSession, dir: String,
      persist: Boolean = true): I = {
    import org.apache.hadoop.fs.Path
    requireNotTorn(spark, dir)
    val (fs, root) = InvertedIndex.fsFor(spark, dir)
    val served = liveSegment(spark, dir, codec.segment)
    val state = codec.readState(spark, dir, Some(served))
    val live = applyAnnTombstones(spark, dir,
      if (codec.columns.isEmpty) served
      else served.select(codec.columns.map(col): _*),
      codec.idColumn(state))
    val rel = if (persist) live.persist() else live
    codec.assemble(state, rel, {
      val stamped =
        if (fs.exists(new Path(root, "tombstones")) ||
            !fs.exists(new Path(root, "meta"))) -1L
        else spark.read.parquet(s"$dir/meta").select(col("n"))
          .collect()(0).getLong(0)
      if (stamped >= 0) stamped else rel.count()
    })
  }

  /** A segment relation as served: scoped to the live segments when a
    * `_segments` merge manifest governs the directory, without the
    * `batch` write identity (a no-op on the batch layout). */
  private[graft] def liveSegment(spark: org.apache.spark.sql.SparkSession,
      dir: String, segment: String): DataFrame = {
    val (fs, root) = InvertedIndex.fsFor(spark, dir)
    val raw = spark.read.parquet(s"$dir/$segment")
    (if (fs.exists(new org.apache.hadoop.fs.Path(root, "_segments")))
      raw.filter(col("batch").isin(
        graft.streaming.StreamingVecIndex.liveSegments(spark, dir): _*))
     else raw).drop("batch")
  }

  /** [[saveAnnIndex]] for the float family. */
  def saveIvfIndex(index: IvfIndex, dir: String): Unit =
    saveAnnIndex(AnnCodec.Float, index, dir)

  /** [[loadAnnIndex]] for the float family. */
  def loadIvfIndex(spark: org.apache.spark.sql.SparkSession, dir: String,
      persist: Boolean = true): IvfIndex =
    loadAnnIndex(AnnCodec.Float, spark, dir, persist)

  /** Cell-occupancy health of a persisted IVF index — the maintenance
    * trigger that keeps the build-once artifact honest under continuous
    * [[appendToIvfIndex]] ingest. A FROZEN quantizer never re-balances:
    * if the ingest distribution drifts away from the training sample, new
    * vectors pile into few cells, and probe cost/recall degrade silently
    * (a probe visiting a cell at s×mean scans s× its candidate budget,
    * while the queries those vectors answer concentrate where the
    * quantizer no longer separates). `skew` = max cell size / mean cell
    * size over ALL nlist cells (empty cells count in the mean — drift
    * shows up as empty-plus-overfull, and shrinking the denominator would
    * understate it).
    *
    * `needsRecluster` trips at `reclusterSkewThreshold` (default 4: a
    * probe touching the hot cell pays ≥4× its candidate budget — the
    * point where re-training the quantizer on a fresh sample costs less
    * than every future probe overpaying; same order as the FAISS
    * imbalance-factor guidance). The repair ladder (r18): when the
    * imbalance is CONCENTRATED — few cells overfull while recall holds
    * — [[rebalanceCells]] is the bounded repair (split only the flagged
    * cells, cost ∝ skewed-cell volume); when the whole distribution has
    * drifted (recall decay, skew spread wide), route to the full
    * [[retrainIvf]] (r17): re-train on the live rows, map-only
    * re-assign, rename-aside cut-over — measured decay-then-recovery in
    * ScaleBench's ann_drift_retrain grid. Note skew is bounded above by nlist
    * (all mass in one cell), so the threshold only has headroom when
    * nlist ≫ threshold — at tiny nlist, watch maxCellSize directly.
    * One cell-count aggregation — O(nlist) result, safe to run per
    * append batch.
    */
  final case class IvfSkewReport(
      nlist: Int, nonEmptyCells: Int, totalVectors: Long,
      maxCellSize: Long, meanCellSize: Double, skew: Double,
      needsRecluster: Boolean)

  def ivfSkewReport(spark: org.apache.spark.sql.SparkSession, dir: String,
      reclusterSkewThreshold: Double = 4.0): IvfSkewReport = {
    // a streamed layout must scope to LIVE segments (a crashed merge's
    // orphans or a folded segment would silently inflate the counts) —
    // that scoping lives with the manifest machinery
    val (fs, root) = InvertedIndex.fsFor(spark, dir)
    requireNotStreamed(fs, root, dir,
      "StreamingVecIndex.skewReport(dir) (manifest-scoped, tombstone-" +
        "applied — the shape the stream actually serves)")
    val nlist = spark.read.parquet(s"$dir/centers").count().toInt
    val counts = spark.read.parquet(s"$dir/assigned")
      .groupBy(col("cell")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(1)).toSeq
    skewReportOver(nlist, counts, reclusterSkewThreshold)
  }

  /** The report math on already-resolved cell counts — ONE definition
    * shared by the batch report and [[graft.streaming.StreamingVecIndex
    * .skewReport]]'s manifest-scoped twin, so the trigger semantics
    * cannot drift between the two layouts.
    */
  private[graft] def skewReportOver(nlist: Int, counts: Seq[Long],
      reclusterSkewThreshold: Double): IvfSkewReport = {
    require(reclusterSkewThreshold > 1.0,
      s"threshold must exceed 1 (perfect balance), got $reclusterSkewThreshold")
    val total = counts.sum
    val maxSz = if (counts.isEmpty) 0L else counts.max
    val mean = if (nlist == 0) 0.0 else total.toDouble / nlist
    val skew = if (mean == 0.0) 1.0 else maxSz / mean
    IvfSkewReport(nlist, counts.length, total, maxSz, mean, skew,
      skew >= reclusterSkewThreshold)
  }

  // ---- delete lifecycle for the persisted ANN artifacts (r14) ----
  //
  // The vector-store half of the takedown story the lexical index
  // already has (InvertedIndex.delete/compact): a GDPR/DMCA removal
  // against a persisted embedding index must not force a full rebuild.
  // One tombstone relation per artifact directory, applied EXACTLY at
  // load (an anti-join above the inverted-file scan, so cell partition
  // pruning still reaches it), folded into rewritten files by
  // [[compactAnnIndex]]. All four artifact families (IVF float / SQ8 /
  // PQ / SRP) share the same relation and the same compact, because a
  // deletion's identity is the vector id in every layout.

  /** Tombstone a batch of vector ids on a persisted ANN artifact
    * (every [[saveAnnIndex]] family's directory, batch or streamed,
    * accepts it). Idempotent (ids
    * distinct at load) and safe for ids the index never held; write cost
    * is O(batch), the file rewrite is deferred to [[compactAnnIndex]].
    * Probes after a load see the deletion exactly: dead rows leave the
    * inverted file (or sketch scan) before any scoring, so they can
    * neither rank nor displace a shortlist slot.
    *
    * The tombstone relation carries the ARTIFACT's id type, resolved
    * from the artifact itself (the inverted file's neighbor_id, or the
    * SRP sketch's named id column): the relation is applied as an
    * anti-join against that column, and an unconditional cast to long
    * (the pre-r15 form) would turn a takedown against a string-keyed
    * SRP artifact into all-null tombstones that delete NOTHING. An id
    * the artifact's type cannot represent now fails loudly at write
    * time instead.
    */
  def deleteFromAnnIndex(ids: DataFrame, dir: String,
      idCol: String = "vec_id"): Unit = {
    val spark = ids.sparkSession
    val (fs, root) = InvertedIndex.fsFor(spark, dir)
    val idType =
      if (fs.exists(new org.apache.hadoop.fs.Path(root, "assigned")))
        spark.read.parquet(s"$dir/assigned").schema("neighbor_id").dataType
      else {
        val sk = spark.read.parquet(s"$dir/sketch")
        sk.schema(srpIdColumn(spark, dir, sk)).dataType
      }
    // try_cast, not cast: the probe must stay in control of the error —
    // under ANSI mode a plain cast throws Spark's generic message, and
    // under non-ANSI it silently nulls (the exact no-op this guard kills)
    ids.select(
        when(col(idCol).isNotNull && col(idCol).try_cast(idType).isNull,
          raise_error(concat(lit("deleteFromAnnIndex: id '"),
            col(idCol).cast("string"),
            lit(s"' does not cast to the artifact's id type $idType — " +
              "a lossy cast would tombstone nothing"))))
          .otherwise(col(idCol).try_cast(idType)).as("vec_id"))
      .distinct()
      .write.mode("append").parquet(s"$dir/tombstones")
  }

  /** The persisted SRP artifact's id column: the `id_col` metadata when
    * the artifact carries it (r15 [[AnnCodec.Srp]] layout — the
    * modulus-on-the-artifact lesson from the suggest grid), else the
    * single non-signature column of the sketch schema, REQUIRED to be
    * unambiguous: a legacy artifact whose sketch grew extra columns has
    * no trustworthy id detection, and guessing the first one would make
    * [[compactAnnIndex]] anti-join on the wrong column — deleting
    * nothing, or everything.
    */
  private[graft] def srpIdColumn(spark: org.apache.spark.sql.SparkSession,
      dir: String, sketch: DataFrame): String = {
    val meta = spark.read.parquet(s"$dir/meta")
    if (meta.columns.contains("id_col")) {
      val named = meta.select(col("id_col")).collect()(0).getString(0)
      require(sketch.columns.contains(named),
        s"SRP artifact $dir names id column '$named' in meta/ but the " +
          s"sketch schema is ${sketch.columns.mkString("(", ", ", ")")}")
      named
    } else {
      val nonSig = sketch.columns.filterNot(_.matches("sig\\d+"))
      require(nonSig.length == 1,
        s"cannot infer the id column of legacy SRP artifact $dir: " +
          s"${nonSig.length} non-signature columns " +
          s"${nonSig.mkString("(", ", ", ")")} — re-save with " +
          "saveAnnIndex(AnnCodec.Srp, …) to stamp id_col metadata")
      nonSig.head
    }
  }

  /** [[deleteFromAnnIndex]] for a driver-side id list. */
  def deleteFromAnnIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String, ids: Seq[Long]): Unit = {
    import spark.implicits._
    deleteFromAnnIndex(ids.toDF("vec_id"), dir)
  }

  /** The artifact's distinct tombstone set, when it has one. */
  private[graft] def annTombstones(spark: org.apache.spark.sql.SparkSession,
      dir: String): Option[DataFrame] = {
    val (fs, root) = InvertedIndex.fsFor(spark, dir)
    if (fs.exists(new org.apache.hadoop.fs.Path(root, "tombstones")))
      Some(spark.read.parquet(s"$dir/tombstones")
        .select(col("vec_id")).distinct())
    else None
  }

  /** Anti-join the tombstones (if any) out of an artifact relation. The
    * tombstone side broadcasts (bounded by deletions, ≪ corpus) and the
    * join sits ABOVE the scan, so the probe's cell filter still prunes
    * partitions underneath it.
    */
  private[graft] def applyAnnTombstones(spark: org.apache.spark.sql.SparkSession,
      dir: String, rel: DataFrame, relIdCol: String): DataFrame =
    annTombstones(spark, dir).fold(rel)(t =>
      rel.join(broadcast(t.select(col("vec_id").as(relIdCol))),
        Seq(relIdCol), "left_anti"))

  /** Fold accumulated tombstones into a persisted ANN artifact: rewrite
    * the data relation (`assigned/` for the IVF family, `sketch/` for
    * SRP) without the dead vectors, refresh the `meta/` row-count where
    * the layout carries one (PQ's n, SRP's (n, bits, seed)), and drop
    * the tombstone relation — the [[InvertedIndex.compact]] shape. After
    * compact, loads pay no per-load anti-join and probes are bit-
    * identical to a same-centers assignment of the surviving corpus.
    * Stages into a sibling directory and renames — the versioned
    * artifact-directory cut-over at cluster scale.
    */
  def compactAnnIndex(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    import org.apache.hadoop.fs.Path
    val (fs, root) = InvertedIndex.fsFor(spark, dir)
    // the refusal sits ABOVE the tombstone early-return so it is
    // unconditional — an operator validating an in-place compaction job
    // against a freshly streamed (not-yet-deleted-from) directory must
    // fail in the rehearsal, not in production when the first takedown
    // lands.
    requireNotStreamed(fs, root, dir,
      "StreamingVecIndex.compactTo(codec, …, dir, outDir) " +
        "(tombstones apply there at load and fold into the compacted copy)")
    if (!fs.exists(new Path(root, "tombstones"))) return
    val staging = s"$dir-compact-staging"
    val stagingRoot = new Path(staging)
    fs.delete(stagingRoot, true)
    import spark.implicits._
    val rewritten: Seq[String] =
      if (fs.exists(new Path(root, "assigned"))) {
        // IVF family (float / SQ8 / PQ): cell-partitioned inverted file
        writeSegment(applyAnnTombstones(spark, dir,
          spark.read.parquet(s"$dir/assigned"), "neighbor_id"),
          "assigned", s"$staging/assigned")
        if (fs.exists(new Path(root, "meta"))) { // PQ carries n
          val n = spark.read.parquet(s"$staging/assigned").count()
          Seq(Tuple1(n)).toDF("n")
            .coalesce(1).write.mode("overwrite").parquet(s"$staging/meta")
          Seq("assigned", "meta")
        } else Seq("assigned")
      } else {
        // SRP: flat sketch relation + (n, bits, seed[, id_col]) metadata.
        // The id column comes from the artifact's OWN metadata (or the
        // unambiguous-schema inference for legacy artifacts — loud, never
        // a first-column guess), and the rewrite always stamps id_col so
        // a compacted legacy artifact is upgraded to the named layout.
        val sk = spark.read.parquet(s"$dir/sketch")
        val relId = srpIdColumn(spark, dir, sk)
        writeSegment(applyAnnTombstones(spark, dir, sk, relId), "sketch",
          s"$staging/sketch")
        val meta = spark.read.parquet(s"$dir/meta").collect()(0)
        AnnCodec.Srp.writeState(spark, staging,
          SrpPlanes(meta.getAs[Int]("bits"), meta.getAs[Long]("seed"), relId),
          Some(spark.read.parquet(s"$staging/sketch").count()))
        Seq("sketch", "meta")
      }
    cutOverRelations(fs, root, stagingRoot, dir, "compact", rewritten)
    fs.delete(new Path(root, "tombstones"), true)
    fs.delete(stagingRoot, true)
  }

  /** Refuse an in-place rewrite of a STREAMED layout (StreamingVecIndex:
    * `batch=` segment partitions + an optional `_segments` manifest) —
    * the rewrite would drop the batch level, orphan the manifest, and
    * break segment listing/replay identity. One definition for every
    * in-place maintenance verb ([[compactAnnIndex]], the retrain family)
    * so the refusal and its routing advice cannot drift.
    */
  private def requireNotStreamed(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, dir: String, route: String): Unit = {
    import org.apache.hadoop.fs.Path
    val streamed = fs.exists(new Path(root, "_segments")) ||
      Seq("assigned", "sketch").exists { sub =>
        val p = new Path(root, sub)
        fs.exists(p) && fs.listStatus(p)
          .exists(_.getPath.getName.startsWith("batch="))
      }
    require(!streamed,
      s"$dir is a streamed StreamingVecIndex layout — use $route")
  }

  // ---- torn multi-relation cut-over detection (r18, ADVICE r17) ----
  //
  // The staged-rewrite verbs (compact / retrain / rebalance) commit
  // MULTIPLE relations one rename at a time, so a crash between two
  // relation cuts leaves mixed geometry live (a new inverted file under
  // old centers, or a refreshed meta beside a stale codebook) — data-safe
  // (staging + `-old` copies survive) but silently WRONG to serve: a
  // probe would mis-route candidates. The window was documented but
  // undetectable at load. Now every such verb drops a `_graft_cutover_
  // pending` marker at the artifact root immediately before its first
  // rename and clears it only after the last relation committed and
  // staging was swept; the loaders refuse a marked artifact with the
  // recovery route instead of serving mis-routed probes. Hadoop/Spark
  // readers ignore `_`-prefixed files, so the marker never perturbs the
  // relations themselves.

  private val PendingMarkerName = "_graft_cutover_pending"

  private def markPending(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path, verb: String): Unit = {
    val out = fs.create(
      new org.apache.hadoop.fs.Path(root, PendingMarkerName), true)
    try out.write(verb.getBytes("UTF-8")) finally out.close()
  }

  private def clearPending(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path): Unit = {
    fs.delete(new org.apache.hadoop.fs.Path(root, PendingMarkerName), false)
    ()
  }

  /** Refuse to assemble an index whose last multi-relation cut-over never
    * completed. Recovery is one rename, never re-deriving data: if
    * `<dir>-<verb>-staging` (or the verb's `-old` siblings) still holds
    * relations, finish or roll back the cut by renaming them, then delete
    * the marker file.
    */
  private[graft] def requireNotTorn(spark: org.apache.spark.sql.SparkSession,
      dir: String): Unit = {
    val (fs, root) = InvertedIndex.fsFor(spark, dir)
    val p = new org.apache.hadoop.fs.Path(root, PendingMarkerName)
    if (fs.exists(p)) {
      val in = fs.open(p)
      val verb = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
        finally in.close()
      throw new IllegalStateException(
        s"$dir: a multi-relation '$verb' cut-over did not complete — the " +
          "artifact may hold MIXED GEOMETRY (e.g. a re-assigned inverted " +
          s"file under the old centers) and probes would mis-route. Finish " +
          s"the cut from $dir-$verb-staging (or rename the `-$verb-old` " +
          s"relations back), then delete $dir/$PendingMarkerName.")
    }
  }

  /** The shared staged-rewrite commit: rename each live relation ASIDE
    * before renaming its staged replacement in (r15 — the
    * delete-then-rename form left the artifact with NO live relation if
    * a crash landed between the two). Any crash point leaves either the
    * old relation live, or the old relation at `<sub>-<verb>-old` beside
    * the complete staged copy — recovery is renaming one directory back,
    * never re-deriving data. Shared by [[compactAnnIndex]] and the
    * retrain family so a fix to the crash-window ordering cannot
    * desynchronize them.
    */
  private def cutOverRelations(fs: org.apache.hadoop.fs.FileSystem,
      root: org.apache.hadoop.fs.Path,
      stagingRoot: org.apache.hadoop.fs.Path, dir: String, verb: String,
      subs: Seq[String]): Unit = {
    import org.apache.hadoop.fs.Path
    // the torn-state marker brackets exactly the mixed-geometry window:
    // set before the first rename, cleared after the last relation
    // committed (the caller's remaining steps — tombstone drop, staging
    // sweep — are safe in any crash order)
    markPending(fs, root, verb)
    subs.foreach { sub =>
      val live = new Path(root, sub)
      val old = new Path(root, s"$sub-$verb-old")
      fs.delete(old, true)
      if (fs.exists(live) && !fs.rename(live, old))
        throw new java.io.IOException(
          s"${verb}AnnIndex: rename $dir/$sub -> $dir/$sub-$verb-old failed")
      if (!fs.rename(new Path(stagingRoot, sub), live))
        throw new java.io.IOException(
          s"${verb}AnnIndex: rename $stagingRoot/$sub -> $dir/$sub failed — " +
            s"the pre-$verb relation is preserved at $dir/$sub-$verb-old")
      fs.delete(old, true)
    }
    clearPending(fs, root)
  }

  // ---- retrain lifecycle: the drift repair (r17) ----
  //
  // Every streamed/appended ingest path assigns under a FROZEN coarse
  // quantizer (published IVF practice — Faiss's add-vs-train split), so
  // on a drifting corpus cell skew grows and probe recall decays with
  // no repair short of a full offline rebuild. These verbs are that
  // repair as an in-place artifact operation: re-train the centers on a
  // hash-ordered sample of the artifact's LIVE rows (tombstones
  // excluded — a taken-down vector must not vote on the new geometry),
  // re-assign every live row map-only, and cut the rewritten relations
  // over with the compact crash discipline (staged copy complete before
  // any rename; any crash point recovers by renaming one directory
  // back). Tombstones are folded by construction — the new inverted
  // file contains only survivors — so they are dropped at the end (a
  // crash before that deletion leaves them applying as a harmless
  // no-op anti-join against already-removed ids).
  //
  // [[ivfSkewReport]] is the trigger (its needsRecluster bit), retrain
  // the repair; the decay-then-recovery profile is measured in
  // ScaleBench's ann_drift_retrain section. SRP has no retrain BY
  // CONSTRUCTION: its geometry (hash-derived hyperplanes from
  // (bits, seed)) is data-independent, so distribution drift cannot
  // unbalance it — there is nothing to re-train.
  //
  // Cross-relation crash window, stated explicitly: retrain rewrites
  // MULTIPLE relations (assigned + centers [+ codebook + meta]) and the
  // per-sub cut-over commits them one rename at a time, so a crash
  // BETWEEN two relation cuts leaves mixed geometry live (new inverted
  // file under old centers, or vice versa — a probe would mis-route
  // candidates). That window never loses data: the staged artifact is
  // COMPLETE before the first rename and `-retrain-staging` is deleted
  // only after every relation cut over, so recovery is finishing the
  // cut from the intact staging (or renaming the `-retrain-old`
  // relation back) — one rename, never re-deriving anything. And since
  // r18 the window is DETECTED, not just documented: the cut-over
  // brackets itself with the `_graft_cutover_pending` marker and every
  // loader refuses a marked artifact ([[requireNotTorn]]), so a torn
  // retrain surfaces at the next load instead of serving mis-routed
  // probes. Operators wanting a single commit point can route through
  // the out-of-place form instead: retrain into a staging COPY of the
  // artifact and swap serving paths (the versioned-directory
  // convention).
  //
  // Reference analog: the reference re-extracts embeddings per model
  // run (`src/extract_embedding.py:117-137`) — its "index" is always
  // fresh; freshness under drift is the implicit contract these verbs
  // restore for a persisted artifact.

  /** Re-train a persisted FLOAT IVF artifact ([[saveIvfIndex]] layout)
    * in place. Self-contained: the inverted file carries the float
    * vectors, so the live rows are both the training sample source and
    * the re-assignment input. `nlist` 0 keeps the artifact's current
    * cell count; pass a new one to re-shape (the √n policy via
    * [[ivfScaleParams]] as the corpus grows). Determinism: the sample
    * is `ORDER BY xxhash64(id, seed) LIMIT trainSample` — a distributed
    * TakeOrdered whose result is independent of file order and
    * partitioning — and [[trainCentersDistributed]] is deterministic on
    * it (order-free quantized integer sums folded across all cores), so
    * retraining an UNDRIFTED artifact reproduces a fresh
    * [[buildIvfIndex]] of the same corpus bit-exactly (spec- and
    * gate-pinned: same centers, same cells, same probe rows).
    *
    * A streamed directory is refused — fold it to the batch layout
    * first ([[graft.streaming.StreamingVecIndex.compactTo]]), then
    * retrain the fold and [[graft.streaming.StreamingVecIndex
    * .freezeCenters]] the new quantizer for the next stream epoch.
    */
  def retrainIvf(spark: org.apache.spark.sql.SparkSession, dir: String,
      nlist: Int = 0, seed: Long = 42L, trainSample: Int = 50000): Unit =
    retrainInPlace(spark, dir,
      "StreamingVecIndex.compactTo(dir, outDir) first, then retrain the " +
        "folded artifact and freezeCenters the new quantizer",
      Seq("assigned", "centers")) { staging =>
      val live = applyAnnTombstones(spark, dir,
        spark.read.parquet(s"$dir/assigned")
          .select(col("neighbor_id"), col("tv")), "neighbor_id")
      saveIvfIndex(buildIvfIndex(live, resolveNlist(spark, dir, nlist), seed,
        "neighbor_id", "tv", trainSample, persist = false), staging)
    }

  /** The in-place retrain sequence all three families share: refuse a
    * streamed directory (`streamedHint` names the fold-first route),
    * clear `<dir>-retrain-staging`, let the family's `stage` write the
    * complete replacement artifact there, cut `relations` over
    * ([[cutOverRelations]] — the torn-window marker and rename-aside),
    * then drop the tombstones the live-row retrain already applied and
    * the emptied staging directory.
    */
  private def retrainInPlace(spark: org.apache.spark.sql.SparkSession,
      dir: String, streamedHint: String, relations: Seq[String])(
      stage: String => Unit): Unit = {
    import org.apache.hadoop.fs.Path
    val (fs, root) = InvertedIndex.fsFor(spark, dir)
    requireNotStreamed(fs, root, dir, streamedHint)
    val staging = new Path(s"$dir-retrain-staging")
    fs.delete(staging, true)
    stage(staging.toString)
    cutOverRelations(fs, root, staging, dir, "retrain", relations)
    fs.delete(new Path(root, "tombstones"), true)
    fs.delete(staging, true)
  }

  // nlist = 0 keeps the artifact's current cell count — resolved from
  // the artifact itself (the SuggestBuckets meta-resolution discipline)
  private def resolveNlist(spark: org.apache.spark.sql.SparkSession,
      dir: String, nlist: Int): Int = {
    require(nlist >= 0, s"nlist must be >= 0 (0 = keep current), got $nlist")
    if (nlist > 0) nlist
    else {
      val cur = spark.read.parquet(s"$dir/centers").count().toInt
      require(cur > 0, s"$dir/centers is empty — nothing to keep")
      cur
    }
  }

  // the compressed tiers' shared retrain mechanics: their inverted
  // files carry codes, not floats, so the caller supplies the float
  // corpus and the live rows are the corpus rows matching the
  // artifact's live ids — REQUIRED to cover every one of them (a live
  // id the corpus no longer holds would silently vanish from the
  // rewritten index: that is a delete, and deletes go through
  // deleteFromAnnIndex, never through a retrain's side door).
  private def liveCorpusFor(spark: org.apache.spark.sql.SparkSession,
      dir: String, corpus: DataFrame, idCol: String,
      verb: String): DataFrame =
    liveCorpusAmong(
      applyAnnTombstones(spark, dir,
        spark.read.parquet(s"$dir/assigned").select(col("neighbor_id")),
        "neighbor_id"),
      corpus, idCol, s"$verb($dir)")

  // the guard itself, on an already-resolved live-id relation — shared
  // with the streamed epoch rotation (whose live ids come through the
  // manifest-scoped load, not a raw directory read)
  private[graft] def liveCorpusAmong(liveIds: DataFrame, corpus: DataFrame,
      idCol: String, site: String): DataFrame = {
    val liveCorpus = corpus
      .join(liveIds.select(col("neighbor_id").as(idCol)), Seq(idCol),
        "left_semi")
    val missing = liveIds
      .join(corpus.select(col(idCol).as("neighbor_id")), Seq("neighbor_id"),
        "left_anti")
      .limit(5).collect().map(_.get(0))
    require(missing.isEmpty,
      s"$site: live id(s) ${missing.mkString(", ")} (first 5 shown) " +
        "are missing from the supplied corpus — a retrain must cover " +
        "every live vector; route removals through deleteFromAnnIndex")
    liveCorpus
  }

  /** [[retrainIvf]] for the IVF-SQ8 artifact ([[AnnCodec.Int8]]
    * layout). The inverted file carries int8 codes, not floats, so the
    * caller supplies the float `corpus`; rows are matched to the
    * artifact's LIVE ids (every live id must be present — fails loudly
    * otherwise) and re-quantized in the same fused pass as the build.
    * Per-row quantization is row-local, so retraining an undrifted
    * artifact ≡ a fresh [[buildIvfInt8Index]] (spec-pinned).
    */
  def retrainIvfInt8(spark: org.apache.spark.sql.SparkSession, dir: String,
      corpus: DataFrame, nlist: Int = 0, seed: Long = 42L,
      trainSample: Int = 50000, idCol: String = "vec_id",
      vecCol: String = "embedding"): Unit =
    retrainInPlace(spark, dir,
      "StreamingVecIndex.compactTo(AnnCodec.Int8, …, dir, outDir) first, " +
        "then retrain the folded artifact and freeze the new quantizer",
      Seq("assigned", "centers")) { staging =>
      val liveCorpus =
        liveCorpusFor(spark, dir, corpus, idCol, "retrainIvfInt8")
      saveAnnIndex(AnnCodec.Int8, buildIvfInt8Index(liveCorpus,
        resolveNlist(spark, dir, nlist), seed, idCol, vecCol, trainSample,
        persist = false), staging)
    }

  /** [[retrainIvf]] for the IVF-PQ artifact ([[AnnCodec.Pq]]
    * layout). Re-trains the COARSE quantizer and re-assigns; the PQ
    * codebook stays FROZEN by default (`retrainCodebook = false`):
    * PQ codes are row-local functions of the vector alone — cell
    * geometry does not enter the encoding — so coarse drift (the skew
    * and recall decay [[ivfSkewReport]] flags) is repaired without
    * invalidating a single code, and re-encoding under the frozen book
    * reproduces them bit-exactly. Pass `retrainCodebook = true` when
    * the VALUE distribution itself has drifted (codebook reconstruction
    * error grown, not just cell balance) to re-train both quantizers —
    * the full [[buildIvfPqIndex]] on the live rows. Refreshes `meta/`'s
    * n to the live count (the auto refine dial's input).
    */
  def retrainIvfPq(spark: org.apache.spark.sql.SparkSession, dir: String,
      corpus: DataFrame, nlist: Int = 0, seed: Long = 42L,
      trainSample: Int = 50000, retrainCodebook: Boolean = false,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    retrainInPlace(spark, dir,
      "StreamingVecIndex.compactTo(AnnCodec.Pq, …, dir, outDir) first, " +
        "then retrain the folded artifact and freeze the new quantizers",
      Seq("assigned", "centers", "codebook", "meta")) { staging =>
      val liveCorpus = liveCorpusFor(spark, dir, corpus, idCol, "retrainIvfPq")
      val book =
        if (retrainCodebook) {
          val old = readCodebook(spark, dir)
          trainPqCodebook(liveCorpus, old.m, old.centers.head.length, seed,
            idCol, vecCol)
        } else readCodebook(spark, dir)
      val centers = buildIvfIndex(liveCorpus, resolveNlist(spark, dir, nlist),
        seed, idCol, vecCol, trainSample, persist = false).centers
      saveAnnIndex(AnnCodec.Pq, IvfPqIndex(centers, book,
        assignAndEncodePq(liveCorpus, centers, book, idCol, vecCol),
        n = liveCorpus.count()), staging)
    }

  // ---- cell-local repair: split/merge ONLY the skewed cells (r18) ----
  //
  // [[retrainIvf]] is all-or-nothing: to fix the few cells drift
  // actually skewed, it re-trains the whole quantizer and rewrites
  // EVERY relation — cost ∝ corpus volume. This is the bounded repair
  // between "do nothing" and "full retrain" (Faiss operational
  // practice; the takedown family's deferred-bounded discipline applied
  // to geometry): split each overfull cell with a 2-means on its OWN
  // rows, retire the most-starved cells to keep the center table dense
  // (their ids are reused by split children; their few rows re-assign
  // to the nearest surviving center), and rewrite ONLY the affected
  // cell partitions — cost ∝ skewed-cell volume, never the corpus.
  //
  // What it repairs and what it does not: splitting an overfull cell
  // halves the probe's candidate cost in that cell (the skew axis —
  // exactly what [[ivfSkewReport]] measures); it does NOT re-shape the
  // global geometry, so rows in untouched cells keep their assignment
  // even if a new child center is now nearer. That is sound for IVF
  // serving (probes exact-re-rank whatever the probed cells hold) and
  // is the price of boundedness — when the WHOLE distribution has
  // drifted (recall decay, not just cell imbalance), route to
  // [[retrainIvf]]. Only the float artifact rebalances in place: its
  // inverted file carries the vectors the 2-means needs; the
  // compressed tiers' repairs need the float corpus anyway and route
  // through their retrain verbs.
  //
  // Crash discipline: the staged cells and the full replacement center
  // table are COMPLETE before the first rename; live cell dirs rename
  // aside into `<dir>/rebalance-old/` (OUTSIDE `assigned/` — a stray
  // suffixed dir inside a partitioned relation would break partition
  // discovery for every reader); the whole window is bracketed by the
  // [[requireNotTorn]] pending marker, so a torn rebalance refuses to
  // load with the recovery route instead of serving mixed geometry.

  /** What [[rebalanceCells]] did, plus the before/after skew so the
    * caller can decide whether the bounded repair sufficed or the drift
    * needs the full [[retrainIvf]]. `rowsRewritten` is the repair's
    * actual I/O (staged rows), the ∝-skewed-volume claim made
    * measurable; `skewAfter` is derived arithmetically from the staged
    * counts — the report never pays a corpus-wide rescan.
    */
  final case class RebalanceReport(
      nlistBefore: Int, nlistAfter: Int,
      splitCells: Seq[Int], retiredCells: Seq[Int], newCells: Seq[Int],
      rowsRewritten: Long, totalRows: Long,
      skewBefore: Double, skewAfter: Double) {
    def changed: Boolean = splitCells.nonEmpty
  }

  /** Split the cells holding ≥ `splitFactor`× the mean occupancy (2-means
    * on each cell's own LIVE rows — tombstoned vectors do not vote on
    * geometry, the retrain discipline); retire up to as many cells at ≤
    * mean/`starveFactor` occupancy (most-starved first, so the center
    * table stays dense: each retired id is reused by a split child and
    * the retired rows re-assign to their nearest surviving center).
    * Rewrites only the affected cell partitions; retired rows land as
    * newcomer FILES moved into their receiving cells' directories, so
    * receivers never rewrite their own volume. Returns the
    * [[RebalanceReport]]; a no-op (nothing flagged) touches no file.
    *
    * ONE round splits each flagged cell into its optimal 2-clustering —
    * which on a "tight clump + background scatter" cell separates clump
    * from scatter first, not clump in half. The repair is therefore
    * ITERATIVE by contract: check `report.skewAfter` (or re-run
    * [[ivfSkewReport]]) and call again while it still trips; each round
    * is bounded by that round's flagged volume, and a round that
    * changes nothing (`!report.changed`) is the fixpoint signal to
    * escalate to [[retrainIvf]].
    *
    * All flagged cells train in ONE aggregation pass (per-cell serial
    * Lloyd over a hash-capped quantized sample — deterministic under
    * any partitioning), so the round costs O(1) Spark jobs however
    * many cells are flagged — the coarse trainer never enters this
    * verb.
    */
  def rebalanceCells(spark: org.apache.spark.sql.SparkSession, dir: String,
      splitFactor: Double = 4.0, starveFactor: Double = 8.0,
      seed: Long = 42L): RebalanceReport = {
    import org.apache.hadoop.fs.Path
    require(splitFactor > 1.0, s"splitFactor must exceed 1, got $splitFactor")
    require(starveFactor >= 1.0,
      s"starveFactor must be >= 1, got $starveFactor")
    val (fs, root) = InvertedIndex.fsFor(spark, dir)
    requireNotStreamed(fs, root, dir,
      "StreamingVecIndex.compactTo(dir, outDir) first, then rebalance " +
        "the folded artifact and freezeCenters the new quantizer")
    requireNotTorn(spark, dir)
    val centers = readCenters(spark, dir)
    val nlist = centers.length
    val assigned = spark.read.parquet(s"$dir/assigned")
      .select(col("neighbor_id"), col("tv"), col("cell"))
    val observed = assigned.groupBy(col("cell"))
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val counts = Array.tabulate(nlist)(c => observed.getOrElse(c, 0L))
    val total = counts.sum
    val mean = if (nlist == 0) 0.0 else total.toDouble / nlist
    val skewBefore =
      if (mean == 0.0) 1.0 else counts.max / mean
    val flagged = counts.zipWithIndex
      .filter { case (n, _) => mean > 0.0 && n >= splitFactor * mean }
      .sortBy { case (n, c) => (-n, c) }.map(_._2).toSeq
    if (flagged.isEmpty)
      return RebalanceReport(nlist, nlist, Nil, Nil, Nil, 0L, total,
        skewBefore, skewBefore)
    // 2-means per flagged cell, ALL cells in ONE pass: a per-cell
    // hash-ranked sample (window over the flagged partitions — shuffle
    // ∝ flagged volume) feeds a single groupByKey whose serial per-cell
    // Lloyd runs on ≤ perCellSample quantized rows, every flagged cell
    // training in parallel across executors. An earlier driver loop ran
    // the full distributed trainer per cell — O(|flagged|) Spark jobs,
    // measured job-scheduling-dominated at moderate skew where flagged
    // cells are individually small (~splitFactor × mean rows each).
    // Deterministic: hash-ranked sorted sample, first-2-distinct init,
    // quantized integer sums, fixed iterations — serial within a cell,
    // so partitioning cannot enter. Tombstoned rows do not vote. A cell
    // of identical vectors cannot split (one distinct center): skipped.
    val liveAssigned = applyAnnTombstones(spark, dir, assigned, "neighbor_id")
    val splits: Seq[(Int, Array[Array[Double]])] = {
      import spark.implicits._
      val perCellSample = 4096
      val w = Window.partitionBy(col("cell")).orderBy(col("__h"))
      val sampled = liveAssigned
        .filter(col("cell").isin(flagged: _*))
        .select(col("cell"),
          xxhash64(col("neighbor_id"), col("cell"), lit(seed)).as("__h"),
          transform(col("tv"),
            v => floor(v.cast("double") * lit(1e6)).cast("long")).as("__q"))
        .withColumn("__rn", row_number().over(w))
        .filter(col("__rn") <= perCellSample)
        .select(col("cell"), col("__h"), col("__q"))
        .as[(Int, Long, Array[Long])]
      sampled.groupByKey(_._1).mapGroups { (cell, it) =>
        val rows = it.toArray.sortBy(r => (r._2, r._3.toSeq))(
          Ordering.Tuple2(Ordering.Long,
            math.Ordering.Implicits.seqOrdering[Seq, Long]))
        val dim = rows.head._3.length
        val distinct2 = rows.iterator.map(_._3.toSeq).distinct.take(2).toSeq
        if (distinct2.length < 2) (cell, Seq.empty[Seq[Double]])
        else {
          var ctr = distinct2.map(_.map(_.toDouble).toArray).toArray
          var iter = 0
          while (iter < 10) {
            val sums = Array.fill(2)(new Array[Long](dim))
            val cnt = new Array[Long](2)
            rows.foreach { case (_, _, q) =>
              var s0 = 0.0; var s1 = 0.0; var i = 0
              while (i < dim) {
                val d0 = q(i) - ctr(0)(i); s0 += d0 * d0
                val d1 = q(i) - ctr(1)(i); s1 += d1 * d1
                i += 1
              }
              val best = if (s0 <= s1) 0 else 1
              var j = 0
              while (j < dim) { sums(best)(j) += q(j); j += 1 }
              cnt(best) += 1
            }
            ctr = Array.tabulate(2)(ci =>
              if (cnt(ci) > 0)
                Array.tabulate(dim)(i => sums(ci)(i).toDouble / cnt(ci))
              else ctr(ci))
            iter += 1
          }
          (cell, ctr.map(_.map(_ / 1e6).toSeq).toSeq)
        }
      }.collect().toSeq
        .collect { case (c, pair) if pair.length == 2 =>
          c -> pair.map(_.toArray).toArray }
        .sortBy { case (c, _) => (-counts(c), c) }
    }
    if (splits.isEmpty)
      return RebalanceReport(nlist, nlist, Nil, Nil, Nil, 0L, total,
        skewBefore, skewBefore)
    val splitSet = splits.map(_._1).toSet
    val starved = counts.zipWithIndex
      .filter { case (n, c) =>
        n <= mean / starveFactor && !splitSet.contains(c) }
      .sortBy { case (n, c) => (n, c) }.map(_._2)
      .take(splits.length).toSeq
    // id plan: each split's parent keeps its id; children fill retired
    // slots first, then extend — the center table stays dense
    val childIds = starved ++
      (nlist until nlist + (splits.length - starved.length))
    val childOf = splits.map(_._1).zip(childIds).toMap
    val newNlist = nlist + splits.length - starved.length
    val newCenters: Array[Array[Double]] = {
      val out = Array.tabulate(newNlist)(c =>
        if (c < nlist) centers(c) else null)
      splits.foreach { case (parent, pair) =>
        out(parent) = pair(0)
        out(childOf(parent)) = pair(1)
      }
      out
    }
    // TWO bounded row sets, never a receiver rewrite:
    //  - flagged cells re-assign between their two child centers and
    //    are REPLACED whole (staging/cells/cell=parent|child);
    //  - retired cells re-assign to the nearest center of the NEW
    //    geometry (dense table ⇒ assignUdf's index IS the cell id) and
    //    land as NEWCOMER FILES moved into the receiving cells' live
    //    directories — a parquet partition is just a directory of
    //    files, so merging costs ∝ the newcomers, never the receivers'
    //    own volume (an earlier whole-receiver rewrite measured cost ≈
    //    corpus when a retired cell's rows scattered across every
    //    cell).
    // Dead rows are carried through un-trained: the tombstone relation
    // keeps applying at load exactly as before.
    val splitInfo = splits.map { case (parent, pair) =>
      parent -> (pair, childOf(parent)) }.toMap
    val splitAssign = udf { (cell: Int, v: Seq[Float]) =>
      val (pair, child) = splitInfo(cell)
      var s0 = 0.0; var s1 = 0.0; var i = 0
      while (i < pair(0).length) {
        val d0 = v(i) - pair(0)(i); s0 += d0 * d0
        val d1 = v(i) - pair(1)(i); s1 += d1 * d1
        i += 1
      }
      if (s0 <= s1) cell else child
    }
    val retiredSet = starved.toSet
    val fullAssign = assignUdf(newCenters)
    val splitRows = assigned.filter(col("cell").isin(splitSet.toSeq: _*))
      .select(col("neighbor_id"), col("tv"),
        splitAssign(col("cell"), col("tv")).as("cell"))
    val retiredRows = assigned.filter(col("cell").isin(starved: _*))
      .select(col("neighbor_id"), col("tv"),
        fullAssign(col("tv")).as("cell"))
    val staging = new Path(s"$dir-rebalance-staging")
    fs.delete(staging, true)
    clusterByCell(splitRows).write.mode("overwrite").partitionBy("cell")
      .parquet(new Path(staging, "cells").toString)
    clusterByCell(retiredRows).write.mode("overwrite").partitionBy("cell")
      .parquet(new Path(staging, "newcomers").toString)
    writeCenters(spark, staging.toString, newCenters)
    // staged per-cell counts → the arithmetic skew-after (no rescan;
    // both relations are ∝ the affected volume)
    def cellCounts(sub: String): Map[Int, Long] = {
      val p = new Path(staging, sub)
      // an empty partitioned write leaves only _SUCCESS — no cell=
      // dirs, no schema to infer
      if (!fs.exists(p) ||
          !fs.listStatus(p).exists(_.getPath.getName.startsWith("cell=")))
        Map.empty
      else spark.read.parquet(p.toString)
        .groupBy(col("cell")).agg(count(lit(1)).as("n")).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
    }
    val splitCounts = cellCounts("cells")
    val newcomerCounts = cellCounts("newcomers")
    val rowsRewritten = splitCounts.values.sum + newcomerCounts.values.sum
    val countsAfter = Array.tabulate(newNlist) { c =>
      val basis =
        if (c < nlist && !splitSet.contains(c) && !retiredSet.contains(c))
          counts(c)
        else splitCounts.getOrElse(c, 0L)
      basis + newcomerCounts.getOrElse(c, 0L)
    }
    val meanAfter =
      if (newNlist == 0) 0.0 else countsAfter.sum.toDouble / newNlist
    val skewAfter =
      if (meanAfter == 0.0) 1.0 else countsAfter.max / meanAfter
    // commit: marker, flagged/retired cells aside (outside assigned/ — a
    // stray suffixed dir inside a partitioned relation breaks discovery),
    // staged split cells in, newcomer files moved into their receivers,
    // centers swap, sweep
    markPending(fs, root, "rebalance")
    val oldRoot = new Path(root, "rebalance-old")
    fs.delete(oldRoot, true)
    (splitSet ++ retiredSet).foreach { c =>
      val live = new Path(root, s"assigned/cell=$c")
      if (fs.exists(live) &&
          !fs.rename(live, new Path(oldRoot, s"cell=$c")))
        throw new java.io.IOException(
          s"rebalanceCells: rename $dir/assigned/cell=$c aside failed")
    }
    val stagedCells = fs.listStatus(new Path(staging, "cells"))
      .map(_.getPath).filter(_.getName.startsWith("cell="))
    stagedCells.foreach { p =>
      if (!fs.rename(p, new Path(root, s"assigned/${p.getName}")))
        throw new java.io.IOException(
          s"rebalanceCells: rename $p -> $dir/assigned/${p.getName} " +
            s"failed — pre-rebalance cells preserved at $dir/rebalance-old")
    }
    val newcomersRoot = new Path(staging, "newcomers")
    if (fs.exists(newcomersRoot))
      fs.listStatus(newcomersRoot).map(_.getPath)
        .filter(_.getName.startsWith("cell=")).foreach { cellDir =>
          val target = new Path(root, s"assigned/${cellDir.getName}")
          if (!fs.exists(target)) fs.mkdirs(target)
          fs.listStatus(cellDir).map(_.getPath)
            .filter(f => !f.getName.startsWith("_") &&
              !f.getName.startsWith("."))
            .foreach { f =>
              // the rebal- prefix makes newcomers identifiable for a
              // torn-window recovery; parquet file names are
              // task-UUID-unique, so collisions cannot occur
              if (!fs.rename(f,
                  new Path(target, s"rebal-${f.getName}")))
                throw new java.io.IOException(
                  s"rebalanceCells: moving newcomer $f into $target " +
                    s"failed — pre-rebalance cells preserved at " +
                    s"$dir/rebalance-old")
            }
        }
    val liveCenters = new Path(root, "centers")
    val oldCenters = new Path(root, "centers-rebalance-old")
    fs.delete(oldCenters, true)
    if (!fs.rename(liveCenters, oldCenters))
      throw new java.io.IOException(
        s"rebalanceCells: rename $dir/centers aside failed")
    if (!fs.rename(new Path(staging, "centers"), liveCenters))
      throw new java.io.IOException(
        s"rebalanceCells: rename staged centers in failed — the " +
          s"pre-rebalance table is at $dir/centers-rebalance-old")
    fs.delete(oldCenters, true)
    clearPending(fs, root)
    fs.delete(oldRoot, true)
    fs.delete(staging, true)
    RebalanceReport(nlist, newNlist, splits.map(_._1), starved,
      childIds, rowsRewritten, total, skewBefore, skewAfter)
  }

  /** Probe a prebuilt IVF index: each query visits its `nprobe` nearest
    * cells and exact-re-ranks only those cells' vectors via a cell-id
    * equi-join — |corpus|·nprobe/nlist expected candidates per query, the
    * standard sub-linear ANN layout. Returns (query_id, rn, neighbor_id,
    * cosine).
    *
    * `allowed` restricts the probe to an allowed set — the ANN side of
    * the filtered-retrieval pair (the sparse side is
    * [[InvertedIndex.bm25TopKAmong]]). The filter lands on the CANDIDATE
    * relation (after cell probing, before scoring and the rank cut):
    * pre-filter semantics over the probed cells, so the k results are the
    * best allowed candidates the probe saw. Selective filters deserve a
    * larger nprobe — the probed cells must hold ≥ k allowed vectors for
    * full recall; [[HybridRetrieval.DenseLeg]]`.probeAmong` resolves that
    * dial ([[filteredNprobeParam]]).
    */
  def ivfProbe(
      index: IvfIndex, queries: DataFrame, k: Int, nprobe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      allowed: Option[DataFrame] = None): DataFrame =
    topKPerQuery(floatScored(ivfCandidateRows(index.centers, index.assigned,
      queries, nprobe, allowed, idCol, vecCol, Seq(col(vecCol).as("qv")))), k)

  /** The candidate relation behind [[ivfProbe]], exposed so a composed
    * pipeline can PUBLISH its probe volume (the sub-linearity witness: at
    * nprobe/nlist cell coverage, candidates ≈ |corpus|·nprobe/nlist per
    * query — corpus-scan cost would show up as candidates ≈ |corpus|).
    * One row per (query, candidate) with both vectors attached:
    * `(query_id, qv, cell, neighbor_id, tv)`.
    */
  def ivfCandidates(
      index: IvfIndex, queries: DataFrame, nprobe: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfCandidateRows(index.centers, index.assigned, queries, nprobe, None,
      idCol, vecCol, Seq(col(vecCol).as("qv")))

  /** The one candidate step of every IVF probe (float, int8, PQ,
    * cell-aware): probe cells → explode → cell equi-join → self-exclusion
    * → optional allowed semi-join. A family supplies only its query-side
    * projection (`querySide`, optionally re-shaped by `unpack`, both
    * riding beside `query_id` and `cell`); `among` restricts the probed
    * cells (the cell-aware dial).
    *
    * No dedup between candidates and the rank cut: a corpus vector is
    * assigned to exactly ONE cell and the probe emits distinct cells per
    * query, so (query, neighbor) pairs cannot duplicate — a defensive
    * distinct here was the largest avoidable shuffle in the serving path
    * (a full exchange of candidate×score volume stacked on the window's
    * own query_id exchange; r13 verdict). A future multi-assignment index
    * must dedup on bare ids BEFORE the scoring kernel instead.
    */
  private def ivfCandidateRows(centers: Array[Array[Double]],
      assigned: DataFrame, queries: DataFrame, nprobe: Int,
      allowed: Option[DataFrame], idCol: String, vecCol: String,
      querySide: Seq[Column], unpack: Seq[Column] = Nil,
      among: Option[Array[Int]] = None): DataFrame = {
    val probe = probeCells(centers, nprobe, among)
    val q0 = queries.select((col(idCol).as("query_id") +: querySide) :+
      explode(probe(col(vecCol))).as("cell"): _*)
    val q = if (unpack.isEmpty) q0
      else q0.select((col("query_id") +: unpack) :+ col("cell"): _*)
    val cand = assigned.join(q, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
    allowed.fold(cand)(a => cand.join(a.select(col(idCol).as("neighbor_id")),
      Seq("neighbor_id"), "left_semi"))
  }

  // the float scoring kernel over a (query_id, qv, neighbor_id, tv) relation
  private def floatScored(cand: DataFrame): DataFrame =
    cand.select(col("query_id"), col("neighbor_id"),
      VecOps.cosineNative(col("qv"), col("tv")).as("cosine"))

  /** All near-duplicate pairs (id_a < id_b, cosine ≥ threshold) of `corpus`
    * with itself via LSH bucket collisions — the candidate generator for
    * embedding dedup. Unlike `lshTopK` there is NO per-query top-k window
    * and the distinct runs over bare (id_a, id_b) pairs, not
    * vector-carrying rows; vectors are re-attached by two id equi-joins
    * afterwards (the candidate set is ≪ corpus, so those joins are cheap
    * relative to shuffling every candidate's vectors through a distinct).
    */
  /** [[lshNearDupPairs]] with the signature length derived from the
    * corpus size instead of pinned by the caller: bits =
    * ceil(log₂(n / targetBucketSize)), floored at 4. Signature length is
    * a LOAD-BEARING scale dial, not a tuning constant — expected bucket
    * occupancy is n/2^bits, and the bucket self-join enumerates
    * ~n²/2^bits candidate pairs, so holding bits fixed while the corpus
    * grows 100× multiplies candidate volume 100× (measured: the ×100
    * ScaleBench run at a fixed 6 bits filled the disk from sort-merge
    * spill before finishing; the log-n policy ran the same corpus at
    * wall-clock exponent 0.61 — BASELINE.md "Measured scaling
    * exponents"). Costs one `count()` of the corpus; callers that
    * already know n should call [[lshNearDupPairs]] with the policy
    * applied themselves.
    */
  def lshNearDupPairsAuto(
      corpus: DataFrame, threshold: Double,
      numTables: Int = 8, targetBucketSize: Int = 32, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxBucketSize: Int = 100000): DataFrame = {
    require(targetBucketSize >= 1, "targetBucketSize must be >= 1")
    val n = corpus.count()
    val bits = math.min(62, math.max(4,
      math.ceil(math.log(math.max(1.0, n.toDouble / targetBucketSize)) /
        math.log(2.0)).toInt))
    lshNearDupPairs(corpus, threshold, numTables, bits, seed, idCol, vecCol,
      maxBucketSize)
  }

  def lshNearDupPairs(
      corpus: DataFrame, threshold: Double,
      numTables: Int = 8, bitsPerTable: Int = 12, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxBucketSize: Int = 100000): DataFrame = {
    val sigUdf = signatures(numTables, bitsPerTable, seed)
    val bucketed = corpus
      .select(col(idCol).as("__id"),
        posexplode(sigUdf(col(vecCol))).as(Seq("table", "sig")))
    val guarded = bucketed.join(
      bucketed.groupBy(col("table"), col("sig"))
        .agg(count(lit(1)).as("__bs"))
        .filter(col("__bs") <= maxBucketSize)
        .select(col("table"), col("sig")),
      Seq("table", "sig"))
    val pairs = guarded.join(
        guarded.select(col("table"), col("sig"), col("__id").as("__id2")),
        Seq("table", "sig"))
      .filter(col("__id") < col("__id2"))
      .select(col("__id").as("id_a"), col("__id2").as("id_b"))
      .distinct()
    val va = corpus.select(col(idCol).as("id_a"), col(vecCol).as("__va"))
    val vb = corpus.select(col(idCol).as("id_b"), col(vecCol).as("__vb"))
    pairs.join(va, "id_a").join(vb, "id_b")
      .select(col("id_a"), col("id_b"),
        VecOps.cosineNative(col("__va"), col("__vb")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** [[lshNearDupPairs]] in the exact-arithmetic regime: quantized input
    * vectors, the integer hyperplane family ([[planeComponentQ]]), and the
    * quantized-cosine verify — every comparison on both engines is over
    * bit-identical integers/doubles, so the pair set (and anything built
    * on it, e.g. canonicalize) carries a FULL DuckDB oracle. Same bucket
    * machinery and hot-bucket guard as the float form; use that one in
    * production (its floats cost nothing extra), this one where
    * cross-engine exactness is the point.
    */
  def lshNearDupPairsQuantized(
      corpus: DataFrame, threshold: Double,
      numTables: Int = 8, bitsPerTable: Int = 6, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxBucketSize: Int = 100000): DataFrame = {
    val q = corpus.select(col(idCol), quantizeExpr(col(vecCol)).as("__q"))
    val sigUdf = signaturesQuantized(numTables, bitsPerTable, seed)
    val bucketed = q
      .select(col(idCol).as("__id"),
        posexplode(sigUdf(col("__q"))).as(Seq("table", "sig")))
    val guarded = bucketed.join(
      bucketed.groupBy(col("table"), col("sig"))
        .agg(count(lit(1)).as("__bs"))
        .filter(col("__bs") <= maxBucketSize)
        .select(col("table"), col("sig")),
      Seq("table", "sig"))
    val pairs = guarded.join(
        guarded.select(col("table"), col("sig"), col("__id").as("__id2")),
        Seq("table", "sig"))
      .filter(col("__id") < col("__id2"))
      .select(col("__id").as("id_a"), col("__id2").as("id_b"))
      .distinct()
    val va = q.select(col(idCol).as("id_a"), col("__q").as("__va"))
    val vb = q.select(col(idCol).as("id_b"), col("__q").as("__vb"))
    pairs.join(va, "id_a").join(vb, "id_b")
      .select(col("id_a"), col("id_b"),
        VecOps.cosineNative(col("__va"), col("__vb")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** [[srpSketch]] over the quantized vectors and integer hyperplanes —
    * the exact-arithmetic twin feeding [[graft.streaming.StreamingVecDedup]]
    * when its band claims need a FULL oracle (the float sketch keeps the
    * recall-bounded production role). Same (idCol, sig0..sigW) layout.
    */
  def srpSketchQuantized(df: DataFrame, bits: Int = 128, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(bits % 64 == 0 && bits > 0, s"bits=$bits must be a positive multiple of 64")
    val words = bits / 64
    val cache = new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Long]]]()
    val sig = udf { (v: Seq[Double]) =>
      val dim = v.length
      val planes = cache.computeIfAbsent(dim, d =>
        Array.tabulate(bits)(p => Array.tabulate(d)(planeComponentQ(p, _, seed))))
      val vq = new Array[Long](dim)
      var i = 0
      while (i < dim) { vq(i) = v(i).toLong; i += 1 }
      val out = new Array[Long](words)
      var b = 0
      while (b < bits) {
        val p = planes(b)
        var s = 0L
        var j = 0
        while (j < dim) { s += vq(j) * p(j); j += 1 }
        if (s >= 0) out(b / 64) |= (1L << (b % 64))
        b += 1
      }
      out
    }
    df.select(col(idCol), sig(quantizeExpr(col(vecCol))).as("__s"))
      .select(col(idCol) +: (0 until words).map(i => col("__s")(i).as(s"sig$i")): _*)
  }

  /** Scalar int8 quantization of the embedding column: per-vector symmetric
    * max-abs scaling, q_i = round(v_i / scale) with scale = max|v| / 127.
    * 4× less memory and scan bandwidth than float32 — at 100 TB the
    * quantized corpus IS the resident ANN artifact and the float vectors
    * stay in cold storage. Returns (idCol, scale FLOAT, qnorm DOUBLE,
    * qv BINARY(dim)): qnorm is ‖scale·q‖ precomputed at quantization time so
    * scoring never rereads the bytes twice.
    */
  /** The row-local int8 quantization UDF — one definition shared by
    * [[quantizeInt8]] and the fused int8 pass. */
  // native codegen expression since r19 (was a tuple-returning Scala
  // closure): the int8 quantization is the IVF-SQ8 build/ingest verbs'
  // per-row linear term — the kernel transcribes the closure's arithmetic
  // verbatim (QuantizeKernel's bit-fidelity contract)
  private def quantizeInt8Udf(c: Column): Column =
    ColumnBridge.column(graft.expressions.QuantizeInt8(
      ColumnBridge.expression(c)))

  def quantizeInt8(corpus: DataFrame, idCol: String = "vec_id",
      vecCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol), quantizeInt8Udf(col(vecCol)).as("__q"))
      .select(col(idCol), col("__q._1").as("scale"),
        col("__q._2").as("qnorm"), col("__q._3").as("qv"))

  /** Asymmetric (float query × int8 corpus) exact-over-quantized cosine
    * top-k: the int8 twin of [[bruteForceTopK]] — same broadcast-queries /
    * corpus-never-shuffles plan, the corpus side read as packed bytes. The
    * integer dot runs in a tight JVM loop; one multiply by the stored scale
    * recovers the dequantized dot product.
    */
  def int8BruteForceTopK(
      quantized: DataFrame, queries: DataFrame, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("fq"))
    topKPerQuery(int8Scored(quantized.select(col(idCol).as("neighbor_id"),
        col("qv"), col("scale"), col("qnorm"))
      .join(broadcast(q), col("query_id") =!= col("neighbor_id"))), k)
  }

  // the int8 scoring kernel over a (query_id, fq, neighbor_id, qv, scale,
  // qnorm) relation — native codegen (graft.expressions.Int8Cosine): the
  // scoring projection runs once per candidate, so the UDF serialization
  // boundary (bytes → Seq[Float] per row) was the hot cost
  private def int8Scored(cand: DataFrame): DataFrame =
    cand.select(col("query_id"), col("neighbor_id"),
      ColumnBridge.column(graft.expressions.Int8Cosine(
        ColumnBridge.expression(col("qv")), ColumnBridge.expression(col("scale")),
        ColumnBridge.expression(col("qnorm")),
        ColumnBridge.expression(col("fq")))).as("cosine"))

  /** IVF + int8 scalar quantizer (the classic IVF-SQ8 layout): the
    * inverted file's cell-assigned corpus is stored QUANTIZED, composing
    * both build-once artifacts — sub-linear candidate generation from the
    * cell equi-join AND 4× less resident bytes per candidate. `assigned`
    * carries (neighbor_id, cell, qv, scale, qnorm).
    */
  final case class IvfInt8Index(centers: Array[Array[Double]], assigned: DataFrame) {
    def unpersist(): Unit = { assigned.unpersist(); () }
  }

  def buildIvfInt8Index(
      corpus: DataFrame, nlist: Int = 16, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      trainSample: Int = 50000, persist: Boolean = true): IvfInt8Index = {
    val float = buildIvfIndex(corpus, nlist, seed, idCol, vecCol, trainSample,
      persist = false)
    val assigned = assignAndQuantizeInt8(corpus, float.centers, idCol, vecCol)
    IvfInt8Index(float.centers,
      if (persist) assigned.persist() else assigned)
  }

  /** ONE pass computing the IVF-SQ8 inverted-file row — nearest-center
    * assignment AND row-local int8 quantization in a single select over
    * the corpus (both are per-row functions; a join of two separate
    * projections would scan the source twice and shuffle for nothing).
    * Shared by [[buildIvfInt8Index]] and the streaming ingest
    * ([[graft.streaming.StreamingVecIndex.applyBatch]] with [[AnnCodec.Int8]]).
    */
  private[graft] def assignAndQuantizeInt8(vecs: DataFrame,
      centers: Array[Array[Double]],
      idCol: String, vecCol: String): DataFrame =
    vecs.select(col(idCol).as("neighbor_id"),
        assignUdf(centers)(col(vecCol)).as("cell"),
        quantizeInt8Udf(col(vecCol)).as("__q"))
      .select(col("neighbor_id"), col("cell"), col("__q._1").as("scale"),
        col("__q._2").as("qnorm"), col("__q._3").as("qv"))

  /** Probe an IVF-SQ8 index: nprobe nearest cells per query, candidates
    * from the cell equi-join, scoring through the native int8 codegen
    * kernel. Same output shape as [[ivfProbe]].
    *
    * `allowed` gives filtered retrieval on the MEMORY-FLOOR serving tier
    * (the configuration a multi-tenant deployment actually runs: the
    * resident artifact is the 4×-compressed inverted file, and tenant/ACL
    * scoping must not force a fallback to the float index or a
    * post-filter under-return), with [[ivfProbe]]'s pre-filter
    * placement: disallowed candidates never pay the scoring kernel.
    */
  def ivfProbeInt8(
      index: IvfInt8Index, queries: DataFrame, k: Int, nprobe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      allowed: Option[DataFrame] = None): DataFrame =
    topKPerQuery(int8Scored(ivfCandidateRows(index.centers, index.assigned,
      queries, nprobe, allowed, idCol, vecCol, Seq(col(vecCol).as("fq")))), k)

  /** Product-quantization codebook (Jégou et al. 2011): the vector space is
    * split into `m` subspaces of `dsub` dims, each with its own `ksub`-entry
    * centroid table; a vector encodes to m code bytes — at 64 dims and
    * m=8/ksub=64 that is 8 bytes/vector, 32× less resident memory than
    * float32 (vs int8's 4×). The codebook itself is tiny
    * (m·ksub·dsub floats) and ships in the closure.
    */
  final case class PqCodebook(m: Int, dsub: Int,
      centers: Array[Array[Array[Float]]]) // (sub)(code)(dim-within-sub)

  /** Train the PQ codebook: per-subspace Lloyd k-means over a bounded
    * HASH-ORDERED sample (same unbiased distributed-TakeOrdered discipline
    * as [[buildIvfIndex]]'s quantizer; the collect is bounded by
    * `trainSample` rows — at 100 TB codebook training is a driver-side
    * constant regardless of corpus size). Deterministic: hash-ranked
    * sample, first-k-distinct init, fixed iteration count.
    */
  def trainPqCodebook(
      corpus: DataFrame, m: Int = 8, ksub: Int = 64, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      trainSample: Int = 2000, iters: Int = 10): PqCodebook = {
    val sample = corpus
      .select(col(vecCol), xxhash64(col(idCol), lit(seed)).as("__h"))
      .orderBy(col("__h")).limit(trainSample)
      .select(col(vecCol)).collect()
      .map(_.getSeq[Float](0).toArray)
    require(sample.nonEmpty, "PQ training sample is empty")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    require(ksub <= 256, s"ksub=$ksub codes must fit one byte")
    val dsub = dim / m
    val centers = Array.tabulate(m) { sub =>
      val pts = sample.map(v => java.util.Arrays.copyOfRange(v, sub * dsub, (sub + 1) * dsub))
      // content-distinct init (Array equality is by reference — distinct on
      // the raw arrays would keep duplicate subvectors as coinciding seeds)
      val uniq = pts.map(_.toSeq).distinct
      val k = math.min(ksub, uniq.length)
      val ctr = uniq.take(k).map(_.toArray)
      var it = 0
      while (it < iters) {
        val sums = Array.fill(k)(new Array[Double](dsub))
        val counts = new Array[Int](k)
        pts.foreach { p =>
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < k) {
            var s = 0.0; var i = 0
            while (i < dsub) { val dl = p(i) - ctr(c)(i); s += dl * dl; i += 1 }
            if (s < bestD) { bestD = s; best = c }
            c += 1
          }
          var i = 0
          while (i < dsub) { sums(best)(i) += p(i); i += 1 }
          counts(best) += 1
        }
        var c = 0
        while (c < k) {
          if (counts(c) > 0) {
            var i = 0
            while (i < dsub) { ctr(c)(i) = (sums(c)(i) / counts(c)).toFloat; i += 1 }
          } // empty cells keep their previous centroid (deterministic)
          c += 1
        }
        it += 1
      }
      ctr
    }
    PqCodebook(m, dsub, centers)
  }

  /** Encode the corpus against a PQ codebook: map-only, returns
    * (idCol, codes BINARY(m), rnorm DOUBLE) where rnorm is the
    * RECONSTRUCTION's L2 norm, precomputed at encode time so ADC cosine
    * never touches the original floats.
    */
  def encodePq(book: PqCodebook, corpus: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    corpus.select(col(idCol), encodePqUdf(book)(col(vecCol)).as("__e"))
      .select(col(idCol), col("__e._1").as("codes"), col("__e._2").as("rnorm"))

  /** The row-local PQ encode — one definition shared by [[encodePq]] and
    * the fused [[assignAndEncodePq]] pass. Native codegen expression since
    * r19 (was a tuple-returning Scala closure; same rationale and
    * bit-fidelity contract as [[quantizeInt8Udf]]): the jagged codebook
    * flattens to [sub][code][dim] row-major with per-sub offsets/counts.
    */
  private def encodePqUdf(book: PqCodebook): Column => Column = {
    val m = book.m; val dsub = book.dsub
    val counts = book.centers.map(_.length)
    val offsets = counts.scanLeft(0)((acc, n) => acc + n * dsub).init
    val flat = new Array[Float](counts.map(_ * dsub).sum)
    var sub = 0
    while (sub < m) {
      var c = 0
      while (c < counts(sub)) {
        System.arraycopy(book.centers(sub)(c), 0, flat,
          offsets(sub) + c * dsub, dsub)
        c += 1
      }
      sub += 1
    }
    (v: Column) => ColumnBridge.column(graft.expressions.EncodePq(
      ColumnBridge.expression(v), flat, offsets, counts, m, dsub))
  }

  /** IVF + product quantizer (the classic IVF-PQ layout): sub-linear
    * candidates from the cell equi-join AND 32× less resident bytes per
    * candidate (m code bytes + a norm vs dim floats). `assigned` carries
    * (neighbor_id, cell, codes, rnorm).
    */
  /** `n` = corpus size at build time — index METADATA, stamped once by
    * [[buildIvfPqIndex]] and persisted/reloaded with the artifact, so the
    * scale policies ([[HybridRetrieval.DenseLeg]]`.PqRefined`) resolve
    * their dials from the index instead of re-counting the corpus on
    * every probe (a probe against a 100 TB corpus must never pay a
    * corpus-scan action just to pick a shortlist width). -1 = unknown
    * (hand-assembled index); the leg then falls back to one corpus count,
    * once per leg.
    */
  final case class IvfPqIndex(centers: Array[Array[Double]], book: PqCodebook,
      assigned: DataFrame, n: Long = -1L) {
    def unpersist(): Unit = { assigned.unpersist(); () }
  }

  def buildIvfPqIndex(
      corpus: DataFrame, nlist: Int = 16, m: Int = 8, ksub: Int = 64,
      seed: Long = 42L, idCol: String = "vec_id", vecCol: String = "embedding",
      trainSample: Int = 50000, persist: Boolean = true): IvfPqIndex = {
    // `trainSample` bounds the COARSE quantizer's sample only: the PQ
    // codebook's per-subspace k-means runs over a driver-side
    // constant-bounded sample (2000 rows) — never the scale axis
    val float = buildIvfIndex(corpus, nlist, seed, idCol, vecCol, trainSample,
      persist = false)
    val book = trainPqCodebook(corpus, m, ksub, seed, idCol, vecCol)
    // ONE fused pass (r15): assignment and PQ encoding are both per-row
    // functions of the same vector — the earlier assign⋈encode join
    // scanned the corpus twice and shuffled both projections for nothing
    val assigned = assignAndEncodePq(corpus, float.centers, book,
      idCol, vecCol)
    IvfPqIndex(float.centers, book,
      if (persist) assigned.persist() else assigned,
      n = corpus.count())
  }

  /** ONE pass computing the IVF-PQ inverted-file row — nearest-center
    * assignment AND PQ encoding in a single select over the corpus (the
    * [[assignAndQuantizeInt8]] discipline). Shared by [[buildIvfPqIndex]]
    * and the streaming ingest
    * ([[graft.streaming.StreamingVecIndex.applyBatch]] with [[AnnCodec.Pq]]).
    */
  private[graft] def assignAndEncodePq(vecs: DataFrame,
      centers: Array[Array[Double]], book: PqCodebook,
      idCol: String, vecCol: String): DataFrame =
    vecs.select(col(idCol).as("neighbor_id"),
        assignUdf(centers)(col(vecCol)).as("cell"),
        encodePqUdf(book)(col(vecCol)).as("__e"))
      .select(col("neighbor_id"), col("cell"), col("__e._1").as("codes"),
        col("__e._2").as("rnorm"))

  /** The PQ codebook relation writers/readers — ONE (sub, code, center)
    * layout shared by the batch artifact ([[saveAnnIndex]] /
    * [[loadAnnIndex]] with [[AnnCodec.Pq]]) and the streamed one
    * ([[graft.streaming.StreamingVecIndex]]'s frozen codebook), so the
    * two lifecycles cannot drift.
    */
  private[graft] def writeCodebook(spark: org.apache.spark.sql.SparkSession,
      book: PqCodebook, dir: String): Unit = {
    import spark.implicits._
    val rows = for {
      (codes, sub) <- book.centers.zipWithIndex
      (ctr, code) <- codes.zipWithIndex
    } yield (sub, code, ctr.toSeq)
    rows.toSeq.toDF("sub", "code", "center")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebook")
  }

  private[graft] def readCodebook(spark: org.apache.spark.sql.SparkSession,
      dir: String): PqCodebook = {
    val rows = spark.read.parquet(s"$dir/codebook").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2).toArray))
    val m = rows.map(_._1).max + 1
    val centers = Array.tabulate(m) { sub =>
      rows.filter(_._1 == sub).sortBy(_._2).map(_._3)
    }
    PqCodebook(m, centers.head.head.length, centers)
  }

  /** Probe an IVF-PQ index via asymmetric distance computation (ADC):
    * each query precomputes its m×ksub lookup table of sub-dot-products
    * ONCE (query-side column, broadcast with the query), and scoring a
    * candidate is m table lookups — no per-candidate float math at all.
    * cosine ≈ Σ lut[sub][code] / (‖q‖·‖reconstruction‖). Same output shape
    * as [[ivfProbe]].
    *
    * `allowed` is the ADC leg of the compressed filtered tier: the
    * semi-join lands on the candidate relation BEFORE the ADC lookup and
    * rank cut (pre-filter semantics: every shortlist slot holds an allowed
    * candidate — a post-filter would waste slots on disallowed docs and
    * under-return), which is exactly what lets [[ivfProbePqRefined]]
    * re-rank a fully-allowed shortlist with no second filter.
    */
  def ivfProbePq(
      index: IvfPqIndex, queries: DataFrame, k: Int, nprobe: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      allowed: Option[DataFrame] = None): DataFrame = {
    val book = index.book
    val m = book.m; val dsub = book.dsub; val bc = book.centers
    // uniform stride = the largest subspace's centroid count: subspaces may
    // train fewer than ksub centroids (distinct-subvector shortfall), and a
    // head-length stride would mis-index or overflow when counts differ
    val lutStride = bc.map(_.length).max
    val lutAndNorm = udf { (v: Seq[Float]) =>
      val lut = new Array[Float](m * lutStride)
      var sub = 0
      while (sub < m) {
        val ctr = bc(sub)
        var c = 0
        while (c < ctr.length) {
          var s = 0.0; var i = 0
          while (i < dsub) { s += v(sub * dsub + i).toDouble * ctr(c)(i); i += 1 }
          lut(sub * lutStride + c) = s.toFloat
          c += 1
        }
        sub += 1
      }
      var n2 = 0.0; var i = 0
      while (i < v.length) { n2 += v(i).toDouble * v(i); i += 1 }
      (lut, math.sqrt(n2))
    }
    // native codegen ADC since r19: the closure form converted the LUT to
    // Seq[Float] once per CANDIDATE row (it is a query-side column riding
    // the candidate join) — the same per-candidate volume argument as
    // Int8Cosine; bit contract in graft.expressions.PqAdc
    val adc = (codes: Column, rnorm: Column, lut: Column, qnorm: Column) =>
      ColumnBridge.column(graft.expressions.PqAdc(
        ColumnBridge.expression(codes), ColumnBridge.expression(rnorm),
        ColumnBridge.expression(lut), ColumnBridge.expression(qnorm), m))
    val cand = ivfCandidateRows(index.centers, index.assigned, queries,
      nprobe, allowed, idCol, vecCol,
      querySide = Seq(lutAndNorm(col(vecCol)).as("__l")),
      unpack = Seq(col("__l._1").as("lut"), col("__l._2").as("qnorm")))
    topKPerQuery(cand.select(col("query_id"), col("neighbor_id"),
      adc(col("codes"), col("rnorm"), col("lut"), col("qnorm")).as("cosine")),
      k)
  }

  /** IVF-PQ probe with a refine stage (the FAISS `IndexRefineFlat` layout,
    * the shape production PQ deployments actually run): ADC shortlists
    * `k·refine` candidates per query from the 8-byte codes — the
    * bandwidth-heavy scan never touches a float vector — then ONLY the
    * shortlist (k·refine·|Q| rows, ≪ corpus) joins back to the float
    * corpus for exact cosine re-ranking. The corpus-side cost profile
    * stays "read codes, not vectors"; the floats are fetched per-candidate
    * like a point lookup. Recovers most of the distortion ADC pays for
    * its 32× memory floor (spec-measured: 0.36 ADC-only → ~0.8 refined
    * on the low-cosine test corpus).
    *
    * `refine` is a scale dial (see [[hammingTopK]]'s note — same
    * mechanism): ADC quantization noise is fixed by the codebook, so on
    * thin-margin corpora a fixed shortlist dilutes as n grows and recall
    * decays; widening refine costs only the re-rank join, never the ADC
    * scan. Measured decay and recovery points: BASELINE.md recall table.
    *
    * `allowed` builds the ADC shortlist PRE-filtered ([[ivfProbePq]], so
    * every one of the k·refine slots holds an allowed candidate); the
    * refine join's point-lookup cost profile is unchanged and the filter
    * never touches the float vectors at all.
    */
  def ivfProbePqRefined(
      index: IvfPqIndex, corpus: DataFrame, queries: DataFrame, k: Int,
      nprobe: Int = 4, refine: Int = 4,
      idCol: String = "vec_id", vecCol: String = "embedding",
      allowed: Option[DataFrame] = None): DataFrame =
    exactRerank(
      ivfProbePq(index, queries, k * refine, nprobe, idCol, vecCol, allowed)
        .select(col("query_id"), col("neighbor_id")),
      corpus, queries, k, idCol, vecCol)

  /** The exact re-rank tail of the shortlist families (PQ-refined, SRP,
    * hard negatives): the k·refine `shortlist` rows per query —
    * (query_id, neighbor_id, carry…) — join back to the float corpus
    * (point-lookup shape), get the exact cosine, and take the rank cut.
    */
  private def exactRerank(shortlist: DataFrame, corpus: DataFrame,
      queries: DataFrame, k: Int, idCol: String, vecCol: String,
      carry: String*): DataFrame = {
    val qv = queries.select(col(idCol).as("query_id"), col(vecCol).as("__qv"))
    val tv = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__tv"))
    val exact = shortlist
      .join(broadcast(qv), "query_id")
      .join(tv, "neighbor_id")
      .select((Seq("query_id", "neighbor_id") ++ carry).map(col) :+
        VecOps.cosineNative(col("__qv"), col("__tv")).as("cosine"): _*)
    topKPerQuery(exact, k, carry: _*)
  }

  /** Sign-random-projection sketch (Charikar 2002 SimHash for cosine)
    * packed into `bits/64` LONG columns `sig0..sigW-1`: bit b = sign of
    * the projection onto deterministic hyperplane b (same hash-derived
    * planes as the LSH family — executors regenerate them, nothing is
    * broadcast). The leanest resident ANN artifact in the family — 16
    * bytes/vector at the 128-bit default, with a scoring path that is
    * PURE built-in codegen (xor + bit_count per word, summed), no lookup
    * tables, no UDF anywhere in the scan. P[bit agrees] = 1 − θ/π, so
    * Hamming distance is a monotone estimator of angular distance and
    * width is the resolution dial (this corpus's low-cosine regime needs
    * 128 bits for a useful top-k ordering; 64 measured recall ~0.5).
    * Build is a one-time map-only pass (the UDF cost sits in the
    * memoized artifact, not the probe).
    */
  def srpSketch(df: DataFrame, bits: Int = 128, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(bits % 64 == 0 && bits > 0, s"bits=$bits must be a positive multiple of 64")
    val words = bits / 64
    val cache = new java.util.concurrent.ConcurrentHashMap[Int, Array[Array[Double]]]()
    val sig = udf { (v: Seq[Float]) =>
      val dim = v.length
      val planes = cache.computeIfAbsent(dim, d =>
        Array.tabulate(bits)(p => Array.tabulate(d)(planeComponent(p, _, seed))))
      val out = new Array[Long](words)
      var b = 0
      while (b < bits) {
        val p = planes(b)
        var s = 0.0
        var i = 0
        while (i < dim) { s += v(i) * p(i); i += 1 }
        if (s >= 0) out(b / 64) |= (1L << (b % 64))
        b += 1
      }
      out
    }
    df.select(col(idCol), sig(col(vecCol)).as("__s"))
      .select(col(idCol) +: (0 until words).map(i => col("__s")(i).as(s"sig$i")): _*)
  }

  /** The SRP sketch as a first-class build-once artifact: the packed
    * signatures PLUS the metadata the probe-time scale policies need —
    * corpus size `n` (drives [[refineScaleParam]]) and the (bits, seed)
    * the sketch was built with (so a probe can never pair query signatures
    * from a different hyperplane family with the corpus sketch). Stamping
    * n at BUILD time is what lets [[HybridRetrieval.DenseLeg]]`.Srp` resolve its
    * shortlist width without any corpus action in the probe path — on a
    * 100 TB corpus a per-probe `count()` is a full scan action per query
    * batch, paid for a single integer the index already knew.
    */
  final case class SrpIndex(sketched: DataFrame, n: Long, bits: Int,
      seed: Long, idCol: String = "vec_id") {
    def unpersist(): Unit = { sketched.unpersist(); () }
  }

  /** [[srpSketch]] plus the metadata stamp, cached for repeated probing.
    * The one `count()` here is the build-once cost that removes it from
    * every probe.
    */
  def buildSrpIndex(corpus: DataFrame, bits: Int = 128, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      persist: Boolean = true): SrpIndex = {
    val sk = srpSketch(corpus, bits, seed, idCol, vecCol)
    SrpIndex(if (persist) sk.persist() else sk, corpus.count(), bits, seed,
      idCol)
  }

  /** Brute Hamming top-k over SRP sketches with exact refine: the scan
    * ranks every corpus row by `Σ bit_count(sig_w ^ qsig_w)` — one xor
    * and one popcount per 64-bit word per candidate, whole-stage-codegen
    * from scan to rank, 16× less bandwidth than the float scan at 128
    * bits — then only the k·refine shortlist joins the float corpus for
    * exact cosine re-ranking (same shape as [[ivfProbePqRefined]]).
    * Unlike the bucketed LSH path there is no recall cliff from bucket
    * misses: every row is scored, so recall is set by sketch resolution
    * AND the `refine` shortlist width. `refine` is a scale dial, not a
    * constant (BASELINE.md recall table): the Hamming estimator's noise
    * is fixed by `bits`, so the number of competitors whose estimated
    * score ties the true k-th neighbor grows with n on corpora whose
    * cosine margins are thin (the measured testdata regime: top-5 ≈
    * 0.36–0.45 vs rank-40 ≈ 0.26) — a fixed shortlist then dilutes and
    * recall decays (measured 0.60 → 0.34 across ×10 at refine=8).
    * Widening refine recovers it almost for free: the dial touches ONLY
    * the exact re-rank join (k·refine rows/query), never the scan, which
    * is the dominant cost (measured recovery points in the BASELINE.md
    * recall table). Returns (query_id, rn, neighbor_id, cosine).
    *
    * `allowed` gives filtered retrieval on the leanest resident tier: the
    * allowed-set semi-join RIDES THE HAMMING SCAN, before the k·refine
    * shortlist cut (the [[hammingHardNegatives]] filter placement), so no
    * shortlist slot is wasted on a disallowed candidate and the result
    * equals "filter then top-k", never the under-returning "top-k then
    * filter". The exact re-rank then touches only allowed float vectors.
    * [[HybridRetrieval.DenseLeg]]`.Srp` resolves `refine` from the
    * index's stamped n ([[refineScaleParam]]).
    */
  def hammingTopK(
      sketched: DataFrame, corpus: DataFrame, queries: DataFrame, k: Int,
      refine: Int = 8, bits: Int = 128, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      allowed: Option[DataFrame] = None): DataFrame = {
    val sigCols = srpSigCols(sketched, bits)
    val qs = srpSketch(queries, bits, seed, idCol, vecCol)
      .select(col(idCol).as("query_id") +: querySigs(sigCols): _*)
    val scanSide = allowed.fold(sketched)(a =>
      sketched.join(a.select(col(idCol)), Seq(idCol), "left_semi"))
    val ranked = scanSide
      .select(col(idCol).as("neighbor_id") +: sigCols.map(col): _*)
      .join(broadcast(qs), col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        hammingDistance(sigCols).as("hamming"))
    exactRerank(hammingShortlist(ranked, k * refine), corpus, queries, k,
      idCol, vecCol)
  }

  // the signature columns of a `bits`-wide sketch, checked present
  private def srpSigCols(sketched: DataFrame, bits: Int): Seq[String] = {
    val sigCols = (0 until bits / 64).map(i => s"sig$i")
    require(sigCols.forall(sketched.columns.contains),
      s"sketched frame missing ${sigCols.mkString(",")} — built with a different width?")
    sigCols
  }

  private def querySigs(sigCols: Seq[String]): Seq[Column] =
    sigCols.map(c => col(c).as(s"q$c"))

  // Σ bit_count(sig_w ^ qsig_w): one xor + popcount per 64-bit word
  private def hammingDistance(sigCols: Seq[String]): Column =
    sigCols.map(c => bit_count(col(c).bitwiseXOR(col(s"q$c")))).reduce(_ + _)

  // the Hamming scan's shortlist cut: the n nearest sketches per query by
  // (hamming, neighbor_id), projected to (query_id, neighbor_id, carry…)
  private def hammingShortlist(ranked: DataFrame, n: Int,
      carry: String*): DataFrame = {
    val wH = Window.partitionBy(col("query_id"))
      .orderBy(col("hamming").asc, col("neighbor_id"))
    ranked.withColumn("hrn", row_number().over(wH))
      .filter(col("hrn") <= n)
      .select((Seq("query_id", "neighbor_id") ++ carry).map(col): _*)
  }

  /** Hard-negative mining via the SRP shortlist — the scale path of the
    * exact `v_hard_negatives_top5` gate: for each query, the k
    * most-similar corpus vectors whose label DIFFERS (near-miss
    * contrastive negatives; same-label hits would be false negatives).
    * The label predicate rides the Hamming scan — BEFORE the shortlist
    * cut, so no shortlist slot is wasted on same-label neighbors and the
    * result equals "filter then top-k", never the (wrong) "top-k then
    * filter". Same cost profile as [[hammingTopK]] plus one broadcast of
    * the label relation; pass `refineScaleParam(index.n, base = 8)` for
    * the family's √n shortlist policy. Returns (query_id, rn,
    * neighbor_id, neg_label, cosine).
    */
  def hammingHardNegatives(
      sketched: DataFrame, corpus: DataFrame, queries: DataFrame, k: Int,
      refine: Int = 8, bits: Int = 128, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      labelCol: String = "label"): DataFrame = {
    val sigCols = srpSigCols(sketched, bits)
    val labels = corpus.select(col(idCol), col(labelCol))
    // LEFT join + loud failure, not an inner join: a query id absent
    // from the corpus label relation must surface as an error, never as
    // a silently missing result group (a miner reading k negatives per
    // query would otherwise get fewer groups with no signal)
    val qs = srpSketch(queries, bits, seed, idCol, vecCol)
      .join(labels, Seq(idCol), "left")
      .select(col(idCol).as("query_id") +:
        when(col(labelCol).isNull, raise_error(concat(
            lit("hammingHardNegatives: query id "), col(idCol).cast("string"),
            lit(s" has no label in the corpus relation"))))
          .otherwise(col(labelCol)).as("__ql") +:
        querySigs(sigCols): _*)
    val ranked = sketched
      .join(labels, Seq(idCol))
      .select(col(idCol).as("neighbor_id") +:
        col(labelCol).as("neg_label") +: sigCols.map(col): _*)
      .join(broadcast(qs), col("__ql") =!= col("neg_label"))
      .select(col("query_id"), col("neighbor_id"), col("neg_label"),
        hammingDistance(sigCols).as("hamming"))
    exactRerank(hammingShortlist(ranked, k * refine, "neg_label"), corpus,
      queries, k, idCol, vecCol, "neg_label")
  }

  /** One-shot IVF top-k (build + probe, nothing cached). Prefer
    * `buildIvfIndex` + `ivfProbe` when probing more than once.
    */
  def ivfTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      nlist: Int = 16, nprobe: Int = 4, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    ivfProbe(
      buildIvfIndex(corpus, nlist, seed, idCol, vecCol, persist = false),
      queries, k, nprobe, idCol, vecCol)

  /** IVF scale policy (published Faiss practice, re-derived): nlist ≈ √n
    * balances the per-query centroid scan (∝ nlist) against the probed
    * candidate scan (∝ nprobe·n/nlist); nprobe = ⌈nlist/16⌉ keeps the
    * PROBED FRACTION of the corpus ≥ 1/16 constant as n grows. Like the
    * LSH signature-length dial ([[lshNearDupPairsAuto]]), these are part
    * of the operator contract, not tuning constants: a fixed absolute
    * nprobe over a growing nlist silently shrinks the searched fraction
    * and recall decays with corpus size, while the constant-fraction
    * policy held recall@5 flat across ×10/×100 in the measured
    * BASELINE.md recall table (graft.ScaleBench's ann_recall harness).
    */
  def ivfScaleParams(n: Long): (Int, Int) = {
    val nlist = math.max(16, math.round(math.sqrt(n.toDouble)).toInt)
    (nlist, policyNprobe(nlist))
  }

  /** The one definition of the unfiltered nprobe policy (constant probed
    * fraction ≥ 1/16, floor 4) — shared by [[ivfScaleParams]] and
    * [[filteredNprobeParam]] so the documented identity "auto at
    * selectivity 1 IS the unfiltered policy" cannot drift when the
    * fraction is retuned.
    */
  def policyNprobe(nlist: Int): Int =
    math.max(4, math.ceil(nlist / 16.0).toInt)

  /** Filtered-probe nprobe policy (r14 — the measured BASELINE.md
    * nprobe-vs-selectivity table promoted to API): widen nprobe INVERSELY
    * with the filter's selectivity, capped at nlist. Why this exact
    * shape: the unfiltered policy probes fraction f = nprobe/nlist of
    * the corpus, giving ~f·n candidates per query; under a filter of
    * selectivity s the probed cells hold only ~f·s·n ALLOWED candidates
    * — the recall loss the r13 table measured (selective 0.26 vs
    * permissive 0.46 at the policy dial, ×100). nprobe/s restores the
    * allowed-candidate volume to ~f·n, so the auto dial's scored volume
    * NEVER exceeds what the unfiltered policy already pays: at the
    * nlist cap (s < f — very selective filters) the probe scans every
    * cell but scores only |allowed| = s·n < f·n rows. Monotone ≥ the
    * fixed policy (a wider probe's cells are a superset, and exact
    * re-ranking cannot evict a true neighbor), so auto ≥ fixed recall
    * deterministically.
    */
  def filteredNprobeParam(nlist: Int, selectivity: Double): Int = {
    require(selectivity > 0.0 && selectivity <= 1.0,
      s"selectivity must be in (0, 1], got $selectivity")
    val policy = policyNprobe(nlist)
    math.min(nlist,
      math.max(policy, math.ceil(policy / selectivity).toInt))
  }

  /** The CELL-AWARE filtered probe — the dial for CORRELATED allowed sets
    * (r18, verdict item 4). The [[filteredNprobeParam]] conservation law
    * is VOLUME-based: nprobe/s restores allowed-candidate volume assuming
    * the allowed set spreads uniformly across cells. The realistic
    * multi-tenant case is the opposite — a tenant's documents cluster into
    * FEW cells (tenants have topics) — and then a query far from the
    * tenant's region ranks those cells poorly among ALL cells, probes its
    * nprobe nearest (mostly allowed-empty) cells, and under-recalls
    * however wide the volume dial opens short of the nlist cap.
    *
    * This verb resolves the set of cells that actually HOLD allowed
    * candidates — one bounded semi-join aggregation at probe construction
    * (O(nlist) result, the [[resolveSelectivity]] cost class), never per
    * query — and each query probes its `nprobe` nearest cells AMONG THOSE.
    * Coverage is counted in allowed cells, so the probe goes where the
    * tenant's documents live regardless of how they cluster. At `nprobe ≥`
    * the allowed-cell count the probe visits every allowed row: EXACTLY the
    * filtered brute ranking (spec-pinned) — the same exactness anchor the
    * volume dial only reaches at the full nlist cap. The allowed semi-join
    * still rides the candidate relation (an allowed CELL holds disallowed
    * rows too), preserving pre-filter semantics.
    *
    * `nprobe` None conserves the unfiltered policy's SCORED VOLUME on the
    * allowed mass: the allowed set's s·n rows spread over nCells allowed
    * cells (mean s·n/nCells each), so probing np = nCells/(16·s) of them
    * scores ≈ n/16 — the same volume the unfiltered constant-fraction
    * policy pays — capped at nCells (then the probe IS the filtered brute
    * ranking) and floored at [[policyNprobe]]'s 4. Two identities pin the
    * shape: at selectivity 1 (allowed = everything) nCells = nlist and the
    * dial IS the unfiltered policy; as s → 0 the cap forces exactness. An
    * earlier coverage-only dial (probe nCells/16 cells, ignoring s)
    * measured BELOW the volume dial on spread-clustered ACLs — it probed a
    * fixed fraction of the allowed cell space where the volume
    * conservation argument demands a 1/s widening, the same lesson
    * [[filteredNprobeParam]] encodes on raw cells. `selectivity`: pass it
    * when known (the production case); `None` derives it with the
    * [[resolveSelectivity]] bounded counts at probe-construction time.
    */
  def ivfProbeCellAware(
      index: IvfIndex, queries: DataFrame, k: Int, allowed: DataFrame,
      nprobe: Option[Int] = None, selectivity: Option[Double] = None,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val allowedCells = resolveAllowedCells(index, allowed, idCol)
    if (allowedCells.isEmpty)
      // empty intersection: the filtered result is empty by definition —
      // serve through the plain filtered probe (its semi-join yields
      // zero candidates) rather than inventing a cell set
      return ivfProbe(index, queries, k, 1, idCol, vecCol, Some(allowed))
    val np = nprobe.getOrElse {
      val s = resolveSelectivity(selectivity, allowed, index.assigned, idCol)
      math.min(allowedCells.length,
        math.max(4, math.ceil(allowedCells.length / (16.0 * s)).toInt))
    }
    // resolveAllowedCells returns the ids SORTED ascending — exactly the
    // NearestCells candidate-order contract, so its stable selection
    // reproduces the old sortBy((d2, c2)) tie-break
    topKPerQuery(floatScored(ivfCandidateRows(index.centers, index.assigned,
      queries, np, Some(allowed), idCol, vecCol, Seq(col(vecCol).as("qv")),
      among = Some(allowedCells))), k)
  }

  // the bounded allowed-cell resolution of the cell-aware probe: distinct
  // cells of the allowed∩index rows, sorted for deterministic tie-breaks
  // in the probe expression
  private[graft] def resolveAllowedCells(index: IvfIndex, allowed: DataFrame,
      idCol: String): Array[Int] =
    index.assigned
      .join(allowed.select(col(idCol).as("neighbor_id")).distinct(),
        Seq("neighbor_id"), "left_semi")
      .select(col("cell")).distinct()
      .collect().map(_.getInt(0)).sorted

  private[graft] def resolveSelectivity(selectivity: Option[Double],
      allowed: DataFrame, assigned: DataFrame,
      allowedIdCol: String): Double =
    selectivity.getOrElse {
      val n = assigned.count()
      require(n > 0, "cannot derive selectivity over an empty index")
      // what matters is the allowed share OF THE INDEX, so count the
      // intersection — a catalog-wide ACL enumerating ids this shard
      // never held (or carrying duplicates) would otherwise read as
      // selectivity ≈ 1 and silently collapse the auto dial back to the
      // under-recalling fixed policy it exists to replace. Floor at 1/n:
      // an empty intersection still needs a valid dial (the probe will
      // simply return nothing).
      val inIndex = assigned
        .join(allowed.select(col(allowedIdCol).as("neighbor_id")).distinct(),
          Seq("neighbor_id"), "left_semi")
        .count()
      math.min(1.0, math.max(1.0 / n.toDouble, inIndex.toDouble / n.toDouble))
    }

  /** Shortlist-width scale policy for the re-rank families ([[hammingTopK]],
    * [[ivfProbePqRefined]]): refine grows ∝ √(n/2000) from the family's
    * measured-good base dial at the 2k testdata. Mechanism (BASELINE.md
    * recall table): the Hamming/ADC estimator's noise is FIXED (by `bits` /
    * the codebook), so on margin-collapsed corpora the number of background
    * competitors whose estimated score ties the true k-th neighbor grows
    * with n, and a fixed shortlist dilutes — measured decay 0.60 → 0.24
    * (SRP refine=8) and 0.37 → 0.16 (ADC refine=4) across ×100. Widening
    * refine touches ONLY the k·refine-row exact re-rank join, never the
    * scan (SRP refine=64 measured FASTER than refine=8 at every size), so
    * the √n policy buys back most of the decay at negligible cost: at 200k
    * it lands at/above the measured recovery dials (SRP ≥ 64 → recall
    * 0.48 vs 0.24; ADC ≥ 16 → 0.29 vs 0.16). Full flatness on a
    * margin-collapsed corpus would need shortlist ∝ n (no sub-linear
    * method avoids that regime); on structured corpora the base dial is
    * already recall-1.0 (planted-twin table). `cap` bounds the re-rank
    * join for pathological n.
    */
  def refineScaleParam(n: Long, base: Int, cap: Int = 1024): Int = {
    require(base > 0 && cap >= base, s"need 0 < base <= cap, got $base/$cap")
    val scaled = math.ceil(base * math.sqrt(n.toDouble / 2000.0)).toInt
    math.min(cap, math.max(base, scaled))
  }

  /** LSH-bucketed approximate cosine top-k. Each side gets `numTables`
    * signatures; candidate pairs share (table, signature); exact cosine
    * re-ranks candidates. Returns (query_id, rn, neighbor_id, cosine).
    */
  def lshTopK(
      corpus: DataFrame, queries: DataFrame, k: Int,
      numTables: Int = 8, bitsPerTable: Int = 12, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding",
      maxBucketSize: Int = 100000): DataFrame = {

    val sigUdf = signatures(numTables, bitsPerTable, seed)
    def withBuckets(df: DataFrame, id: String, v: String) =
      df.select(col(idCol).as(id), col(vecCol).as(v),
        posexplode(sigUdf(col(vecCol))).as(Seq("table", "sig")))

    val cAll = withBuckets(corpus, "neighbor_id", "tv")
    // hot-bucket guard (see Dedup.minhashCandidates): a degenerate
    // signature shared by k corpus vectors costs k candidates per probing
    // query — cap it; such buckets are the least discriminative
    val c = cAll.join(
      cAll.groupBy(col("table"), col("sig"))
        .agg(count(lit(1)).as("__bs"))
        .filter(col("__bs") <= maxBucketSize)
        .select(col("table"), col("sig")),
      Seq("table", "sig"))
    val q = withBuckets(queries, "query_id", "qv")
    val candidates = c.join(q, Seq("table", "sig"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"), col("qv"), col("tv"))
      .distinct()
    topKPerQuery(floatScored(candidates), k)
  }
}
