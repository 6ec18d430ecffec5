package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.SimilaritySearch.AnnCodec

/** Measured scale evidence for SURVEY §4.4 (round-5 verdict item 3).
  *
  * Generates a factor-F corpus (default ×10 ≈ sf1) from the sf0.1 testdata
  * and times the heaviest operator families at BOTH sizes, reporting the
  * empirical scaling exponent e = ln(t_big/t_small)/ln(F). A shuffle-safe
  * family should land near e ≈ 1 (linear); any hidden superlinear stage
  * (candidate blowup, unbounded window, driver collect) surfaces as e ≫ 1
  * here rather than in production.
  *
  * Replica construction decorrelates the copies so the ×F corpus behaves
  * like F independent sf0.1 corpora (bigger sources, not more sources) —
  * NOT like one corpus duplicated F times, which would hand the dedup
  * families an artificial 100× candidate-pair workload that no real sf1
  * corpus has:
  *   - documents: replica k>0 rewrites the 9 most common letters via a
  *     rotated `translate` alphabet — same length (n_chars stays valid),
  *     same source/lang marginals, but shingle/token sets disjoint from
  *     every other replica, so no cross-replica near-dup pairs;
  *   - embeddings: replica k rotates each vector by k positions — a fixed
  *     permutation preserves all within-replica cosines exactly while
  *     scrambling cross-replica cosines to background level;
  *   - customer: replica k>0 prefixes names with "kkk-" (3 edits between
  *     any two replica tags > tau=1, so no cross-replica ed-join pairs);
  *   - events: pure id-shift (users are independent across replicas).
  *
  * Artifact builds (minhash signatures, benchmark grams) are timed
  * separately from the min-of-2 query timings, mirroring Bench.scala's
  * build/probe split: at 100 TB those are persisted artifacts amortized
  * over every downstream consumer.
  */
object ScaleBench {

  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))

  /** The unpruned-baseline batch ranking — ONE definition for every
    * pruned-vs-unpruned pair (batch_wand, rag_lexical), so the two
    * exponent baselines can never measure diverging ranking rules.
    */
  private def unprunedBatchTopK(idx: graft.operators.InvertedIndex.LexIndex,
      queries: DataFrame, k: Int): DataFrame = {
    val scored = graft.operators.InvertedIndex.bm25ScoresByQuery(idx, queries)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score_q").desc, col("doc_id"))
    scored.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= k)
  }

  /** The one recursive temp-tree deleter (the compaction and embjson
    * families both generate multi-GB scratch dirs that must not outlive
    * their measurements); null-safe against listFiles returning null on
    * permission/race errors. */
  private def deleteRecursively(p: String): Unit = {
    def rec(f: java.io.File): Unit = {
      if (f.isDirectory) {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(rec)
      }
      f.delete(); ()
    }
    rec(new java.io.File(p))
  }

  private val ALPHA = "abcdefghijklmnopqrstuvwxyz"
  // multipliers coprime to 26 — affine ciphers i -> a·i + b are bijections
  private val COPRIMES = Array(1, 3, 5, 7, 9, 11, 15, 17, 19, 21, 23, 25)

  /** Affine substitution alphabet for replica k: position i maps to
    * (a_k·i + b_k) mod 26 with a_k coprime to 26 — 312 distinct letter
    * bijections, k = 0 the identity. A bijection preserves every
    * within-replica equality/shingle relation exactly while making
    * word/shingle vocabularies disjoint across replicas. (An earlier
    * 9-letter rotation scheme collided at k ≡ 0 mod 9, silently making
    * replica 9 an exact duplicate of replica 0.)
    */
  private[graft] def affineAlpha(k: Int): String = {
    val a = COPRIMES(k % COPRIMES.length)
    val b = k / COPRIMES.length
    String.valueOf(Array.tabulate(26)(i => ALPHA((a * i + b) % 26)))
  }

  // k=312 wraps to (a=1, b=26 ≡ 0) = identity: replica 312 would be an
  // exact duplicate of replica 0 and re-correlate the dedup workload
  private[graft] val MaxFactor = 312

  private val DIGITS = "0123456789"
  private val DIGIT_COPRIMES = Array(1, 3, 7, 9)

  /** Digit analog of [[affineAlpha]]: i -> (a_k·i + b_k) mod 10 with a_k
    * coprime to 10 — 40 distinct digit bijections (cycling past k=40 is
    * fine: letter alphabets alone keep replicas distinct; the digit map
    * exists so texts with NO letters — digits/punctuation — still
    * decorrelate instead of replicating as exact cross-replica dups).
    */
  private[graft] def digitAlpha(k: Int): String = {
    val a = DIGIT_COPRIMES(k % DIGIT_COPRIMES.length)
    val b = (k / DIGIT_COPRIMES.length) % 10
    String.valueOf(Array.tabulate(10)(i => DIGITS((a * i + b) % 10)))
  }

  // translate source/target: lowercase + uppercase (same bijection,
  // case-preserved) + digits, so only punctuation/whitespace are fixed
  // points of the substitution
  private val SUBST_SRC = ALPHA + ALPHA.toUpperCase + DIGITS
  private[graft] def substAlpha(k: Int): String =
    affineAlpha(k) + affineAlpha(k).toUpperCase + digitAlpha(k)

  // scheme token written into the _DONE marker: bump when the replica
  // construction changes so stale corpora regenerate instead of silently
  // reporting exponents against the wrong construction
  private val Scheme = "v3-affine-azAZ09-lineitem"

  def generate(spark: SparkSession, base: String, out: String, factor: Int): Unit = {
    require(factor >= 1 && factor <= MaxFactor,
      s"factor must be in [1, $MaxFactor] (letter bijections repeat past $MaxFactor)")
    val doneMarker = new java.io.File(s"$out/_DONE")
    val markerContent = s"base=$base factor=$factor scheme=$Scheme"
    if (doneMarker.exists()) {
      val existing = new String(
        java.nio.file.Files.readAllBytes(doneMarker.toPath), "UTF-8").trim
      if (existing == markerContent) return
      // stale corpus (different base/factor/scheme): fall through and
      // regenerate — every table write below is mode("overwrite")
      println(s"SCALEGEN stale marker ('$existing' != '$markerContent'): regenerating")
    }

    // the id shifts below assume every base id fits under the replica
    // stride; a base corpus larger than that would silently collide ids
    // across replicas
    def requireMaxId(df: DataFrame, c: String, stride: Long): Unit = {
      val m = df.agg(max(col(c).cast("long"))).head().getLong(0)
      require(m < stride, s"$c max $m >= replica stride $stride")
    }

    def replicas(df: DataFrame)(perturb: (DataFrame, Int) => DataFrame): DataFrame =
      (0 until factor).map(k => perturb(df, k)).reduce(_ unionByName _)

    val docs = spark.read.parquet(s"$base/documents.parquet")
    requireMaxId(docs, "doc_id", 10000000L)
    replicas(docs) { (d, k) =>
      val shifted = d.withColumn("doc_id", col("doc_id") + lit(k.toLong * 10000000L))
      if (k == 0) shifted
      else shifted.withColumn("text", translate(col("text"), SUBST_SRC, substAlpha(k)))
    }.repartition(32).write.mode("overwrite").parquet(s"$out/documents.parquet")

    val emb = spark.read.parquet(s"$base/embeddings.parquet")
    requireMaxId(emb, "vec_id", 10000000L)
    val dim = emb.selectExpr("size(embedding)").head().getInt(0)
    // rotation by k mod dim, negated every full cycle: 2·dim distinct
    // orthogonal transforms — within-replica cosines preserved exactly,
    // cross-replica cosines scrambled to background, no k-collision up to
    // factor 2·dim
    replicas(emb) { (e, k) =>
      val shifted = e.withColumn("vec_id", col("vec_id") + lit(k.toLong * 10000000L))
      val r = k % dim
      val sgn = if ((k / dim) % 2 == 1) -1.0f else 1.0f
      val rotated =
        if (r == 0) shifted
        else shifted.withColumn("embedding",
          expr(s"concat(slice(embedding, ${r + 1}, 1000000), slice(embedding, 1, $r))"))
      if (sgn == 1.0f) rotated
      else rotated.withColumn("embedding",
        expr("transform(embedding, x -> -x)"))
    }.repartition(32).write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    val cust = spark.read.parquet(s"$base/customer.parquet")
    requireMaxId(cust, "c_custkey", 10000000L)
    replicas(cust) { (c, k) =>
      val shifted = c.withColumn("c_custkey", col("c_custkey") + lit(k.toLong * 10000000L))
      if (k == 0) shifted
      else shifted.withColumn("c_name", concat(lit(s"$k$k$k-"), col("c_name")))
    }.repartition(32).write.mode("overwrite").parquet(s"$out/customer.parquet")

    // lineitem feeds the compaction-planning family: replicas shift the
    // ship month by k months (MORE partitions, not bigger ones — the
    // "growing table history" shape a maintenance job actually sees) and
    // stride the order keys so file ids stay decorrelated
    val li = spark.read.parquet(s"$base/lineitem.parquet")
      .select(col("l_orderkey"), col("l_shipdate"))
    requireMaxId(li, "l_orderkey", 10000000L)
    replicas(li) { (l, k) =>
      l.withColumn("l_orderkey", col("l_orderkey") + lit(k.toLong * 10000000L))
        .withColumn("l_shipdate", add_months(col("l_shipdate"), k))
    }.repartition(32).write.mode("overwrite").parquet(s"$out/lineitem.parquet")

    // events.parquet carries INT64 TIMESTAMP(NANOS); read the nanos as raw
    // longs (the Tables.events convention) and write them back as longs so
    // the scaled dir round-trips through the same loader unchanged
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val ev = spark.read.parquet(s"$base/events.parquet")
    requireMaxId(ev, "event_id", 1000000000L)
    requireMaxId(ev, "user_id", 10000000L)
    replicas(ev) { (e, k) =>
      e.withColumn("event_id", col("event_id") + lit(k.toLong * 1000000000L))
        .withColumn("user_id", col("user_id") + lit(k.toLong * 10000000L))
    }.repartition(32).write.mode("overwrite").parquet(s"$out/events.parquet")

    java.nio.file.Files.write(doneMarker.toPath, markerContent.getBytes("UTF-8"))
    ()
  }

  /** Mean recall@k of `approx` against ground truth `truth`, both in the
    * (query_id, rn, neighbor_id, ...) shape every ANN probe returns and
    * already cut to their top-k. Distributed — one inner join and two
    * counts, no collect of the rankings. Queries the ground truth knows
    * but the probe missed entirely still count against recall (the join
    * is against truth rows, not probe rows).
    */
  def recallAtK(truth: DataFrame, approx: DataFrame): Double = {
    val t = truth.select(col("query_id"), col("neighbor_id"))
    val a = approx.select(col("query_id"), col("neighbor_id"))
    val total = t.count()
    if (total == 0L) 1.0
    else t.join(a, Seq("query_id", "neighbor_id")).count().toDouble / total
  }

  // planted ids live above every replica-shifted corpus id (max shift =
  // MaxFactor·1e7 < 1e10)
  private[graft] val PlantBase = 10000000000L

  /** Deterministic planted near-neighbors: `copies` perturbed twins of
    * each query vector with ids PlantBase + vec_id·copies + j. Per-dim
    * RELATIVE noise — v'ᵢ = vᵢ·(1 + amp·uᵢ) with uᵢ ∈ [−1, 1] hashed
    * from (vec_id, j, i) — keeps cosine(v, v') ≈ 1 − amp²/6 (≈ 0.96 at
    * amp = 0.5) regardless of the vector's norm, far above the ~0.55
    * extreme-value background of 200k near-random 64-d vectors, so the
    * planted set IS the exact top-`copies` of its query (spec-pinned via
    * brute force). This is the planted-ground-truth eval shape published
    * ANN benchmarks use when the corpus's own neighbor structure is too
    * thin to grade against.
    */
  private[graft] def plantNeighbors(queries: DataFrame, copies: Int,
      amp: Double): DataFrame =
    queries
      .select(col("vec_id"), col("embedding"),
        explode(sequence(lit(0), lit(copies - 1))).as("__j"))
      .select(
        (lit(PlantBase) + col("vec_id") * copies + col("__j")).as("vec_id"),
        transform(col("embedding"), (x, i) =>
          (x.cast("double") * (lit(1.0) + lit(amp) *
            (pmod(xxhash64(col("vec_id"), col("__j"), i), lit(1001))
              .cast("double") / lit(500.0) - lit(1.0))))
            .cast("float")).as("embedding"))

  /** The planted truth relation for [[plantNeighbors]]: (query_id,
    * neighbor_id) rows naming each query's `copies` twins.
    */
  private[graft] def plantedTruth(queries: DataFrame, copies: Int): DataFrame =
    queries
      .select(col("vec_id").as("query_id"),
        explode(sequence(lit(0), lit(copies - 1))).as("__j"))
      .select(col("query_id"),
        (lit(PlantBase) + col("query_id") * copies + col("__j"))
          .as("neighbor_id"))

  /** The operator-level IVF scale policy — see
    * [[graft.operators.SimilaritySearch.ivfScaleParams]]; the recall
    * harness below exists to measure that the policy actually holds
    * recall across ×10/×100.
    */
  private[graft] def ivfScaleParams(n: Long): (Int, Int) =
    graft.operators.SimilaritySearch.ivfScaleParams(n)

  def main(args: Array[String]): Unit = {
    val base = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val factor = sys.env.getOrElse("SPARK_GRAFT_SCALE_FACTOR", "10").toInt
    val out = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", s"target/scaledata/x$factor")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-scale-warehouse").toString)
      .withExtensions(new graft.expressions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()

    val t0gen = System.nanoTime()
    generate(spark, base, out, factor)
    println(s"SCALEGEN ${fmt((System.nanoTime() - t0gen) / 1e9)}s -> $out")

    import graft.operators.{Dedup, EdJoin, SetJoin}

    // per-dir artifacts for the serving-path families, populated by the
    // builds step below (families are lambdas, so the late binding is
    // safe — builds always run before the timing loop)
    val lexIdx = scala.collection.mutable.Map
      .empty[String, graft.operators.InvertedIndex.LexIndex]
    var bm25Terms: Seq[String] = Nil
    var suggestQueries: Seq[String] = Nil
    // 8 distinct 3-term bags for the batch-vs-loop hybrid pair (from
    // the base vocabulary's df head, chunked — fixed across dirs)
    var hybridBags: Seq[(Long, Seq[String])] = Nil
    val posIdx = scala.collection.mutable.Map
      .empty[String, graft.operators.InvertedIndex.LexIndex]
    var phraseTerms: Seq[String] = Nil
    var proximityTerms: Seq[String] = Nil
    // 8 two-term bags for the batch-vs-loop positional pairs (from the
    // base vocabulary's top-16 df terms; distinct within a bag — the
    // proximity contract)
    var positionalBags: Seq[(Long, Seq[String])] = Nil
    val wandIdx = scala.collection.mutable.Map
      .empty[String, graft.operators.InvertedIndex.LexIndex]
    var wandTerms: Seq[String] = Nil
    var wandBatchQueries: Seq[(Long, String)] = Nil
    val tombIdx = scala.collection.mutable.Map
      .empty[String, graft.operators.InvertedIndex.LexIndex]
    var tombTerms: Seq[String] = Nil
    // index artifacts are probed during the family loop, so their temp
    // dirs can only be reclaimed at the end — the positional one is
    // ~token-count storage (2.4x the flat build), too big to leak
    val scratchDirs = scala.collection.mutable.ListBuffer.empty[String]
    val evalRel = scala.collection.mutable.Map
      .empty[String, (DataFrame, DataFrame)]
    val ragSrpIdx = scala.collection.mutable.Map
      .empty[String, graft.operators.SimilaritySearch.SrpIndex]
    // (loaded IVF artifact, nprobe under the √n scale policy)
    val ragIvfIdx = scala.collection.mutable.Map
      .empty[String, (graft.operators.SimilaritySearch.IvfIndex, Int)]
    // the filtered-retrieval pair's dense index (embeddings corpus, √n
    // policy) and the RAG composed-pipeline query-term relation
    // persisted-artifact DIRS for the delete-lifecycle probe pair
    // (clean vs tombstoned loads happen inside the timed lambdas)
    val embIvfArtifact = scala.collection.mutable.Map.empty[String, (String, Int)]
    val embIvfTombArtifact = scala.collection.mutable.Map.empty[String, (String, Int)]
    val embIvfIdx = scala.collection.mutable.Map
      .empty[String, (graft.operators.SimilaritySearch.IvfIndex, Int)]
    val ragQtermsRel = scala.collection.mutable.Map.empty[String, DataFrame]
    // the COMPRESSED filtered tier's indexes (r13 operators — measured
    // the round they shipped, per the repo's own discipline)
    val embInt8Idx = scala.collection.mutable.Map
      .empty[String, (graft.operators.SimilaritySearch.IvfInt8Index, Int)]
    val embSrpIdx = scala.collection.mutable.Map
      .empty[String, graft.operators.SimilaritySearch.SrpIndex]
    val embPqIdx = scala.collection.mutable.Map
      .empty[String, graft.operators.SimilaritySearch.IvfPqIndex]
    def ragQueries(dir: String): DataFrame =
      graft.queries.TextQueries.ragEmb(spark, dir)
        .filter(pmod(col("cid"), lit(10000L)) === 0 &&
          (col("cid") / 10000L) % 65 === 0)

    // operator-level scope (NOT the slice-capped oracle gates): the gate
    // caps exist so the DuckDB n² replay stays feasible; the scaling
    // question is about the operator's full-corpus plan
    val families: Seq[(String, String => DataFrame)] = Seq(
      "minhash_canonicalize" -> { dir: String =>
        val sigs = graft.queries.EngineQueries.minhashSigs(spark, dir)
        Dedup.canonicalize(
          Dedup.minhashCandidates(sigs, bands = 8, rowsPerBand = 4)
            .filter(col("est_jaccard") >= 0.5))
      },
      // candidate stage alone — isolates banded-join cost from the
      // iterative connected-components rounds when the combined exponent
      // needs explaining
      "minhash_candidates" -> { dir: String =>
        val sigs = graft.queries.EngineQueries.minhashSigs(spark, dir)
        Dedup.minhashCandidates(sigs, bands = 8, rowsPerBand = 4)
          .filter(col("est_jaccard") >= 0.5)
      },
      // enumSaltFactor=16: this corpus is the measured skew case (tiny
      // word vocabulary concentrates pair enumeration; see SetJoin scaladoc)
      "setjoin_jaccard" -> { dir: String =>
        SetJoin.jaccardJoin(Tables.documents(spark, dir), t = 0.9,
          enumSaltFactor = 16)
      },
      "edjoin_typos" -> { dir: String =>
        EdJoin.edJoin(
          Tables.customer(spark, dir).select(col("c_custkey"), col("c_name")),
          tau = 1, idCol = "c_custkey", strCol = "c_name")
      },
      "cross_source_overlap" -> { dir: String =>
        SparkEntry.queries("t_cross_source_overlap")(spark, dir)
      },
      "mixture_temperature" -> { dir: String =>
        SparkEntry.queries("t_mixture_temperature_sample")(spark, dir)
      },
      "curation_funnel" -> { dir: String =>
        SparkEntry.queries("tx_curation_funnel")(spark, dir)
      },
      // the composed end-to-end pipeline (ingest -> embed -> align ->
      // sample -> centroid matrix -> PCA -> CV separability): the fixture
      // ingest and the CV (bounded per-label sample) are fixed-cost; the
      // corpus-driven stages are the align join, the centroid aggregate
      // and the PCA landmark sample, so the whole composition should read
      // sub-linear — this row exists to catch any stage that stops being
      // bounded when the embedding table grows 100x
      "deepfake_lifecycle" -> { dir: String =>
        SparkEntry.queries("mx_deepfake_lifecycle")(spark, dir)
      },
      // NOT the gate query: the gate pins bitsPerTable=6, tuned to the
      // 2k-vector testdata's low-cosine regime. Signature length is the
      // documented log(n) dial (SimilaritySearch scaladoc) — holding it
      // fixed while growing the corpus 100× hands the bucket join ~n²/2^b
      // candidate pairs and the ×100 run measured exactly that (disk-full
      // from SMJ spill, BASELINE.md). The scale measurement applies the
      // dial the way production would.
      "embedding_canonicalize" -> { dir: String =>
        import graft.operators.{Dedup => DD, SimilaritySearch}
        val pairs = SimilaritySearch.lshNearDupPairsAuto(
            Tables.embeddings(spark, dir), threshold = 0.3, numTables = 8)
          .select(col("id_a"), col("id_b"))
        DD.canonicalize(pairs)
      },
      "sessionize_events" -> { dir: String =>
        SparkEntry.queries("e_sessionize_30min_gap")(spark, dir)
      },
      // full substring-dedup pipeline (window explode → hash prefilter →
      // exact confirm → island merge → row-local scrub). The decorrelated
      // corpus letter-rotates text per replica, so cross-replica grams are
      // disjoint and the duplicated-span structure grows ∝ replicas — the
      // "more sources, not bigger sources" shape; the gram-keyed
      // aggregations and the per-doc windows are the scaling surfaces
      // the filter consumer defeats count()'s pruning: a bare count prunes
      // the row-local text rebuild, and count-of-ungrouped-agg is constant-
      // folded to 1 without running ANY of the pipeline — the filter makes
      // every counted row prove its rebuilt text and removal count exist
      "dupspan_scrub" -> { dir: String =>
        graft.operators.DupSpans.scrub(Tables.documents(spark, dir), 5)
          .filter(length(col("text")) >= 0 && col("n_tokens_removed") >= 0)
      },
      // compaction planning over the lineitem-derived listing: the fact
      // scan+aggregate deriving the file metadata is the corpus-scale
      // stage; the greedy fold itself touches only files-per-partition
      // metadata rows — the row validating that maintenance planning
      // stays scan-bounded as the table grows 100x
      "compaction_plan" -> { dir: String =>
        val listing = Tables.lineitem(spark, dir).groupBy(
            date_format(col("l_shipdate"), "yyyy-MM").as("part"),
            (col("l_orderkey") % 200).as("file_id"))
          .agg((count(lit(1)) * 100L).cast("long").as("bytes"))
        graft.sources.Compaction.planCompaction(listing, 4000L)
          .filter(col("bin") >= 0)
      },
      // exact-CG linear probe: the corpus-scale stages are the d² gram
      // and the scoring pass; the 8 CG rounds run on 64-row local
      // relations regardless of corpus size — the row verifying that the
      // iterative-solver twins stay scan-bounded at 100x (grouped output:
      // count cannot constant-fold)
      "linear_probe" -> { dir: String =>
        val lf = Tables.embeddings(spark, dir)
          .select(col("vec_id"), col("label"), posexplode(col("embedding")))
          .select(col("vec_id"), col("label"), col("pos"),
            floor(col("col").cast("double") * lit(10000.0)).cast("long")
              .as("q"))
        graft.ml.LinearProbe.probeReport(lf, 64, 8, 5)
      },
      // inverted-index BM25 probe against the persisted artifact (build
      // timed separately): the query is FIXED — the base corpus's three
      // most frequent terms, whose posting sizes are replica-invariant on
      // the letter-rotated big corpus — so this row isolates what the
      // probe actually pays as the corpus grows: the pruned bucket scan
      // (query-term buckets hold ~1/64 of a 100x posting relation). If e
      // climbs toward 1 the partition pruning is not reaching the scan
      "bm25_probe" -> { dir: String =>
        graft.operators.InvertedIndex.bm25TopK(lexIdx(dir), bm25Terms, 10)
      },
      // WAND-pruned vs unpruned BM25 on the stop+rare query over the
      // stop-token-injected artifact (one posting ∝ corpus by
      // construction): the unpruned probe must shuffle and decimal-sum
      // the ENTIRE stop posting into per-doc scores; the pruned probe
      // scores only the rare terms' candidates, touching the stop
      // posting as a broadcast-filtered semi-join (columnar scan, no
      // shuffle). The pair's exponent gap is the claim: pruned cost
      // follows the rare terms' postings, not the stop-term's
      "wand_probe" -> { dir: String =>
        graft.operators.InvertedIndex.bm25TopKPruned(
          wandIdx(dir), wandTerms, 10)
      },
      // tombstoned probe: bm25_probe's scan shape plus the live-tombstone
      // anti-joins above the bucket filter — the e gap vs bm25_probe is
      // what a deferred takedown costs at serving time
      "bm25_tomb_probe" -> { dir: String =>
        graft.operators.InvertedIndex.bm25TopK(tombIdx(dir), tombTerms, 10)
      },
      "wand_probe_unpruned" -> { dir: String =>
        graft.operators.InvertedIndex.bm25TopK(wandIdx(dir), wandTerms, 10)
      },
      // BATCH serving form over the same stop-injected index: 8 stop+rare
      // queries in one relational pass, pruned vs unpruned — the batch
      // cut amortizes the orchestration cost the single-query probe pays
      // per call, while the unpruned batch shuffles the stop posting
      // once per covering query
      "batch_wand_probe" -> { dir: String =>
        import spark.implicits._
        graft.operators.InvertedIndex.bm25TopKPrunedByQuery(
          wandIdx(dir), wandBatchQueries.toDF("query_id", "term"), 10)
      },
      "batch_wand_unpruned" -> { dir: String =>
        import spark.implicits._
        unprunedBatchTopK(wandIdx(dir),
          wandBatchQueries.toDF("query_id", "term"), 10)
      },
      // the two serving features composed (r14): the same 8-query batch
      // under a half-corpus ACL filter — the multi-tenant RAG shape. The
      // allowed semi-join lands on the essential posting scan before
      // candidate generation, so the row should track batch_wand_probe
      // (the filter only SHRINKS the scored volume); an exponent above
      // the unfiltered row means the filter broke the pruned plan
      "batch_wand_filtered" -> { dir: String =>
        import spark.implicits._
        graft.operators.InvertedIndex.bm25TopKPrunedByQueryAmong(
          wandIdx(dir), wandBatchQueries.toDF("query_id", "term"), 10,
          Tables.documents(spark, dir)
            .filter(pmod(col("doc_id"), lit(2L)) === 0)
            .select(col("doc_id")))
      },
      // phrase probe over the POSITIONAL artifact: same bucket-pruned
      // scan as bm25_probe plus the positions explode + anchor
      // intersection for the doubled most-frequent term (the worst
      // common phrase: maximal posting size AND both slots share it).
      // The companion lex_index_pos vs lex_index build rows price what
      // positions add to the artifact build at each size
      "phrase_probe" -> { dir: String =>
        graft.operators.InvertedIndex.phraseTopK(posIdx(dir), phraseTerms, 20)
      },
      // the r16 batch positional verbs vs the per-query loops they
      // replace (the hybrid_batch / rag_lexical pair discipline): 8
      // two-term phrase queries / 8 two-term proximity queries from the
      // base vocabulary's frequent terms — the batch row pays ONE
      // pruned positional posting pass, the loop row 8
      "phrase_batch" -> { dir: String =>
        import spark.implicits._
        graft.operators.InvertedIndex.phraseTopKByQuery(posIdx(dir),
          positionalBags.flatMap { case (q, ts) =>
            ts.zipWithIndex.map { case (t, s) => (q, s, t) }
          }.toDF("query_id", "slot", "term"), k = 20)
      },
      "phrase_loop" -> { dir: String =>
        positionalBags.map { case (qid, ts) =>
          graft.operators.InvertedIndex.phraseTopK(posIdx(dir), ts, 20)
            .select(lit(qid).as("query_id"), col("doc_id"), col("n_occ"))
        }.reduce(_ unionByName _)
      },
      // the batch evidence panel beside phrase_batch (r17 — the r16
      // weak-mark's done-criterion): same anchor pass plus the text
      // join, which after the bare-key join-order fix touches only the
      // ≤ k·|Q| result docs' text — this row's exponent must track
      // phrase_batch's, not a corpus-wide tokenize
      "snippets_batch" -> { dir: String =>
        import spark.implicits._
        graft.operators.InvertedIndex.phraseSnippetsByQuery(posIdx(dir),
          Tables.documents(spark, dir),
          positionalBags.flatMap { case (q, ts) =>
            ts.zipWithIndex.map { case (t, s) => (q, s, t) }
          }.toDF("query_id", "slot", "term"), k = 20)
      },
      "proximity_batch" -> { dir: String =>
        import spark.implicits._
        graft.operators.InvertedIndex.proximityTopKByQuery(posIdx(dir),
          positionalBags.flatMap { case (q, ts) => ts.map((q, _)) }
            .toDF("query_id", "term"), window = 8, k = 20)
      },
      "proximity_loop" -> { dir: String =>
        positionalBags.map { case (qid, ts) =>
          graft.operators.InvertedIndex.proximityTopK(posIdx(dir), ts,
              window = 8, k = 20)
            .select(lit(qid).as("query_id"), col("doc_id"),
              col("n_windows"))
        }.reduce(_ unionByName _)
      },
      // proximity probe: same pruned scan as phrase_probe plus the
      // per-doc min-window pass over the two most frequent terms'
      // merged occurrence timeline (maximal timeline length = the worst
      // case for the window stage)
      "proximity_probe" -> { dir: String =>
        graft.operators.InvertedIndex.proximityTopK(posIdx(dir),
          proximityTerms, window = 8, k = 20)
      },
      // query-likelihood probe over the flat artifact: bm25_probe's scan
      // shape plus the collection-stat scalar — the e gap between the
      // two rows is the QL bookkeeping cost
      "ql_probe" -> { dir: String =>
        graft.operators.InvertedIndex.qlTopK(lexIdx(dir), bm25Terms, 10)
      },
      // spell suggestion: artifact-served (bucket-pruned persisted
      // dictionary, r12) vs per-call vocabulary explode (the same index
      // with the dictionary handle dropped). The derived row pays a
      // vocabulary × term-length explode per probe; its exponent should
      // track vocabulary growth while the served row tracks only the
      // query keys' bucket volume
      "suggest_probe" -> { dir: String =>
        graft.operators.InvertedIndex.suggestTerms(
          lexIdx(dir), suggestQueries, 3)
      },
      "suggest_probe_derived" -> { dir: String =>
        graft.operators.InvertedIndex.suggestTerms(
          lexIdx(dir).copy(suggestKeys = None), suggestQueries, 3)
      },
      // the r15 tenant-local suggest: dictionary blocking + allowed-df
      // re-derivation from the candidates' pruned postings — cost ∝
      // candidate posting sizes ∩ allowed, the bm25 probe profile
      "suggest_filtered" -> { dir: String =>
        graft.operators.InvertedIndex.suggestTermsAmong(
          lexIdx(dir), suggestQueries, 3,
          Tables.documents(spark, dir)
            .filter(pmod(col("doc_id"), lit(2L)) === 0)
            .select(col("doc_id")))
      },
      // filtered retrieval at scale (r13, verdict item 2): the sparse
      // side's claim is "shuffle ∝ allowed ∩ matched postings" — the
      // allowed semi-join lands before scoring, so the SELECTIVE row
      // (≈0.8% of docs) should undercut the unfiltered bm25_probe and
      // the PERMISSIVE row (50%) should track it. Fixed query (the
      // bm25_probe terms); the filter relation grows ∝ corpus at a
      // constant selectivity, the production tenant/ACL shape
      "bm25_filtered_selective" -> { dir: String =>
        graft.operators.InvertedIndex.bm25TopKAmong(
          lexIdx(dir), bm25Terms, 10,
          Tables.documents(spark, dir)
            .filter(pmod(col("doc_id"), lit(128L)) === 0)
            .select(col("doc_id")))
      },
      "bm25_filtered_permissive" -> { dir: String =>
        graft.operators.InvertedIndex.bm25TopKAmong(
          lexIdx(dir), bm25Terms, 10,
          Tables.documents(spark, dir)
            .filter(pmod(col("doc_id"), lit(2L)) === 0)
            .select(col("doc_id")))
      },
      // the dense side of the pair: the filtered ivfProbe over the √n-policy
      // index, fixed 10-query probe. The candidate semi-join bounds the
      // scored volume by the probed cells' allowed membership; the
      // recall half of the claim (selective filters deserve a larger
      // nprobe) is measured by the ann_recall_filtered section below
      "ivf_filtered_selective" -> { dir: String =>
        val (idx, nprobe) = embIvfIdx(dir)
        val emb = Tables.embeddings(spark, dir)
        graft.operators.SimilaritySearch.ivfProbe(
          idx, emb.filter(col("vec_id") < 10), k = 10, nprobe,
          allowed = Some(emb.filter(pmod(col("vec_id"), lit(128L)) === 0)
            .select(col("vec_id"))))
      },
      "ivf_filtered_permissive" -> { dir: String =>
        val (idx, nprobe) = embIvfIdx(dir)
        val emb = Tables.embeddings(spark, dir)
        graft.operators.SimilaritySearch.ivfProbe(
          idx, emb.filter(col("vec_id") < 10), k = 10, nprobe,
          allowed = Some(emb.filter(pmod(col("vec_id"), lit(2L)) === 0)
            .select(col("vec_id"))))
      },
      // tombstoned ANN probe (r14 delete lifecycle): the same persisted
      // IVF artifact served clean vs under live tombstones (~0.8% of
      // ids deleted, never compacted) — the pair's gap is what a
      // DEFERRED takedown costs at serving time (the bm25_tomb_probe
      // story on the dense side). Both rows load per probe with
      // persist=false so the tombstone anti-join is actually in the
      // measured plan, not hidden behind a cache
      "ivf_artifact_probe" -> { dir: String =>
        val (cleanDir, nprobe) = embIvfArtifact(dir)
        graft.operators.SimilaritySearch.ivfProbe(
          graft.operators.SimilaritySearch.loadIvfIndex(spark, cleanDir,
            persist = false),
          Tables.embeddings(spark, dir).filter(col("vec_id") < 10),
          k = 10, nprobe)
      },
      "ivf_tomb_probe" -> { dir: String =>
        val (tombDir, nprobe) = embIvfTombArtifact(dir)
        graft.operators.SimilaritySearch.ivfProbe(
          graft.operators.SimilaritySearch.loadIvfIndex(spark, tombDir,
            persist = false),
          Tables.embeddings(spark, dir).filter(col("vec_id") < 10),
          k = 10, nprobe)
      },
      // the COMPRESSED filtered tier (r13): the same ACL shapes over the
      // memory-floor indexes — IVF-SQ8 (int8 codegen kernel on the
      // candidate relation after the allowed semi-join) and SRP-Hamming
      // (the filter rides the xor+popcount scan, refine under the √n
      // auto policy). These are the serving configurations a
      // multi-tenant deployment actually runs; their exponents belong
      // beside the float pair's
      "int8_filtered_selective" -> { dir: String =>
        val (idx, nprobe) = embInt8Idx(dir)
        val emb = Tables.embeddings(spark, dir)
        graft.operators.SimilaritySearch.ivfProbeInt8(
          idx, emb.filter(col("vec_id") < 10), k = 10, nprobe,
          allowed = Some(emb.filter(pmod(col("vec_id"), lit(128L)) === 0)
            .select(col("vec_id"))))
      },
      "int8_filtered_permissive" -> { dir: String =>
        val (idx, nprobe) = embInt8Idx(dir)
        val emb = Tables.embeddings(spark, dir)
        graft.operators.SimilaritySearch.ivfProbeInt8(
          idx, emb.filter(col("vec_id") < 10), k = 10, nprobe,
          allowed = Some(emb.filter(pmod(col("vec_id"), lit(2L)) === 0)
            .select(col("vec_id"))))
      },
      // the 32×-compressed tier under the SAME ACL shapes, through the
      // r15 metadata-resolved auto composition (selectivity-capped
      // nprobe + √n refine): the configuration a 100 TB corpus actually
      // serves filtered queries from — its exponents belong beside the
      // float/int8/SRP rows
      "pq_filtered_selective" -> { dir: String =>
        val emb = Tables.embeddings(spark, dir)
        graft.operators.HybridRetrieval.DenseLeg.PqRefined(embPqIdx(dir), emb)
          .probeAmong(emb.filter(col("vec_id") < 10), k = 10,
            emb.filter(pmod(col("vec_id"), lit(128L)) === 0)
              .select(col("vec_id")), selectivity = Some(1.0 / 128))
      },
      "pq_filtered_permissive" -> { dir: String =>
        val emb = Tables.embeddings(spark, dir)
        graft.operators.HybridRetrieval.DenseLeg.PqRefined(embPqIdx(dir), emb)
          .probeAmong(emb.filter(col("vec_id") < 10), k = 10,
            emb.filter(pmod(col("vec_id"), lit(2L)) === 0)
              .select(col("vec_id")), selectivity = Some(0.5))
      },
      // the r15 hybrid ensemble under the same ACL shapes: BOTH legs
      // pre-filtered (bm25TopKAmong over the persisted lexical artifact
      // + DenseLeg.probeAmong under the selectivity dial), RRF-fused —
      // the serving verb that previously had to be hand-wired per
      // caller; its exponents sit beside the individual legs'
      "hybrid_filtered_selective" -> { dir: String =>
        val emb = Tables.embeddings(spark, dir)
        graft.operators.HybridRetrieval.rrfTopKAmong(
          lexIdx(dir), bm25Terms, embIvfIdx(dir)._1,
          emb.filter(col("vec_id") === 0), k = 10,
          emb.filter(pmod(col("vec_id"), lit(128L)) === 0)
            .select(col("vec_id")),
          legK = 100, selectivity = Some(1.0 / 128))
      },
      "hybrid_filtered_permissive" -> { dir: String =>
        val emb = Tables.embeddings(spark, dir)
        graft.operators.HybridRetrieval.rrfTopKAmong(
          lexIdx(dir), bm25Terms, embIvfIdx(dir)._1,
          emb.filter(col("vec_id") === 0), k = 10,
          emb.filter(pmod(col("vec_id"), lit(2L)) === 0)
            .select(col("vec_id")),
          legK = 100, selectivity = Some(0.5))
      },
      // the r16 tier-generalized hybrid: the SAME filtered ensemble with
      // its dense leg served from the 32×-compressed IVF-PQ tier through
      // DenseLeg.PqRefined (ADC scan over codes → √n-refine exact
      // re-rank, the metadata-resolved auto composition) — the
      // configuration a 100 TB corpus actually fuses from (codes hot,
      // floats point-looked-up); its exponents belong beside
      // hybrid_filtered_*'s
      "hybrid_pq_selective" -> { dir: String =>
        val emb = Tables.embeddings(spark, dir)
        graft.operators.HybridRetrieval.rrfTopKAmong(
          lexIdx(dir), bm25Terms,
          graft.operators.HybridRetrieval.DenseLeg.PqRefined(
            embPqIdx(dir), emb),
          emb.filter(col("vec_id") === 0), k = 10,
          emb.filter(pmod(col("vec_id"), lit(128L)) === 0)
            .select(col("vec_id")),
          legK = 100, selectivity = Some(1.0 / 128))
      },
      "hybrid_pq_permissive" -> { dir: String =>
        val emb = Tables.embeddings(spark, dir)
        graft.operators.HybridRetrieval.rrfTopKAmong(
          lexIdx(dir), bm25Terms,
          graft.operators.HybridRetrieval.DenseLeg.PqRefined(
            embPqIdx(dir), emb),
          emb.filter(col("vec_id") === 0), k = 10,
          emb.filter(pmod(col("vec_id"), lit(2L)) === 0)
            .select(col("vec_id")),
          legK = 100, selectivity = Some(0.5))
      },
      // the r15 BATCH hybrid verb vs the per-query loop it replaces
      // (the rag_lexical / rag_lexical_unpruned pair discipline): 8
      // (vector, term-bag) queries under a half-corpus filter — the
      // batch row pays ONE batch-WAND posting pass + ONE multi-query
      // probe; the loop row pays 8 single-query pipelines (8 GlobalRank
      // stat passes, 8 posting scans). The gap is the batch
      // organization's amortization, measured.
      // the fourth family as a leg (r16): the SRP-Hamming tier under
      // the same ACL shapes — the filter rides the xor+popcount scan
      // (no coverage dial), the √n refine shortlist exact-re-ranks
      "hybrid_srp_selective" -> { dir: String =>
        val emb = Tables.embeddings(spark, dir)
        graft.operators.HybridRetrieval.rrfTopKAmong(
          lexIdx(dir), bm25Terms,
          graft.operators.HybridRetrieval.DenseLeg.Srp(
            embSrpIdx(dir), emb),
          emb.filter(col("vec_id") === 0), k = 10,
          emb.filter(pmod(col("vec_id"), lit(128L)) === 0)
            .select(col("vec_id")),
          legK = 100)
      },
      "hybrid_srp_permissive" -> { dir: String =>
        val emb = Tables.embeddings(spark, dir)
        graft.operators.HybridRetrieval.rrfTopKAmong(
          lexIdx(dir), bm25Terms,
          graft.operators.HybridRetrieval.DenseLeg.Srp(
            embSrpIdx(dir), emb),
          emb.filter(col("vec_id") === 0), k = 10,
          emb.filter(pmod(col("vec_id"), lit(2L)) === 0)
            .select(col("vec_id")),
          legK = 100)
      },
      "hybrid_batch_filtered" -> { dir: String =>
        import spark.implicits._
        val emb = Tables.embeddings(spark, dir)
        graft.operators.HybridRetrieval.rrfTopKByQueryAmong(
          lexIdx(dir),
          hybridBags.flatMap { case (q, ts) => ts.map((q, _)) }
            .toDF("query_id", "term"),
          embIvfIdx(dir)._1,
          emb.filter(col("vec_id") < 8)
            .select(col("vec_id").as("query_id"), col("embedding")),
          k = 10,
          Tables.documents(spark, dir)
            .filter(pmod(col("doc_id"), lit(2L)) === 0)
            .select(col("doc_id").as("vec_id")),
          legK = 100, selectivity = Some(0.5))
      },
      "hybrid_batch_loop" -> { dir: String =>
        val emb = Tables.embeddings(spark, dir)
        val allowed = Tables.documents(spark, dir)
          .filter(pmod(col("doc_id"), lit(2L)) === 0)
          .select(col("doc_id").as("vec_id"))
        hybridBags.map { case (qid, ts) =>
          graft.operators.HybridRetrieval.rrfTopKAmong(
              lexIdx(dir), ts, embIvfIdx(dir)._1,
              emb.filter(col("vec_id") === qid), k = 10, allowed,
              legK = 100, selectivity = Some(0.5))
            .select(lit(qid).as("query_id"), col("doc_id"), col("rrf"))
        }.reduce(_ unionByName _)
      },
      "hamming_filtered_selective" -> { dir: String =>
        val emb = Tables.embeddings(spark, dir)
        graft.operators.HybridRetrieval.DenseLeg.Srp(embSrpIdx(dir), emb)
          .probeAmong(emb.filter(col("vec_id") < 10), k = 10,
            emb.filter(pmod(col("vec_id"), lit(128L)) === 0)
              .select(col("vec_id")))
      },
      "hamming_filtered_permissive" -> { dir: String =>
        val emb = Tables.embeddings(spark, dir)
        graft.operators.HybridRetrieval.DenseLeg.Srp(embSrpIdx(dir), emb)
          .probeAmong(emb.filter(col("vec_id") < 10), k = 10,
            emb.filter(pmod(col("vec_id"), lit(2L)) === 0)
              .select(col("vec_id")))
      },
      // the composed RAG pipeline gate end-to-end (chunk → embed →
      // index → fused retrieve → eval). Query count AND chunk corpus
      // both grow ∝ corpus here (queries = chunk 0 of every 5th sampled
      // doc), so the BRUTE dense leg is O(queries × corpus) — e ≈ 2 by
      // construction. That is the point of the next two rows: the gate's
      // dense leg is the exact BASELINE; the scale path swaps in the
      // SRP-auto probe over the same chunk BoW vectors (identical
      // call shape, artifact-served), measured side by side.
      "rag_pipeline" -> { dir: String =>
        SparkEntry.queries("tx_rag_pipeline")(spark, dir)
      },
      "rag_dense_brute" -> { dir: String =>
        val emb = graft.queries.TextQueries.ragEmb(spark, dir)
        graft.operators.SimilaritySearch.bruteForceTopK(
          emb, ragQueries(dir), k = 10, idCol = "cid", vecCol = "embedding")
      },
      "rag_dense_ann" -> { dir: String =>
        val emb = graft.queries.TextQueries.ragEmb(spark, dir)
        graft.operators.HybridRetrieval.DenseLeg.Srp(ragSrpIdx(dir), emb)
          .probe(ragQueries(dir), k = 10, idCol = "cid", vecCol = "embedding")
      },
      // the IVF-served dense leg of tx_rag_pipeline_ivf under the √n
      // auto dials (nlist ≈ √n, nprobe = nlist/16 — a constant probed
      // FRACTION, so per-query cost ∝ n/16 while the query count grows
      // ∝ corpus: the TOTAL tends to e→2 by the benchmark's own shape
      // and the serving claim is the PER-QUERY exponent, measured 0.09
      // at ×100 — and the brute baseline OOMs outright at ×100 where
      // this row completes; numbers in BASELINE.md rounds 11–12)
      "rag_dense_ivf" -> { dir: String =>
        val (idx, nprobe) = ragIvfIdx(dir)
        graft.operators.SimilaritySearch.ivfProbe(idx,
          ragQueries(dir).select(col("cid"),
            col("embedding").cast("array<float>").as("embedding")),
          k = 10, nprobe, idCol = "cid")
      },
      // the composed RAG pipeline's LEXICAL leg, pruned vs unpruned
      // (r13, verdict item 4): the exact serving swap ragFuseEval made —
      // bm25TopKPrunedByQuery(k+1) vs ranking the full batch scoring
      // relation — measured in isolation over the session-memoized chunk
      // index and the gate's own query relation. Queries grow ∝ corpus
      // (the rag_dense convention), so the exponent PAIR is the claim:
      // the pruned row's gap below the unpruned row is what the RAG
      // evaluation saves by never shuffling the high-df terms' postings
      "rag_lexical" -> { dir: String =>
        graft.operators.InvertedIndex.bm25TopKPrunedByQuery(
          graft.queries.TextQueries.ragIndex(spark, dir),
          ragQtermsRel(dir), 11)
      },
      "rag_lexical_unpruned" -> { dir: String =>
        unprunedBatchTopK(
          graft.queries.TextQueries.ragIndex(spark, dir),
          ragQtermsRel(dir), 11)
      },
      // retrieval-eval harness over PERSISTED results/truth relations
      // (built per dir, timed as builds): the metric computation joins
      // queries x k rows against queries x k rows — its cost must be
      // corpus-INVARIANT (e ~ 0); corpus size only ever enters through
      // the artifacts
      "retrieval_eval" -> { dir: String =>
        val (res, truth) = evalRel(dir)
        graft.operators.RetrievalEval.summarize(
          graft.operators.RetrievalEval.perQuery(res, truth, 5))
      })
    // comma-separated subset for re-measuring single families after a fix
    val wanted = sys.env.get("SPARK_GRAFT_SCALE_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    def familySelected(n: String): Boolean = wanted.forall(_.contains(n))
    val selectedFamilies = families.filter { case (n, _) => familySelected(n) }

    // artifact builds, timed separately per dir (they are themselves part
    // of the scaling story — map-only, expected e ≈ 1)
    val builds = scala.collection.mutable.LinkedHashMap.empty[String, (Double, Double)]
    def timeIt(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }
    if (familySelected("minhash_canonicalize"))
      builds("minhash_sigs") = (
        timeIt { graft.queries.EngineQueries.minhashSigs(spark, base); () },
        timeIt { graft.queries.EngineQueries.minhashSigs(spark, out); () })
    if (familySelected("curation_funnel"))
      builds("bench_grams") = (
        timeIt { graft.queries.EngineQueries.benchGrams(spark, base); () },
        timeIt { graft.queries.EngineQueries.benchGrams(spark, out); () })
    if (familySelected("bm25_probe") || familySelected("ql_probe") ||
        familySelected("suggest_probe") ||
        familySelected("suggest_probe_derived") ||
        familySelected("suggest_filtered") ||
        familySelected("bm25_filtered_selective") ||
        familySelected("bm25_filtered_permissive") ||
        familySelected("hybrid_filtered_selective") ||
        familySelected("hybrid_filtered_permissive") ||
        familySelected("hybrid_pq_selective") ||
        familySelected("hybrid_pq_permissive") ||
        familySelected("hybrid_srp_selective") ||
        familySelected("hybrid_srp_permissive") ||
        familySelected("hybrid_batch_filtered") ||
        familySelected("hybrid_batch_loop") ||
        familySelected("hybrid_recall_fused")) {
      def mkIdx(dir: String): Unit = {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-scale-lexidx").toString
        scratchDirs += tmp
        graft.operators.InvertedIndex.save(
          graft.operators.InvertedIndex.build(Tables.documents(spark, dir)),
          tmp)
        lexIdx(dir) = graft.operators.InvertedIndex.load(spark, tmp)
      }
      builds("lex_index") = (timeIt { mkIdx(base) }, timeIt { mkIdx(out) })
      bm25Terms = lexIdx(base).termDf
        .orderBy(col("df").desc, col("term")).limit(3)
        .collect().map(_.getString(0)).toSeq
      // the t_spell_suggest gate's query shape: frequent terms with one
      // character deleted — fixed from the base vocabulary
      suggestQueries = lexIdx(base).termDf
        .orderBy(col("df").desc, col("term")).limit(5)
        .collect().map(_.getString(0))
        .map(t => t.take(1) + t.drop(2)).distinct.toSeq
      hybridBags = lexIdx(base).termDf
        .orderBy(col("df").desc, col("term")).limit(24)
        .collect().map(_.getString(0)).toSeq
        .grouped(3).zipWithIndex
        .map { case (ts, i) => (i.toLong, ts) }.toSeq
    }
    if (familySelected("bm25_tomb_probe")) {
      // the delete/compact lifecycle at index scale (r11 verdict item 9,
      // doubly warranted after the lifecycle regression): per dir —
      // build+save, tombstone doc_id%7==3, COMPACT (timed as its own
      // build row: the posting rewrite is the lifecycle's scale cost),
      // tombstone doc_id%5==1 and leave it LIVE so the probe pays the
      // anti-join path over the grown posting relation
      def mkTombIdx(dir: String): String = {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-scale-lexidx-tomb").toString
        scratchDirs += tmp
        val docs = Tables.documents(spark, dir)
        graft.operators.InvertedIndex.save(
          graft.operators.InvertedIndex.build(docs), tmp)
        graft.operators.InvertedIndex.delete(
          docs.filter(col("doc_id") % 7 === 3).select(col("doc_id")), tmp)
        tmp
      }
      val (tmpBase, tmpBig) = (mkTombIdx(base), mkTombIdx(out))
      builds("lex_compact") = (
        timeIt { graft.operators.InvertedIndex.compact(spark, tmpBase) },
        timeIt { graft.operators.InvertedIndex.compact(spark, tmpBig) })
      Seq(base -> tmpBase, out -> tmpBig).foreach { case (dir, tmp) =>
        graft.operators.InvertedIndex.delete(
          Tables.documents(spark, dir)
            .filter(col("doc_id") % 5 === 1).select(col("doc_id")), tmp)
        tombIdx(dir) = graft.operators.InvertedIndex.load(spark, tmp)
      }
      tombTerms = tombIdx(base).termDf
        .orderBy(col("df").desc, col("term")).limit(3)
        .collect().map(_.getString(0)).toSeq
    }
    if (familySelected("wand_probe") || familySelected("wand_probe_unpruned") ||
        familySelected("batch_wand_probe") ||
        familySelected("batch_wand_unpruned") ||
        familySelected("batch_wand_filtered")) {
      // the replica substitution deliberately decorrelates every real
      // term (posting sizes replica-invariant), so the degeneracy WAND
      // exists for — ONE term whose posting grows ∝ corpus — is injected:
      // a stop token appended to every document. The pruned and unpruned
      // probes then share the same artifact and the same stop+rare query
      def mkWandIdx(dir: String): Unit = {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-scale-lexidx-wand").toString
        scratchDirs += tmp
        graft.operators.InvertedIndex.save(
          graft.operators.InvertedIndex.build(
            Tables.documents(spark, dir)
              .withColumn("text", concat(col("text"), lit(" zzstop")))),
          tmp)
        wandIdx(dir) = graft.operators.InvertedIndex.load(spark, tmp)
      }
      builds("lex_index_wand") =
        (timeIt { mkWandIdx(base) }, timeIt { mkWandIdx(out) })
      // FIXED queries across sizes (the bm25_probe convention): the
      // injected corpus-wide stop term + the base corpus's rarest terms;
      // each list computed only for its own selected families (the
      // sort+collect is a Spark job a subset run shouldn't pay twice)
      if (familySelected("wand_probe") || familySelected("wand_probe_unpruned"))
        wandTerms = "zzstop" +: wandIdx(base).termDf
          .filter(col("term") =!= "zzstop")
          .orderBy(col("df"), col("term")).limit(2)
          .collect().map(_.getString(0)).toSeq
      // 8 stop+rare queries for the BATCH families, same fixed-query rule
      if (familySelected("batch_wand_probe") ||
          familySelected("batch_wand_unpruned") ||
          familySelected("batch_wand_filtered"))
        wandBatchQueries = wandIdx(base).termDf
          .filter(col("term") =!= "zzstop")
          .orderBy(col("df"), col("term")).limit(8)
          .collect().map(_.getString(0)).zipWithIndex
          .flatMap { case (t, i) => Seq((i + 1L, "zzstop"), (i + 1L, t)) }
          .toSeq
    }
    if (familySelected("phrase_probe") || familySelected("proximity_probe") ||
        familySelected("phrase_batch") || familySelected("phrase_loop") ||
        familySelected("proximity_batch") ||
        familySelected("proximity_loop") ||
        familySelected("snippets_batch") ||
        familySelected("hybrid_recall_fused")) { // r18: positional hedge row
      def mkPosIdx(dir: String): Unit = {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-scale-lexidx-pos").toString
        scratchDirs += tmp
        graft.operators.InvertedIndex.save(
          graft.operators.InvertedIndex.build(Tables.documents(spark, dir),
            withPositions = true), tmp)
        posIdx(dir) = graft.operators.InvertedIndex.load(spark, tmp)
      }
      builds("lex_index_pos") =
        (timeIt { mkPosIdx(base) }, timeIt { mkPosIdx(out) })
      val top16 = posIdx(base).termDf
        .orderBy(col("df").desc, col("term")).limit(16)
        .collect().map(_.getString(0))
      phraseTerms = Seq(top16(0), top16(0))
      proximityTerms = top16.take(2).toSeq
      positionalBags = top16.toSeq.grouped(2).zipWithIndex
        .map { case (ts, i) => (i.toLong, ts) }.toSeq
    }
    if (familySelected("rag_dense_ann")) {
      // warm the memoized chunk→BPE→vocab→embed pipeline OUTSIDE the
      // timed cell: the first ragEmb toucher pays the whole
      // upstream build, and this timing must attribute SRP sketching
      // alone (the rag_pipeline family owns the composed cost)
      graft.queries.TextQueries.ragEmb(spark, base).count()
      graft.queries.TextQueries.ragEmb(spark, out).count()
      def mkIdx(dir: String): Unit =
        ragSrpIdx(dir) = graft.operators.SimilaritySearch.buildSrpIndex(
          graft.queries.TextQueries.ragEmb(spark, dir),
          idCol = "cid", vecCol = "embedding")
      builds("rag_srp_index") = (timeIt { mkIdx(base) }, timeIt { mkIdx(out) })
    }
    if (familySelected("ivf_filtered_selective") ||
        familySelected("ivf_filtered_permissive") ||
        familySelected("hybrid_filtered_selective") ||
        familySelected("hybrid_filtered_permissive") ||
        familySelected("hybrid_batch_filtered") ||
        familySelected("hybrid_batch_loop") ||
        familySelected("hybrid_recall_fused") ||
        familySelected("ann_recall_filtered")) {
      def mkIdx(dir: String): Unit = {
        val emb = Tables.embeddings(spark, dir)
          .select(col("vec_id"), col("embedding"))
        val (nlist, nprobe) =
          graft.operators.SimilaritySearch.ivfScaleParams(emb.count())
        val idx = graft.operators.SimilaritySearch
          .buildIvfIndex(emb, nlist = nlist)
        idx.assigned.count()
        embIvfIdx(dir) = (idx, nprobe)
      }
      builds("emb_ivf_index") = (timeIt { mkIdx(base) }, timeIt { mkIdx(out) })
    }
    if (familySelected("int8_filtered_selective") ||
        familySelected("int8_filtered_permissive") ||
        familySelected("ann_recall_filtered")) { // r18: clustered-ACL rows probe the int8 tier too
      def mkIdx(dir: String): Unit = {
        val emb = Tables.embeddings(spark, dir)
          .select(col("vec_id"), col("embedding"))
        val (nlist, nprobe) =
          graft.operators.SimilaritySearch.ivfScaleParams(emb.count())
        val idx = graft.operators.SimilaritySearch
          .buildIvfInt8Index(emb, nlist = nlist)
        idx.assigned.count()
        embInt8Idx(dir) = (idx, nprobe)
      }
      builds("emb_ivf_int8_index") =
        (timeIt { mkIdx(base) }, timeIt { mkIdx(out) })
    }
    if (familySelected("pq_filtered_selective") ||
        familySelected("pq_filtered_permissive") ||
        familySelected("hybrid_pq_selective") ||
        familySelected("hybrid_pq_permissive") ||
        familySelected("hybrid_recall_fused") ||
        familySelected("ann_recall_filtered")) {
      def mkIdx(dir: String): Unit = {
        val emb = Tables.embeddings(spark, dir)
          .select(col("vec_id"), col("embedding"))
        val (nlist, _) =
          graft.operators.SimilaritySearch.ivfScaleParams(emb.count())
        val idx = graft.operators.SimilaritySearch
          .buildIvfPqIndex(emb, nlist = nlist, m = 8, ksub = 64)
        idx.assigned.count()
        embPqIdx(dir) = idx
      }
      builds("emb_ivf_pq_index") =
        (timeIt { mkIdx(base) }, timeIt { mkIdx(out) })
    }
    if (familySelected("hamming_filtered_selective") ||
        familySelected("hamming_filtered_permissive") ||
        familySelected("hybrid_srp_selective") ||
        familySelected("hybrid_srp_permissive") ||
        familySelected("hybrid_recall_fused")) {
      def mkIdx(dir: String): Unit = {
        embSrpIdx(dir) = graft.operators.SimilaritySearch.buildSrpIndex(
          Tables.embeddings(spark, dir)
            .select(col("vec_id"), col("embedding")))
        // materialize the persisted sketch INSIDE the timed build (the
        // int8 sibling's idx.assigned.count() discipline): buildSrpIndex
        // persists lazily, and an unmaterialized sketch would bill its
        // construction to the first probe sample
        embSrpIdx(dir).sketched.count(); ()
      }
      builds("emb_srp_index") =
        (timeIt { mkIdx(base) }, timeIt { mkIdx(out) })
    }
    if (familySelected("rag_lexical") ||
        familySelected("rag_lexical_unpruned")) {
      // warm the memoized chunk→index pipeline and persist the gate's
      // query-term relation OUTSIDE the timed cells (the rag_dense_ann
      // discipline): the pair must time the probe organizations alone
      def warm(dir: String): Unit = {
        graft.queries.TextQueries.ragIndex(spark, dir)
        // the gate's OWN query relation (one shared definition — the
        // bench must measure exactly what ragFuseEval serves)
        val qt = graft.queries.TextQueries.ragQueryTerms(spark, dir)
          .persist()
        qt.count()
        ragQtermsRel(dir) = qt
      }
      builds("rag_lex_artifacts") = (timeIt { warm(base) }, timeIt { warm(out) })
    }
    if (familySelected("segment_merge")) {
      // the streaming index's segment-merge fold (r13, verdict item 8):
      // per dir, ingest the corpus as 16 applyBatch segments, probe the
      // segmented layout (min-of-2, load + bm25TopK — the per-segment
      // listing/footer overhead is exactly what the fold removes), time
      // ONE maybeMerge folding all 16, probe again. The fold row's
      // exponent is rewrite volume (expected ≈ linear); the pre/post
      // probe gap at each size is the fold's payoff
      import graft.streaming.StreamingLexIndex
      def mkSeg(dir: String): String = {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-scale-seglex").toString
        scratchDirs += tmp
        val docs = Tables.documents(spark, dir)
        (0 until 16).foreach { i =>
          StreamingLexIndex.applyBatch(
            docs.filter(pmod(col("doc_id"), lit(16L)) === i), i.toLong, tmp)
        }
        tmp
      }
      val (segBase, segBig) = (mkSeg(base), mkSeg(out))
      val segTerms = StreamingLexIndex.load(spark, segBase).termDf
        .orderBy(col("df").desc, col("term")).limit(3)
        .collect().map(_.getString(0)).toSeq
      def probeTime(tmp: String): Double =
        Seq.fill(2)(timeIt {
          graft.operators.InvertedIndex.bm25TopK(
            StreamingLexIndex.load(spark, tmp), segTerms, 10).count(); ()
        }).min
      builds("stream_probe_premerge") = (probeTime(segBase), probeTime(segBig))
      builds("segment_merge_fold") = (
        timeIt { StreamingLexIndex.maybeMerge(spark, segBase, 2, 16L); () },
        timeIt { StreamingLexIndex.maybeMerge(spark, segBig, 2, 16L); () })
      builds("stream_probe_postmerge") =
        (probeTime(segBase), probeTime(segBig))
    }
    if (familySelected("ivf_artifact_probe") ||
        familySelected("ivf_tomb_probe")) {
      // one saved artifact per dir, cloned once more with ~0.8% of ids
      // tombstoned (deleteFromAnnIndex, never compacted) — the pair
      // isolates the live anti-join's serving cost at each size
      def mkArtifacts(dir: String): Unit = {
        val emb = Tables.embeddings(spark, dir)
          .select(col("vec_id"), col("embedding"))
        val (nlist, nprobe) =
          graft.operators.SimilaritySearch.ivfScaleParams(emb.count())
        // ONE assignment pass (persist through the single save), then a
        // filesystem COPY for the tombstoned clone — a second save from
        // a non-persisted index would re-run the full-corpus assignment
        val idx = graft.operators.SimilaritySearch
          .buildIvfIndex(emb, nlist = nlist, persist = true)
        def freshDir(): String = {
          val tmp = java.nio.file.Files
            .createTempDirectory("graft-scale-ivfart").toString
          scratchDirs += tmp
          tmp
        }
        val clean = freshDir()
        graft.operators.SimilaritySearch.saveIvfIndex(idx, clean)
        idx.unpersist()
        val tomb = freshDir()
        val conf = spark.sessionState.newHadoopConf()
        val fs = new org.apache.hadoop.fs.Path(clean).getFileSystem(conf)
        // dst must NOT pre-exist or FileUtil.copy nests src INSIDE it
        fs.delete(new org.apache.hadoop.fs.Path(tomb), true)
        org.apache.hadoop.fs.FileUtil.copy(
          fs, new org.apache.hadoop.fs.Path(clean),
          fs, new org.apache.hadoop.fs.Path(tomb),
          false, true, conf)
        graft.operators.SimilaritySearch.deleteFromAnnIndex(
          emb.filter(pmod(col("vec_id"), lit(128L)) === 1)
            .select(col("vec_id")), tomb)
        embIvfArtifact(dir) = (clean, nprobe)
        embIvfTombArtifact(dir) = (tomb, nprobe)
      }
      builds("emb_ivf_artifact_pair") =
        (timeIt { mkArtifacts(base) }, timeIt { mkArtifacts(out) })
    }
    if (familySelected("vec_stream_ingest") ||
        familySelected("vec_stream_probe_premerge") ||
        familySelected("vec_stream_merge_fold") ||
        familySelected("vec_stream_probe_postmerge")) {
      // the dense index's streaming ingest (r14 StreamingVecIndex) under
      // the lex segment_merge harness: freeze the quantizer OUTSIDE the
      // timed cell (training is the offline bootstrap, not ingest), time
      // 8 applyBatch cell-delta segments, probe the segmented layout,
      // time ONE maybeMerge fold, probe again — the pre/post probe gap
      // is the per-segment listing/footer overhead the fold removes,
      // and the ingest row's exponent is the map-only assignment claim
      import graft.streaming.StreamingVecIndex
      val vecSegDirs = scala.collection.mutable.Map.empty[String, String]
      def mkFrozen(dir: String): String = {
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-scale-vecstream").toString
        scratchDirs += tmp
        val emb = Tables.embeddings(spark, dir)
          .select(col("vec_id"), col("embedding"))
        val (nlist, _) =
          graft.operators.SimilaritySearch.ivfScaleParams(emb.count())
        StreamingVecIndex.freezeCenters(spark, tmp,
          graft.operators.SimilaritySearch
            .buildIvfIndex(emb, nlist = nlist, persist = false).centers)
        vecSegDirs(dir) = tmp
        tmp
      }
      mkFrozen(base); mkFrozen(out)
      def ingest(dir: String): Unit = {
        val emb = Tables.embeddings(spark, dir)
          .select(col("vec_id"), col("embedding"))
        (0 until 8).foreach { i =>
          StreamingVecIndex.applyBatch(
            emb.filter(pmod(col("vec_id"), lit(8L)) === i),
            i.toLong, vecSegDirs(dir))
        }
      }
      builds("vec_stream_ingest") =
        (timeIt { ingest(base) }, timeIt { ingest(out) })
      def vecProbeTime(dir: String): Double = {
        val (_, nprobe) = graft.operators.SimilaritySearch
          .ivfScaleParams(Tables.embeddings(spark, dir).count())
        Seq.fill(2)(timeIt {
          graft.operators.SimilaritySearch.ivfProbe(
            StreamingVecIndex.load(spark, vecSegDirs(dir), persist = false),
            Tables.embeddings(spark, dir).filter(col("vec_id") < 10),
            k = 10, nprobe).count(); ()
        }).min
      }
      builds("vec_stream_probe_premerge") =
        (vecProbeTime(base), vecProbeTime(out))
      builds("vec_stream_merge_fold") = (
        timeIt { StreamingVecIndex.maybeMerge(spark, vecSegDirs(base), 2, 8L); () },
        timeIt { StreamingVecIndex.maybeMerge(spark, vecSegDirs(out), 2, 8L); () })
      builds("vec_stream_probe_postmerge") =
        (vecProbeTime(base), vecProbeTime(out))
    }
    if (familySelected("rag_dense_ivf")) {
      graft.queries.TextQueries.ragEmb(spark, base).count()
      graft.queries.TextQueries.ragEmb(spark, out).count()
      def mkIvf(dir: String): Unit = {
        val emb = graft.queries.TextQueries.ragEmb(spark, dir)
          .select(col("cid"),
            col("embedding").cast("array<float>").as("embedding"))
        val n = emb.count()
        val (nlist, nprobe) =
          graft.operators.SimilaritySearch.ivfScaleParams(n)
        val tmp = java.nio.file.Files
          .createTempDirectory("graft-scale-ragivf").toString
        scratchDirs += tmp
        graft.operators.SimilaritySearch.saveIvfIndex(
          graft.operators.SimilaritySearch.buildIvfIndex(emb, nlist, 42L,
            "cid", "embedding", persist = false), tmp)
        ragIvfIdx(dir) =
          (graft.operators.SimilaritySearch.loadIvfIndex(spark, tmp), nprobe)
      }
      builds("rag_ivf_index") = (timeIt { mkIvf(base) }, timeIt { mkIvf(out) })
    }
    // compaction REWRITE (the execution half; compaction_plan measures
    // planning): fragment the dir's lineitem into row-capped small files,
    // then time the one-file-per-bin rewrite both ways — the DataFrame-
    // native bijection-key repartition (codegen end-to-end) vs the
    // round-7 RDD identity-partitioner detour (per-row GenericRow
    // deserialization). File count and rewrite volume both scale with
    // the corpus, so the pair gives the detour's true cost at ×F.
    // repartitionByRange was DISQUALIFIED without timing: its sampled
    // boundaries can merge two dense bin ids into one partition, which
    // breaks the one-file-per-bin contract no speedup buys back.
    if (familySelected("compaction_rewrite")) {
      def mkFrag(dir: String): String = {
        val frag = java.nio.file.Files
          .createTempDirectory("graft-scale-compact-in").toString
        Tables.lineitem(spark, dir).write.mode("overwrite")
          .option("maxRecordsPerFile", 5000).parquet(frag)
        frag
      }
      val fragBase = mkFrag(base)
      val fragBig = mkFrag(out)
      // the timed cell is ONLY compactParquet — temp-dir creation and
      // the full-corpus-copy deletion happen outside timeIt (the
      // deletion is identical for both variants and O(corpus), so
      // timing it would compress the native-vs-RDD ratio toward 1)
      def rewriteTimed(frag: String, rdd: Boolean): Double = {
        val o = java.nio.file.Files
          .createTempDirectory("graft-scale-compact-out").toString
        val t = timeIt {
          graft.sources.Compaction.compactParquet(spark, frag, o,
            targetBytes = 4L * 1024L * 1024L, useRddDetour = rdd)
        }
        // each rewrite writes a full corpus copy; 10 calls at ×F would
        // otherwise leave tens of GB in /tmp and starve later families
        deleteRecursively(o)
        t
      }
      // min-of-2 per cell, GENUINELY interleaved (native, rdd, native,
      // rdd per size), so JIT warm-up and page-cache state do not bias
      // the first-measured variant
      def min2Pair(frag: String): (Double, Double) = {
        val rounds = Seq.fill(2)(
          (rewriteTimed(frag, rdd = false), rewriteTimed(frag, rdd = true)))
        (rounds.map(_._1).min, rounds.map(_._2).min)
      }
      rewriteTimed(fragBase, rdd = false) // warm both paths once
      rewriteTimed(fragBase, rdd = true)
      val (natBase, rddBase) = min2Pair(fragBase)
      val (natBig, rddBig) = min2Pair(fragBig)
      builds("compaction_rewrite_native") = (natBase, natBig)
      builds("compaction_rewrite_rdd") = (rddBase, rddBig)
      deleteRecursively(fragBase); deleteRecursively(fragBig)
    }
    if (familySelected("retrieval_eval")) {
      import graft.operators.SimilaritySearch
      def mkEval(dir: String): Unit = {
        val emb = Tables.embeddings(spark, dir)
          .select(col("vec_id"), col("embedding"))
        val queries = emb.orderBy(xxhash64(col("vec_id"), lit(7L)))
          .limit(50).persist()
        queries.count()
        // results = int8-quantized brute force (a real approximate
        // system), truth = exact brute force; both corpus-scale scans,
        // which is WHY they are artifacts here and not the family body
        val qz = SimilaritySearch.quantizeInt8(emb)
        val res = SimilaritySearch.int8BruteForceTopK(qz, queries, 5).persist()
        res.count()
        val truth = SimilaritySearch.bruteForceTopK(emb, queries, 5).persist()
        truth.count()
        evalRel(dir) = (res, truth)
      }
      builds("retrieval_artifacts") =
        (timeIt { mkEval(base) }, timeIt { mkEval(out) })
    }

    def minOf2(mk: => DataFrame): Double =
      Seq.fill(2)(timeIt { mk.count(); () }).min

    val results = selectedFamilies.map { case (name, mk) =>
      val small = minOf2(mk(base))
      val big = minOf2(mk(out))
      val e = math.log(big / small) / math.log(factor.toDouble)
      println(s"SCALEQ $name small=${fmt(small)} big=${fmt(big)} exponent=${fmt(e)}")
      (name, small, big, e)
    }

    // the probe families are done: release their persisted artifacts
    // (the filteredJson section's persist/unpersist discipline) so
    // earlier families' caches don't stay resident through the recall
    // sections of a ×100 run. embIvfIdx is NOT released here — the
    // ann_recall_filtered section below probes it; it unpersists there.
    ragQtermsRel.values.foreach(_.unpersist())
    ragSrpIdx.values.foreach(_.sketched.unpersist())
    embInt8Idx.values.foreach(_._1.assigned.unpersist())
    // embSrpIdx is NOT released here (r16): the fused-recall grid's
    // srp_auto tier probes it — it unpersists with embIvfIdx/embPqIdx
    // after that section.

    // ANN recall at scale (round-6 verdict item 3): the recall bounds are
    // spec-pinned only at the 2k-vector testdata; cell counts and probe
    // ratios that hold recall at 2k may not at 200k. Measure recall@5
    // against exact brute force at BOTH sizes with the scale policies
    // applied (ivfScaleParams for IVF/IVF-PQ; SRP is a full-scan sketch
    // whose recall is resolution-bounded, so its 128-bit dial is
    // size-independent by design — that claim is exactly what the big
    // point verifies).
    val recallJson: Option[String] =
      if (!familySelected("ann_recall")) None
      else Some {
        import graft.operators.SimilaritySearch
        val K = 5
        val NQ = 50
        val sections = Seq("small" -> base, "big" -> out).map { case (tag, dir) =>
          val emb = Tables.embeddings(spark, dir)
            .select(col("vec_id"), col("embedding")).persist()
          val n = emb.count()
          val (nlist, nprobe) = ivfScaleParams(n)
          // deterministic query draw: hash-ordered head, not limit()'s
          // plan-dependent first partitions
          val queries = emb.orderBy(xxhash64(col("vec_id"), lit(7L)))
            .limit(NQ).persist()
          queries.count()
          val truth = SimilaritySearch
            .bruteForceTopK(emb, queries, K).persist()
          val tBrute = timeIt { truth.count(); () }

          var ivfIdx: SimilaritySearch.IvfIndex = null
          val tIvfBuild = timeIt {
            ivfIdx = SimilaritySearch.buildIvfIndex(emb, nlist = nlist)
            ivfIdx.assigned.count(); ()
          }
          var ivfProbe: DataFrame = null
          val tIvfProbe = timeIt {
            ivfProbe = SimilaritySearch
              .ivfProbe(ivfIdx, queries, K, nprobe = nprobe).persist()
            ivfProbe.count(); ()
          }
          val rIvf = recallAtK(truth, ivfProbe)

          var pqIdx: SimilaritySearch.IvfPqIndex = null
          val tPqBuild = timeIt {
            pqIdx = SimilaritySearch.buildIvfPqIndex(emb, nlist = nlist)
            pqIdx.assigned.count(); ()
          }
          var pqProbe: DataFrame = null
          val tPqProbe = timeIt {
            pqProbe = SimilaritySearch.ivfProbePqRefined(
              pqIdx, emb, queries, K, nprobe = nprobe, refine = 4).persist()
            pqProbe.count(); ()
          }
          val rPq = recallAtK(truth, pqProbe)

          var sketched: DataFrame = null
          val tSrpBuild = timeIt {
            sketched = SimilaritySearch.srpSketch(emb, bits = 128).persist()
            sketched.count(); ()
          }
          var srpProbe: DataFrame = null
          val tSrpProbe = timeIt {
            srpProbe = SimilaritySearch.hammingTopK(
              sketched, emb, queries, K, refine = 8, bits = 128).persist()
            srpProbe.count(); ()
          }
          val rSrp = recallAtK(truth, srpProbe)

          // the refine dial at the same size, now via the AUTO policy
          // (refineScaleParam: refine ∝ √(n/2000) from the measured base
          // dial): for the shortlist methods (SRP full-scan sketch, IVF-PQ
          // ADC) refine touches only the exact re-rank join — the
          // Hamming/ADC scan cost is unchanged — so recovering recall lost
          // to margin collapse is nearly free. These second points measure
          // the policy's recovery and its cost at every size.
          val refPq = SimilaritySearch.refineScaleParam(n, base = 4)
          val refSrp = SimilaritySearch.refineScaleParam(n, base = 8)
          var pqProbeW: DataFrame = null
          val tPqProbeW = timeIt {
            pqProbeW = SimilaritySearch.ivfProbePqRefined(
              pqIdx, emb, queries, K, nprobe = nprobe, refine = refPq).persist()
            pqProbeW.count(); ()
          }
          val rPqW = recallAtK(truth, pqProbeW)
          var srpProbeW: DataFrame = null
          val tSrpProbeW = timeIt {
            srpProbeW = SimilaritySearch.hammingTopK(
              sketched, emb, queries, K, refine = refSrp, bits = 128).persist()
            srpProbeW.count(); ()
          }
          val rSrpW = recallAtK(truth, srpProbeW)

          println(s"SCALERECALL $tag n=$n nlist=$nlist nprobe=$nprobe " +
            s"brute=${fmt(tBrute)}s " +
            s"ivf=${fmt(rIvf)} (build ${fmt(tIvfBuild)}s probe ${fmt(tIvfProbe)}s) " +
            s"ivfpq=${fmt(rPq)} (build ${fmt(tPqBuild)}s probe ${fmt(tPqProbe)}s) " +
            s"ivfpq_auto_r$refPq=${fmt(rPqW)} (probe ${fmt(tPqProbeW)}s) " +
            s"srp=${fmt(rSrp)} (build ${fmt(tSrpBuild)}s probe ${fmt(tSrpProbe)}s) " +
            s"srp_auto_r$refSrp=${fmt(rSrpW)} (probe ${fmt(tSrpProbeW)}s)")
          Seq(ivfProbe, pqProbe, pqProbeW, srpProbe, srpProbeW, sketched,
            truth, queries, emb).foreach(_.unpersist())
          ivfIdx.unpersist(); pqIdx.unpersist()
          s""""$tag":{"n":$n,"nlist":$nlist,"nprobe":$nprobe,"k":$K,"queries":$NQ,""" +
            s""""brute_sec":${fmt(tBrute)},""" +
            s""""ivf":{"recall":${fmt(rIvf)},"build_sec":${fmt(tIvfBuild)},"probe_sec":${fmt(tIvfProbe)}},""" +
            s""""ivfpq_refined":{"recall":${fmt(rPq)},"build_sec":${fmt(tPqBuild)},"probe_sec":${fmt(tPqProbe)}},""" +
            s""""ivfpq_auto":{"refine":$refPq,"recall":${fmt(rPqW)},"probe_sec":${fmt(tPqProbeW)}},""" +
            s""""srp_hamming":{"recall":${fmt(rSrp)},"build_sec":${fmt(tSrpBuild)},"probe_sec":${fmt(tSrpProbe)}},""" +
            s""""srp_auto":{"refine":$refSrp,"recall":${fmt(rSrpW)},"probe_sec":${fmt(tSrpProbeW)}}}"""
        }
        sections.mkString("{", ",", "}")
      }

    // planted-structure recall: the decorrelated corpus is margin-
    // collapsed (absolute recall low by construction), so this section
    // plants unambiguous structure — 5 twins per query at cosine ≈ 0.96
    // against a ≤ ~0.55 background — and asks whether each index family
    // still FINDS it as the background grows 100×. This is the claim a
    // near-dup retrieval user needs; the un-planted section above is the
    // worst-case floor.
    val plantedJson: Option[String] =
      if (!familySelected("ann_recall_planted")) None
      else Some {
        import graft.operators.SimilaritySearch
        val K = 5
        val NQ = 50
        Seq("small" -> base, "big" -> out).map { case (tag, dir) =>
          val embBase = Tables.embeddings(spark, dir)
            .select(col("vec_id"), col("embedding"))
          val queries = embBase.orderBy(xxhash64(col("vec_id"), lit(7L)))
            .limit(NQ).persist()
          queries.count()
          val corpus = embBase
            .unionByName(plantNeighbors(queries, K, amp = 0.5))
            .persist()
          val n = corpus.count()
          val truth = plantedTruth(queries, K)
          val (nlist, nprobe) = ivfScaleParams(n)

          val ivfIdx = SimilaritySearch.buildIvfIndex(corpus, nlist = nlist)
          ivfIdx.assigned.count()
          var probeDf: DataFrame = null
          val tIvf = timeIt {
            probeDf = SimilaritySearch
              .ivfProbe(ivfIdx, queries, K, nprobe = nprobe).persist()
            probeDf.count(); ()
          }
          val rIvf = recallAtK(truth, probeDf)

          val sketched = SimilaritySearch.srpSketch(corpus, bits = 128).persist()
          sketched.count()
          var srpDf: DataFrame = null
          val tSrp = timeIt {
            srpDf = SimilaritySearch.hammingTopK(
              sketched, corpus, queries, K, refine = 8, bits = 128).persist()
            srpDf.count(); ()
          }
          val rSrp = recallAtK(truth, srpDf)

          val pqIdx = SimilaritySearch.buildIvfPqIndex(corpus, nlist = nlist)
          pqIdx.assigned.count()
          var pqDf: DataFrame = null
          val tPq = timeIt {
            pqDf = SimilaritySearch.ivfProbePqRefined(
              pqIdx, corpus, queries, K, nprobe = nprobe, refine = 4).persist()
            pqDf.count(); ()
          }
          val rPq = recallAtK(truth, pqDf)

          println(s"SCALEPLANTED $tag n=$n nlist=$nlist nprobe=$nprobe " +
            s"ivf=${fmt(rIvf)} (${fmt(tIvf)}s) " +
            s"ivfpq=${fmt(rPq)} (${fmt(tPq)}s) " +
            s"srp=${fmt(rSrp)} (${fmt(tSrp)}s)")
          Seq(probeDf, srpDf, pqDf, sketched, corpus, queries)
            .foreach(_.unpersist())
          ivfIdx.unpersist(); pqIdx.unpersist()
          s""""$tag":{"n":$n,"nlist":$nlist,"nprobe":$nprobe,""" +
            s""""ivf":{"recall":${fmt(rIvf)},"probe_sec":${fmt(tIvf)}},""" +
            s""""ivfpq_refined":{"recall":${fmt(rPq)},"probe_sec":${fmt(tPq)}},""" +
            s""""srp_hamming":{"recall":${fmt(rSrp)},"probe_sec":${fmt(tSrp)}}}"""
        }.mkString("{", ",", "}")
      }

    // filtered-ANN recall at scale (r13, verdict item 2's dial half):
    // ivfProbe's `allowed` scaladoc claims "selective filters deserve a larger
    // nprobe — the probed cells must hold ≥ k allowed vectors". This
    // section measures that dial at both sizes: recall@5 vs the exact
    // filtered brute truth, under the selective (≈0.8%) and permissive
    // (50%) filters, at nprobe = policy, 2×policy, 4×policy (capped at
    // nlist). The expected shape — selective recall trails permissive at
    // the policy dial and recovers as nprobe widens — is the standard
    // filtered-ANN tradeoff, now with measured numbers instead of a
    // scaladoc sentence.
    val filteredJson: Option[String] =
      if (!familySelected("ann_recall_filtered")) None
      else Some {
        import graft.operators.{HybridRetrieval, SimilaritySearch}
        val K = 5
        val NQ = 50
        Seq("small" -> base, "big" -> out).map { case (tag, dir) =>
          val emb = Tables.embeddings(spark, dir)
            .select(col("vec_id"), col("embedding")).persist()
          val n = emb.count()
          val (idx, nprobePolicy) = embIvfIdx(dir)
          val nlist = idx.centers.length
          val queries = emb.orderBy(xxhash64(col("vec_id"), lit(7L)))
            .limit(NQ).persist()
          queries.count()
          val filters = Seq(
            ("selective", 1.0 / 128, emb
              .filter(pmod(col("vec_id"), lit(128L)) === 0)
              .select(col("vec_id"))),
            ("permissive", 0.5, emb
              .filter(pmod(col("vec_id"), lit(2L)) === 0)
              .select(col("vec_id"))))
          val parts = filters.map { case (fname, sel, allowed) =>
            val truth = SimilaritySearch
              .bruteForceTopK(emb, queries, K, allowed = Some(allowed))
              .persist()
            val tTruth = timeIt { truth.count(); () }
            // the r14 auto dial joins the measured grid: its recall row
            // must sit at/above every fixed dial it subsumes
            val npAuto = SimilaritySearch.filteredNprobeParam(nlist, sel)
            val dials = (Seq(nprobePolicy, 2 * nprobePolicy,
                4 * nprobePolicy).map(math.min(_, nlist)) :+ npAuto).distinct
            val dialParts = dials.map { np =>
              var probe: DataFrame = null
              val t = timeIt {
                probe = SimilaritySearch.ivfProbe(idx, queries, K, np,
                  allowed = Some(allowed)).persist()
                probe.count(); ()
              }
              val r = recallAtK(truth, probe)
              probe.unpersist()
              println(s"SCALEFILTER $tag $fname n=$n nlist=$nlist " +
                s"nprobe=$np recall=${fmt(r)} probe=${fmt(t)}s " +
                s"truth=${fmt(tTruth)}s")
              s""""nprobe_$np":{"recall":${fmt(r)},"probe_sec":${fmt(t)}}"""
            }
            // the PQ tier's recall row beside the float grid (r15): the
            // refined auto composition (selectivity-capped nprobe + √n
            // refine) against the SAME filtered-brute truth — the
            // compressed tier's filtered dial measured, not asserted
            val pqIdx = embPqIdx(dir)
            var pqProbe: DataFrame = null
            val tPq = timeIt {
              pqProbe = HybridRetrieval.DenseLeg.PqRefined(pqIdx, emb)
                .probeAmong(queries, K, allowed, selectivity = Some(sel))
                .persist()
              pqProbe.count(); ()
            }
            val rPq = recallAtK(truth, pqProbe)
            pqProbe.unpersist()
            println(s"SCALEFILTER $tag $fname n=$n pq_auto " +
              s"recall=${fmt(rPq)} probe=${fmt(tPq)}s")
            truth.unpersist()
            s""""$fname":{"truth_sec":${fmt(tTruth)},"nprobe_auto":$npAuto,""" +
              (dialParts :+
                s""""pq_auto":{"recall":${fmt(rPq)},"probe_sec":${fmt(tPq)}}""")
                .mkString("", ",", "}")
          }
          // CLUSTERED (cell-correlated) allowed sets (r18, verdict item
          // 4): the modulus draws above are uncorrelated BY CONSTRUCTION
          // — the realistic multi-tenant ACL clusters into few cells
          // (tenants have topics). Two shapes bracket the regime:
          //   - clustered_few: the members of 3 cells (s ≈ 3/nlist —
          //     the volume dial's 1/s cap forces every cell, i.e. the
          //     exact filtered ranking: the cap SAVES this case, priced
          //     here);
          //   - clustered_spread: the members of every 5th cell (s ≈
          //     0.2 — the dial lands mid-range, probing nearest cells
          //     of ANY kind while the allowed mass sits elsewhere: the
          //     under-recall case the cell-aware dial exists for).
          // Measured per shape: float volume-dial auto, float
          // CELL-AWARE auto, int8 auto, PQ refined auto — all against
          // the same exact filtered-brute truth.
          val (int8Idx, _) = embInt8Idx(dir)
          val pqIdxC = embPqIdx(dir)
          val clusteredParts = Seq(
            ("clustered_few",
              idx.assigned.filter(col("cell").isin(0, 1, 2))),
            ("clustered_spread",
              idx.assigned.filter(pmod(col("cell"), lit(5)) === 0)))
            .map { case (fname, allowedRel) =>
              val allowed = allowedRel
                .select(col("neighbor_id").as("vec_id")).persist()
              val na = allowed.count()
              val sel = math.max(1.0 / n, na.toDouble / n)
              val truth = SimilaritySearch
                .bruteForceTopK(emb, queries, K, allowed = Some(allowed))
                .persist()
              val tTruth = timeIt { truth.count(); () }
              val npAuto = SimilaritySearch.filteredNprobeParam(nlist, sel)
              def measure(name: String)(mk: => DataFrame): String = {
                var probe: DataFrame = null
                val t = timeIt { probe = mk.persist(); probe.count(); () }
                val r = recallAtK(truth, probe)
                probe.unpersist()
                println(s"SCALEFILTER $tag $fname n=$n sel=${fmt(sel)} " +
                  s"$name recall=${fmt(r)} probe=${fmt(t)}s")
                s""""$name":{"recall":${fmt(r)},"probe_sec":${fmt(t)}}"""
              }
              val rowsJson = Seq(
                measure("ivf_auto")(SimilaritySearch.ivfProbe(
                  idx, queries, K, npAuto, allowed = Some(allowed))),
                measure("ivf_cellaware")(SimilaritySearch
                  .ivfProbeCellAware(idx, queries, K, allowed,
                    selectivity = Some(sel))),
                measure("int8_auto")(HybridRetrieval.DenseLeg.Int8(int8Idx)
                  .probeAmong(queries, K, allowed, selectivity = Some(sel))),
                measure("pq_auto")(HybridRetrieval.DenseLeg
                  .PqRefined(pqIdxC, emb)
                  .probeAmong(queries, K, allowed, selectivity = Some(sel))))
              truth.unpersist(); allowed.unpersist()
              s""""$fname":{"n_allowed":$na,"selectivity":${fmt(sel)},""" +
                s""""nprobe_auto":$npAuto,""" + rowsJson.mkString(",") + "}"
            }
          queries.unpersist(); emb.unpersist()
          s""""$tag":{"n":$n,"nlist":$nlist,"nprobe_policy":$nprobePolicy,""" +
            (parts ++ clusteredParts).mkString("", ",", "}")
        }.mkString("{", ",", "}")
      }

    // FUSED-recall grid (r16, verdict item 3): the ann_recall_filtered
    // discipline one composition up — the truth-check covers each dense
    // tier in isolation, but nothing measured whether the RRF ENSEMBLE
    // preserves what its legs deliver. Truth = the exact-fusion ranking:
    // the same batch fusion fold over DenseLeg.Brute (exact cosine) +
    // the lossless batch-WAND lexical leg — the only approximate piece
    // in the served ensembles is the dense leg, so fused recall isolates
    // exactly what fusion does to the dense tier's own recall profile.
    // Served rows: the float IVF auto leg and the PQ-refined auto leg,
    // at both sizes, under the selective (≈0.8%) and permissive (50%)
    // document-domain ACLs (the r15 cross-SF lesson: the ACL lives on
    // the shared document domain, never the embeddings id domain).
    val hybridRecallJson: Option[String] =
      if (!familySelected("hybrid_recall_fused")) None
      else Some {
        import graft.operators.HybridRetrieval
        val K = 10
        Seq("small" -> base, "big" -> out).map { case (tag, dir) =>
          import spark.implicits._
          val emb = Tables.embeddings(spark, dir)
            .select(col("vec_id"), col("embedding")).persist()
          val n = emb.count()
          val lx = lexIdx(dir)
          val qterms = hybridBags
            .flatMap { case (q, ts) => ts.map((q, _)) }
            .toDF("query_id", "term")
          val qvecs = emb.filter(col("vec_id") < 8)
            .select(col("vec_id").as("query_id"), col("embedding"))
            .persist()
          qvecs.count()
          val filters = Seq(
            ("selective", 1.0 / 128, Tables.documents(spark, dir)
              .filter(pmod(col("doc_id"), lit(128L)) === 0)
              .select(col("doc_id").as("vec_id"))),
            ("permissive", 0.5, Tables.documents(spark, dir)
              .filter(pmod(col("doc_id"), lit(2L)) === 0)
              .select(col("doc_id").as("vec_id"))))
          val parts = filters.map { case (fname, sel, allowed) =>
            def fused(leg: HybridRetrieval.DenseLeg): DataFrame =
              HybridRetrieval.rrfTopKByQueryAmong(lx, qterms, leg, qvecs,
                  K, allowed, legK = 100, selectivity = Some(sel))
                .select(col("query_id"), col("doc_id").as("neighbor_id"))
            val truth = fused(HybridRetrieval.DenseLeg.Brute(emb)).persist()
            val tTruth = timeIt { truth.count(); () }
            val tiers = Seq(
              "ivf_auto" -> (HybridRetrieval.DenseLeg
                .Float32(embIvfIdx(dir)._1): HybridRetrieval.DenseLeg),
              "pq_auto" -> (HybridRetrieval.DenseLeg
                .PqRefined(embPqIdx(dir), emb): HybridRetrieval.DenseLeg),
              "srp_auto" -> (HybridRetrieval.DenseLeg
                .Srp(embSrpIdx(dir), emb): HybridRetrieval.DenseLeg))
            val tierParts = tiers.map { case (tname, leg) =>
              var served: DataFrame = null
              val t = timeIt { served = fused(leg).persist(); served.count(); () }
              val r = recallAtK(truth, served)
              served.unpersist()
              println(s"SCALEHYBRID $tag $fname n=$n $tname " +
                s"recall=${fmt(r)} probe=${fmt(t)}s truth=${fmt(tTruth)}s")
              s""""$tname":{"recall":${fmt(r)},"probe_sec":${fmt(t)}}"""
            }
            // RECOVERY dials (r17, verdict item 4): the r16 grid showed
            // the permissive fused recall tracking the dense legs' own
            // dial profiles — these rows measure which dial recovers it
            // cheapest, against the SAME legK=100 fused truth. nprobe
            // widens through the selectivity claim (filteredNprobeParam
            // is ∝ 1/selectivity, capped at nlist — claiming sel/m IS
            // the ×m nprobe dial, stated per row); refine pins the PQ
            // leg's shortlist; legK widens both legs' cut.
            val recoveryParts =
              if (fname != "permissive") Nil
              else {
                val ivfLeg: HybridRetrieval.DenseLeg =
                  HybridRetrieval.DenseLeg.Float32(embIvfIdx(dir)._1)
                val pqIdx = embPqIdx(dir)
                val pqAutoRefine = graft.operators.SimilaritySearch
                  .refineScaleParam(pqIdx.n, base = 4)
                def pqLeg(refine: Option[Int]): HybridRetrieval.DenseLeg =
                  HybridRetrieval.DenseLeg.PqRefined(pqIdx, emb, refine)
                def served(tag2: String, leg: HybridRetrieval.DenseLeg,
                    sel2: Double, legK2: Int): String = {
                  var df: DataFrame = null
                  val t = timeIt {
                    df = HybridRetrieval.rrfTopKByQueryAmong(lx, qterms,
                        leg, qvecs, K, allowed, legK = legK2,
                        selectivity = Some(sel2))
                      .select(col("query_id"),
                        col("doc_id").as("neighbor_id")).persist()
                    df.count(); ()
                  }
                  val r = recallAtK(truth, df)
                  df.unpersist()
                  println(s"SCALEHYBRID $tag $fname n=$n $tag2 " +
                    s"recall=${fmt(r)} probe=${fmt(t)}s")
                  s""""$tag2":{"recall":${fmt(r)},"probe_sec":${fmt(t)}}"""
                }
                // the ENSEMBLE-WIDENING dial (r17 — the N-leg verb
                // dogfooded into the measured grid): keep the decayed
                // ivf leg at its auto dial and HEDGE it with the
                // near-exact SRP leg as a third member. Scored against
                // the THREE-leg exact-fusion truth (both dense slots
                // Brute + the lossless lexical leg, same weights) — a
                // 3-leg serve measured against the 2-leg truth would
                // read ensemble-SHAPE divergence (two dense votes vs
                // one systematically re-weight the fold), not fidelity;
                // measured: that mis-framing reads 0.31–0.33 while the
                // apples-to-apples row below reads what hedging
                // actually preserves.
                def fused3(dense2: HybridRetrieval.DenseLeg): DataFrame = {
                  import graft.operators.HybridRetrieval.EnsembleLeg
                  HybridRetrieval.rrfTopKLegsByQueryAmong(
                      Seq(
                        (EnsembleLeg.Dense(ivfLeg): EnsembleLeg, 1.0),
                        (EnsembleLeg.Dense(dense2), 1.0),
                        (EnsembleLeg.Sparse(lx), 1.0)),
                      qterms, qvecs, K, allowed, legK = 100,
                      selectivity = Some(sel))
                    .select(col("query_id"),
                      col("doc_id").as("neighbor_id"))
                }
                def served3(tag2: String): String = {
                  import graft.operators.HybridRetrieval.EnsembleLeg
                  val truth3 = HybridRetrieval.rrfTopKLegsByQueryAmong(
                      Seq(
                        (EnsembleLeg.Dense(HybridRetrieval.DenseLeg
                          .Brute(emb)): EnsembleLeg, 1.0),
                        (EnsembleLeg.Dense(
                          HybridRetrieval.DenseLeg.Brute(emb)), 1.0),
                        (EnsembleLeg.Sparse(lx), 1.0)),
                      qterms, qvecs, K, allowed, legK = 100,
                      selectivity = Some(sel))
                    .select(col("query_id"),
                      col("doc_id").as("neighbor_id")).persist()
                  val tT = timeIt { truth3.count(); () }
                  var df: DataFrame = null
                  val t = timeIt {
                    df = fused3(HybridRetrieval.DenseLeg
                      .Srp(embSrpIdx(dir), emb)).persist()
                    df.count(); ()
                  }
                  val r = recallAtK(truth3, df)
                  df.unpersist(); truth3.unpersist()
                  println(s"SCALEHYBRID $tag $fname n=$n $tag2 " +
                    s"recall=${fmt(r)} probe=${fmt(t)}s truth3=${fmt(tT)}s")
                  s""""$tag2":{"recall":${fmt(r)},"probe_sec":${fmt(t)},""" +
                    s""""truth_sec":${fmt(tT)}}"""
                }
                // POSITIONAL hedge (r18, verdict item 7 stretch): the
                // same hedging frame with the third vote carrying
                // positional EVIDENCE (proximity windows) instead of a
                // second dense tier. The positional leg is EXACT (the
                // pruned posting scan approximates nothing), so scored
                // against the matching 3-leg truth (Brute + Sparse +
                // Proximity, same weights) the row reads what one
                // approximate dense vote still costs the fold when two
                // exact votes flank it — vs three_leg_hedged where the
                // flanking vote is itself a (near-exact) dense
                // approximation of the SAME decayed signal.
                def served3Pos(tag2: String): String = {
                  import graft.operators.HybridRetrieval.EnsembleLeg
                  val third: (EnsembleLeg, Double) =
                    (EnsembleLeg.Proximity(posIdx(dir), 8), 1.0)
                  val truth3 = HybridRetrieval.rrfTopKLegsByQueryAmong(
                      Seq(
                        (EnsembleLeg.Dense(HybridRetrieval.DenseLeg
                          .Brute(emb)): EnsembleLeg, 1.0),
                        (EnsembleLeg.Sparse(lx), 1.0),
                        third),
                      qterms, qvecs, K, allowed, legK = 100,
                      selectivity = Some(sel))
                    .select(col("query_id"),
                      col("doc_id").as("neighbor_id")).persist()
                  val tT = timeIt { truth3.count(); () }
                  var df: DataFrame = null
                  val t = timeIt {
                    df = HybridRetrieval.rrfTopKLegsByQueryAmong(
                        Seq(
                          (EnsembleLeg.Dense(ivfLeg): EnsembleLeg, 1.0),
                          (EnsembleLeg.Sparse(lx), 1.0),
                          third),
                        qterms, qvecs, K, allowed, legK = 100,
                        selectivity = Some(sel))
                      .select(col("query_id"),
                        col("doc_id").as("neighbor_id")).persist()
                    df.count(); ()
                  }
                  val r = recallAtK(truth3, df)
                  df.unpersist(); truth3.unpersist()
                  println(s"SCALEHYBRID $tag $fname n=$n $tag2 " +
                    s"recall=${fmt(r)} probe=${fmt(t)}s truth3=${fmt(tT)}s")
                  s""""$tag2":{"recall":${fmt(r)},"probe_sec":${fmt(t)},""" +
                    s""""truth_sec":${fmt(tT)}}"""
                }
                Seq(
                  served("ivf_nprobe_x2", ivfLeg, sel / 2, 100),
                  served("ivf_nprobe_x4", ivfLeg, sel / 4, 100),
                  served("ivf_legk_x2", ivfLeg, sel, 200),
                  served("pq_refine_x2",
                    pqLeg(Some(2 * pqAutoRefine)), sel, 100),
                  served("pq_nprobe_x2", pqLeg(None), sel / 2, 100),
                  served("pq_legk_x2", pqLeg(None), sel, 200),
                  served3("three_leg_hedged"),
                  served3Pos("three_leg_positional"))
              }
            truth.unpersist()
            s""""$fname":{"truth_sec":${fmt(tTruth)},""" +
              (tierParts ++ recoveryParts).mkString("", ",", "}")
          }
          qvecs.unpersist(); emb.unpersist()
          s""""$tag":{"n":$n,""" + parts.mkString("", ",", "}")
        }.mkString("{", ",", "}")
      }
    // last consumer of the shared IVF artifacts is done (see the release
    // block after the results loop)
    embIvfIdx.values.foreach(_._1.assigned.unpersist())
    embPqIdx.values.foreach(_.unpersist())
    embSrpIdx.values.foreach(_.sketched.unpersist())

    // DRIFT decay-then-recovery (r17, verdict item 1): every streamed
    // tier ingests against FROZEN quantizers, so a drifting append
    // stream degrades the artifact with no repair short of a rebuild —
    // this section MEASURES that decay and prices the repair. Protocol
    // per size: freeze centers (+ the PQ codebook) trained on the
    // original corpus, stream it in as batch 0, then 4 drifted append
    // waves — wave w re-keys a quarter of the corpus and stretches each
    // dimension by a per-dim gain growing with w (value drift that
    // preserves neighbor diversity; a constant shift would collapse all
    // cosines toward the shift direction and fake the truth). After
    // each wave: recall@5 of the policy-dial float probe and the
    // refined-auto PQ probe for queries drawn FROM THAT WAVE (the
    // queries drift with the data — the serving population a drifted
    // deployment actually answers) against the exact brute truth over
    // the live corpus, plus the skew report's max/mean cell ratio.
    // Then the documented streamed-repair route — compactTo fold,
    // retrain (timed; the builds rows carry its exponent) — and the
    // same wave-4 queries re-probed: the recovery points. The PQ tier
    // retrains twice: coarse-only (frozen codebook — repairs cell
    // geometry alone) then retrainCodebook=true (the full repair), so
    // the grid shows WHICH quantizer's drift cost the recall.
    var driftRetrainSmall: (Double, Double) = (0.0, 0.0)
    var driftRebalanceSmall: Double = 0.0
    val driftJson: Option[String] =
      if (!familySelected("ann_drift_retrain")) None
      else Some {
        import graft.operators.{HybridRetrieval, SimilaritySearch}
        import graft.streaming.StreamingVecIndex
        val K = 5
        val NQ = 30
        Seq("small" -> base, "big" -> out).map { case (tag, dir) =>
          val cached = scala.collection.mutable.ListBuffer.empty[DataFrame]
          val emb0 = Tables.embeddings(spark, dir)
            .select(col("vec_id"), col("embedding")).persist()
          cached += emb0
          val n0 = emb0.count()
          // dim from the data, not a constant: element_at past the gains
          // array returns NULL (non-ANSI), which would silently null-out
          // drifted vectors and corrupt the measured decay grid (ADVICE r17)
          val dim = emb0.select(size(col("embedding"))).head().getInt(0)
          val (nlist, nprobe) = ivfScaleParams(2 * n0)
          def drifted(w: Int): DataFrame = {
            val gains = (0 until dim).map(j =>
              1.0 + 0.3 * w * ((((j * 37 + 11) % 7) - 3).toDouble / 3.0))
            emb0.filter(pmod(col("vec_id"), lit(4L)) === (w - 1))
              .select((col("vec_id") + lit(w * 100000000L)).as("vec_id"),
                transform(col("embedding"), (v, i) =>
                  (v.cast("double") *
                    element_at(array(gains.map(lit): _*), i + 1))
                    .cast("float")).as("embedding"))
          }
          def freshDir(tagd: String): String = {
            val tmp = java.nio.file.Files
              .createTempDirectory(s"graft-scale-drift-$tagd").toString
            scratchDirs += tmp
            tmp
          }
          val fDir = freshDir("ivf")
          val pDir = freshDir("pq")
          val centers = SimilaritySearch
            .buildIvfIndex(emb0, nlist, persist = false).centers
          StreamingVecIndex.freezeCenters(spark, fDir, centers)
          StreamingVecIndex.freeze(AnnCodec.Pq, spark, pDir,
            (centers, SimilaritySearch.trainPqCodebook(emb0)))
          StreamingVecIndex.applyBatch(emb0, 0L, fDir)
          StreamingVecIndex.applyBatch(AnnCodec.Pq, emb0, 0L, pDir)
          var live = emb0
          var lastQueries: DataFrame = null
          val waveParts = (1 to 4).map { w =>
            val wave = drifted(w).persist()
            cached += wave
            wave.count()
            StreamingVecIndex.applyBatch(wave, w.toLong, fDir)
            StreamingVecIndex.applyBatch(AnnCodec.Pq, wave, w.toLong, pDir)
            live = live.unionByName(wave).persist()
            cached += live
            live.count()
            val queries = wave.orderBy(xxhash64(col("vec_id"), lit(7L)))
              .limit(NQ).persist()
            queries.count()
            val truth = SimilaritySearch
              .bruteForceTopK(live, queries, K).persist()
            truth.count()
            var fProbe: DataFrame = null
            val tF = timeIt {
              fProbe = SimilaritySearch.ivfProbe(
                StreamingVecIndex.load(spark, fDir, persist = false),
                queries, K, nprobe).persist()
              fProbe.count(); ()
            }
            val rF = recallAtK(truth, fProbe)
            var pProbe: DataFrame = null
            val tP = timeIt {
              pProbe = HybridRetrieval.DenseLeg.PqRefined(
                SimilaritySearch.loadAnnIndex(AnnCodec.Pq, spark, pDir,
                  persist = false), live)
                .probe(queries, K, Some(4)).persist()
              pProbe.count(); ()
            }
            val rP = recallAtK(truth, pProbe)
            // the streamed twin (r18): fDir is a live segment layout —
            // the batch report refuses it; values are identical here
            // (no manifest, no tombstones in the grid)
            val skew = StreamingVecIndex.skewReport(spark, fDir).skew
            println(s"SCALEDRIFT $tag wave=$w n=${n0 + w * (n0 / 4)} " +
              s"skew=${fmt(skew)} ivf=${fmt(rF)} (${fmt(tF)}s) " +
              s"pq=${fmt(rP)} (${fmt(tP)}s)")
            Seq(fProbe, pProbe, truth).foreach(_.unpersist())
            if (w == 4) lastQueries = queries else queries.unpersist()
            s"""{"wave":$w,"skew":${fmt(skew)},""" +
              s""""ivf":{"recall":${fmt(rF)},"probe_sec":${fmt(tF)}},""" +
              s""""pq":{"recall":${fmt(rP)},"probe_sec":${fmt(tP)}}}"""
          }
          // the repair: fold the streamed layout (the documented route —
          // retrain refuses segment dirs), retrain, re-probe wave 4
          val truth4 = SimilaritySearch
            .bruteForceTopK(live, lastQueries, K).persist()
          truth4.count()
          val fOut = freshDir("ivf-fold")
          StreamingVecIndex.compactTo(AnnCodec.Float, spark, fDir, fOut)
          // the trainer folds order-free quantized integer sums across
          // every core, so the retrain's exponent should land at the
          // map-only re-assign's level
          val tRetrainFd = timeIt {
            SimilaritySearch.retrainIvf(spark, fOut, nlist = nlist)
          }
          var fProbeD: DataFrame = null
          val tF2d = timeIt {
            fProbeD = SimilaritySearch.ivfProbe(
              SimilaritySearch.loadIvfIndex(spark, fOut, persist = false),
              lastQueries, K, nprobe).persist()
            fProbeD.count(); ()
          }
          val rF2d = recallAtK(truth4, fProbeD)
          val skew2d = SimilaritySearch.ivfSkewReport(spark, fOut).skew
          // the BOUNDED repair priced beside the full retrain (r18,
          // verdict item 2): a fresh fold of the same drifted stream,
          // repaired with rebalanceCells at splitFactor 1.5 (the drift
          // grid's skew peaks ~1.9-2.3, under the default 4 dial) —
          // its cost must track the flagged-cell volume, not the
          // corpus, and the rewritten-row fraction is recorded so the
          // claim is checkable
          val rOut = freshDir("ivf-rebalance")
          StreamingVecIndex.compactTo(AnnCodec.Float, spark, fDir, rOut)
          var rebReport: SimilaritySearch.RebalanceReport = null
          val tRebalance = timeIt {
            rebReport = SimilaritySearch.rebalanceCells(spark, rOut,
              splitFactor = 1.5)
          }
          var fProbeR: DataFrame = null
          val tFr = timeIt {
            fProbeR = SimilaritySearch.ivfProbe(
              SimilaritySearch.loadIvfIndex(spark, rOut, persist = false),
              lastQueries, K, nprobe).persist()
            fProbeR.count(); ()
          }
          val rFr = recallAtK(truth4, fProbeR)
          println(s"SCALEDRIFT $tag rebalance " +
            s"skew ${fmt(rebReport.skewBefore)}->" +
            s"${fmt(rebReport.skewAfter)} " +
            s"rewritten=${rebReport.rowsRewritten}/${rebReport.totalRows} " +
            s"(${fmt(tRebalance)}s) recall=${fmt(rFr)}")
          val pOut = freshDir("pq-fold")
          StreamingVecIndex.compactTo(AnnCodec.Pq, spark, pDir, pOut)
          val tRetrainPc = timeIt {
            SimilaritySearch.retrainIvfPq(spark, pOut, live, nlist = nlist)
          }
          var pProbeC: DataFrame = null
          val tPc = timeIt {
            pProbeC = HybridRetrieval.DenseLeg.PqRefined(
              SimilaritySearch.loadAnnIndex(AnnCodec.Pq, spark, pOut,
                persist = false),
              live).probe(lastQueries, K, Some(4)).persist()
            pProbeC.count(); ()
          }
          val rPc = recallAtK(truth4, pProbeC)
          val tRetrainPf = timeIt {
            SimilaritySearch.retrainIvfPq(spark, pOut, live, nlist = nlist,
              retrainCodebook = true)
          }
          var pProbeF: DataFrame = null
          val tPf = timeIt {
            pProbeF = HybridRetrieval.DenseLeg.PqRefined(
              SimilaritySearch.loadAnnIndex(AnnCodec.Pq, spark, pOut,
                persist = false),
              live).probe(lastQueries, K, Some(4)).persist()
            pProbeF.count(); ()
          }
          val rPf = recallAtK(truth4, pProbeF)
          println(s"SCALEDRIFT $tag retrain " +
            s"ivf_dist=${fmt(rF2d)} (retrain ${fmt(tRetrainFd)}s, " +
            s"skew ${fmt(skew2d)}) " +
            s"pq_coarse=${fmt(rPc)} (retrain ${fmt(tRetrainPc)}s) " +
            s"pq_full=${fmt(rPf)} (retrain ${fmt(tRetrainPf)}s)")
          if (tag == "small") {
            driftRetrainSmall = (tRetrainPf, tRetrainFd)
            driftRebalanceSmall = tRebalance
          } else {
            builds("ann_retrain_pq_full") = (driftRetrainSmall._1, tRetrainPf)
            builds("ann_retrain_ivf_dist") = (driftRetrainSmall._2, tRetrainFd)
            builds("ann_rebalance_cells") = (driftRebalanceSmall, tRebalance)
          }
          (Seq(fProbeD, fProbeR, pProbeC, pProbeF, truth4,
            lastQueries) ++ cached).foreach(_.unpersist())
          s""""$tag":{"n_final":${2 * n0},"nlist":$nlist,"nprobe":$nprobe,""" +
            s""""waves":[${waveParts.mkString(",")}],""" +
            s""""retrain":{""" +
            s""""ivf_dist":{"retrain_sec":${fmt(tRetrainFd)},"skew":${fmt(skew2d)},"recall":${fmt(rF2d)},"probe_sec":${fmt(tF2d)}},""" +
            s""""rebalance":{"sec":${fmt(tRebalance)},"skew_before":${fmt(rebReport.skewBefore)},"skew_after":${fmt(rebReport.skewAfter)},"rows_rewritten":${rebReport.rowsRewritten},"total_rows":${rebReport.totalRows},"recall":${fmt(rFr)},"probe_sec":${fmt(tFr)}},""" +
            s""""pq_coarse":{"retrain_sec":${fmt(tRetrainPc)},"recall":${fmt(rPc)},"probe_sec":${fmt(tPc)}},""" +
            s""""pq_full":{"retrain_sec":${fmt(tRetrainPf)},"recall":${fmt(rPf)},"probe_sec":${fmt(tPf)}}}}"""
        }.mkString("{", ",", "}")
      }

    // embjson DSv2 source at the sizes it exists for (round-9 verdict
    // item 2): the connector's three value claims — constant-memory
    // streaming parse of a big group file, key-only scans skipping float
    // parsing, group-filter file pruning — measured against the wholetext
    // + from_json helper it replaced. The generated store is 4 group
    // files × (20000·F) keys × dim-64 float arrays (≈ 12 MB/file at the
    // base, ≈ F× that big — multi-GB per file at F=100). Peak heap is
    // the max post-GC pool peak during the scan (peaks reset before each
    // run): the helper must materialize EVERY file as one string row,
    // the connector streams — the number that decides whether a 2 GB
    // group file is readable at all. Helper timings fall back to -1 on
    // OOM/failure; that outcome IS the measurement.
    val embjsonJson: Option[String] =
      if (!familySelected("embjson_source")) None
      else Some {
        import java.lang.management.ManagementFactory
        import scala.jdk.CollectionConverters._
        def genStore(nKeys: Int): (String, Long) = {
          val dir = java.nio.file.Files
            .createTempDirectory("graft-scale-embjson").toString
          var total = 0L
          (0 until 4).foreach { g =>
            val f = new java.io.File(dir, s"model$g.json")
            val w = new java.io.BufferedWriter(new java.io.FileWriter(f),
              1 << 20)
            w.write("{")
            var k = 0
            while (k < nKeys) {
              if (k > 0) w.write(",")
              w.write(s""""img${g}_$k.png":[""")
              var i = 0
              var h = g * 1000003L + k * 31L + 7L
              while (i < 64) {
                if (i > 0) w.write(",")
                h = h * 6364136223846793005L + 1442695040888963407L
                val v = ((h >>> 33) % 2000000L).toDouble / 1000000.0 - 1.0
                w.write(String.format(java.util.Locale.ROOT, "%.6f",
                  Double.box(v)))
                i += 1
              }
              w.write("]")
              k += 1
            }
            w.write("}")
            w.close()
            total += f.length()
          }
          (dir, total)
        }
        def peakReset(): Unit = ManagementFactory.getMemoryPoolMXBeans
          .asScala.foreach(p => try p.resetPeakUsage() catch { case _: Throwable => () })
        def peakMb(): Long = ManagementFactory.getMemoryPoolMXBeans
          .asScala.filter(_.getType == java.lang.management.MemoryType.HEAP)
          .map(p => try p.getPeakUsage.getUsed catch { case _: Throwable => 0L })
          .sum / (1024L * 1024L)
        val sections = Seq("small" -> 20000, "big" -> 20000 * factor)
          .map { case (tag, nKeys) =>
            val (dir, bytes) = genStore(nKeys)
            def fullAgg(df: DataFrame): Unit = {
              df.agg(count(lit(1)),
                sum(element_at(col("embedding"), 1))).collect(); ()
            }
            def keysAgg(df: DataFrame): Unit = {
              df.agg(sum(length(col("image_key")))).collect(); ()
            }
            def native = spark.read.format("embjson").load(dir)
            def helper = graft.sources.ImageIngest
              .readJsonEmbeddings(spark, s"$dir/*.json")
            peakReset()
            val tFullN = timeIt { fullAgg(native) }
            val memN = peakMb()
            val tKeysN = timeIt {
              keysAgg(native.select(col("group"), col("image_key")))
            }
            val tPruneN = timeIt {
              keysAgg(native.filter(col("group") === "model0")
                .select(col("group"), col("image_key")))
            }
            peakReset()
            var memH = -1L
            // -1 means THE HELPER CANNOT DO THIS — print the actual
            // failure so a coding error in the helper path can never
            // masquerade as an infeasibility claim (review finding)
            def rootOf(e: Throwable): Throwable = {
              var c = e
              while (c.getCause != null && (c.getCause ne c)) c = c.getCause
              c
            }
            val tFullH = try {
              val t = timeIt { fullAgg(helper) }
              memH = peakMb(); t
            } catch { case e: Throwable =>
              println(s"SCALEEMBJSON $tag helper full-scan failed: ${rootOf(e)}")
              -1.0
            }
            val tKeysH = try timeIt {
              keysAgg(helper.select(col("group"), col("image_key")))
            } catch { case e: Throwable =>
              println(s"SCALEEMBJSON $tag helper key-scan failed: ${rootOf(e)}")
              -1.0
            }
            println(s"SCALEEMBJSON $tag keys_per_file=$nKeys " +
              s"bytes=$bytes full_native=${fmt(tFullN)}s " +
              s"keys_native=${fmt(tKeysN)}s prune_native=${fmt(tPruneN)}s " +
              s"full_helper=${fmt(tFullH)}s keys_helper=${fmt(tKeysH)}s " +
              s"peak_heap_native=${memN}MB peak_heap_helper=${memH}MB")
            // multi-GB stores must not outlive their measurements
            deleteRecursively(dir)
            s""""$tag":{"keys_per_file":$nKeys,"bytes_total":$bytes,""" +
              s""""full_native_sec":${fmt(tFullN)},""" +
              s""""keys_native_sec":${fmt(tKeysN)},""" +
              s""""prune_native_sec":${fmt(tPruneN)},""" +
              s""""full_helper_sec":${fmt(tFullH)},""" +
              s""""keys_helper_sec":${fmt(tKeysH)},""" +
              s""""peak_heap_native_mb":$memN,"peak_heap_helper_mb":$memH}"""
          }
        sections.mkString("{", ",", "}")
      }

    val famJson = results.map { case (n, s, b, e) =>
      s""""$n":{"small":${fmt(s)},"big":${fmt(b)},"exponent":${fmt(e)}}"""
    }.mkString("{", ",", "}")
    val buildJson = builds.map { case (n, (s, b)) =>
      val e = math.log(b / s) / math.log(factor.toDouble)
      s""""$n":{"small":${fmt(s)},"big":${fmt(b)},"exponent":${fmt(e)}}"""
    }.mkString("{", ",", "}")
    val recallField = recallJson.map(r => s""","recall":$r""").getOrElse("") +
      plantedJson.map(r => s""","recall_planted":$r""").getOrElse("") +
      filteredJson.map(r => s""","recall_filtered":$r""").getOrElse("") +
      hybridRecallJson.map(r => s""","recall_hybrid":$r""").getOrElse("") +
      driftJson.map(r => s""","drift_retrain":$r""").getOrElse("") +
      embjsonJson.map(r => s""","embjson":$r""").getOrElse("")
    val json =
      s"""{"metric":"scale_exponent","factor":$factor,"base":"$base","families":$famJson,"builds":$buildJson$recallField}"""
    println(json)
    java.nio.file.Files.write(java.nio.file.Paths.get("target/scalebench.json"),
      json.getBytes("UTF-8"))
    scratchDirs.foreach(deleteRecursively)
    SessionMemo.releaseAll(spark)
    spark.stop()
  }
}
