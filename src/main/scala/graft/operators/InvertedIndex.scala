package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted inverted index — the SPARSE retrieval serving artifact beside
  * [[SimilaritySearch]]'s dense IVF family: build once from a corpus
  * (term-bucketed posting lists + document lengths + term document
  * frequencies + corpus stats), persist as partitioned parquet, probe many
  * times with BM25 scoring. The probe reads ONLY the query terms' hash
  * buckets (parquet partition pruning on the bucket column), so serving
  * cost scales with query-term posting sizes, never corpus size — the
  * build-once/probe-many contract `saveIvfIndex` established, applied to
  * lexical search.
  *
  * BM25 scoring (Robertson & Zaragoza 2009; k1 = 1.2, b = 0.75) uses the
  * IDENTICAL float operation order as the `t_bm25_topk` gate, so a probe
  * against the artifact is bit-equal to the direct corpus computation —
  * which is exactly what makes the artifact trustworthy: persisting the
  * index must not change a single score.
  */
object InvertedIndex {

  /** Number of hash buckets the posting lists partition into; the probe
    * prunes to the query terms' buckets. */
  val Buckets = 64

  /** Bucket count for the spell-suggestion dictionary — deliberately
    * FINER than the posting grid (r13): a BM25 probe carries a handful
    * of terms (few buckets of 64 suffice), but a suggest probe fans each
    * query into its ~|query|+1 deletion keys, so 5 queries already hit
    * ~45 distinct buckets — at 64 buckets the "pruned" scan read ~60% of
    * a dictionary 9× the termdf's row count, which is why the served
    * path lost to per-call derivation at every r12-measured size. At
    * 1024 buckets the same probe reads ~4% of the dictionary. The probe
    * resolves the modulus from the ARTIFACT (df-carrying r13 layout =
    * this grid; legacy df-less = the posting grid), so old artifacts
    * keep pruning correctly.
    */
  val SuggestBuckets = 1024

  /** Candidate-count bound (sum of the essential terms' dfs) above which
    * [[bm25TopKPruned]] stops broadcast-hinting the candidate semi-join:
    * ~2M doc ids ≈ 16 MB broadcast — past that, a forced broadcast is a
    * driver/executor OOM waiting for a frequent essential term. */
  val BroadcastCandidateCap = 2L << 20

  final case class LexIndex(
      postings: DataFrame, // term, doc_id, tf, bucket
      docLens: DataFrame,  // doc_id, dl
      termDf: DataFrame,   // term, df
      n: Long,
      sdl: Long,
      // persisted spell-suggestion dictionary (term, [df,] __qk, bucket)
      // when loaded from an artifact that has one; None = derive per
      // probe. suggestBucketCount records the modulus the dictionary's
      // bucket column was written under (legacy artifacts used the
      // posting grid; r13 dictionaries use the finer SuggestBuckets) —
      // the probe MUST prune with the artifact's own modulus or it reads
      // the wrong partitions and silently misses suggestions
      suggestKeys: Option[DataFrame] = None,
      suggestBucketCount: Int = SuggestBuckets) {
    /** Mean document length, derived from the exact integer sums so an
      * appended artifact reproduces it bit-for-bit. */
    def avgdl: Double = if (n == 0) 0.0 else sdl.toDouble / n.toDouble
  }

  private[graft] def bucketOf(term: org.apache.spark.sql.Column) =
    pmod(xxhash64(term), lit(Buckets.toLong)).cast("int")

  /** [[bucketOf]] on the driver, for a probe's handful of query terms:
    * the same Spark XXH64 (seed 42) and non-negative modulus, so a probe
    * prunes to its buckets without launching a job to hash them (the
    * [[EdJoin.deletionKeyHashes]] precedent). Its documented twin —
    * LexProbeBucketSpec pins the two equal over a real vocabulary.
    */
  private[graft] def bucketOfTerm(term: String): Int =
    Math.floorMod(
      org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(term),
        org.apache.spark.sql.types.StringType, 42L),
      Buckets.toLong).toInt

  /** Filesystem resolved FROM the artifact path through the session's
    * Hadoop configuration — so the tombstone existence check, compact
    * staging swap, and cleanup all run against the filesystem the artifact
    * actually lives on (local, HDFS, S3A, …), never a hardcoded
    * `java.io.File`. A local-only check would silently skip
    * [[applyTombstones]] for any non-local `dir`, serving deleted
    * documents — the one wrong-answer-at-scale path this API must not
    * have.
    */
  private[graft] def fsFor(spark: SparkSession, dir: String): (FileSystem, Path) = {
    val p = new Path(dir)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  /** One corpus pass: whitespace terms → (doc, term) counts; doc lengths
    * and term dfs are bounded rollups of the posting relation. Empty
    * tokens (leading/trailing/doubled separators — e.g. the trailing
    * space a word-boundary BPE chunk detokenizes to) are dropped BEFORE
    * counting: a phantom `""` term would otherwise carry df ≈ n and
    * inflate every dl, biasing BM25 length normalization corpus-wide
    * (the [[graft.operators.Chunker]] empty-token discipline, applied
    * at the index boundary).
    */
  def build(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", withPositions: Boolean = false): LexIndex = {
    val tf =
      if (!withPositions)
        docs
          .select(col(idCol).as("doc_id"),
            explode(split(col(textCol), " ")).as("term"))
          .filter(length(col("term")) > 0)
          .groupBy(col("doc_id"), col("term"))
          .agg(count(lit(1)).as("tf"))
      else
        // positions index the EMPTY-FILTERED token sequence (filter the
        // array before posexplode), so a doubled separator cannot break
        // phrase adjacency; sort_array pins collect_list's arrival order
        docs
          .select(col(idCol).as("doc_id"),
            posexplode(filter(split(col(textCol), " "),
              t => length(t) > 0)).as(Seq("pos", "term")))
          .groupBy(col("doc_id"), col("term"))
          .agg(count(lit(1)).as("tf"),
            sort_array(collect_list(col("pos"))).as("positions"))
    val postings = tf.withColumn("bucket", bucketOf(col("term")))
    val docLens = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("dl"))
    // max_tf is the term's score-bound input (the block-max statistic,
    // Ding & Suel 2011 reduced to one block per term): BM25's tf leg
    // saturates at tf → ∞, so idf·(k1+1)·max_tf/(max_tf + k1(1−b)) is a
    // per-term UPPER bound on any doc's term score — what lets
    // [[bm25TopKPruned]] skip candidates that cannot enter the top-k.
    // Exact integer: merges by MAX across appended deltas, and stays a
    // valid (if looser) bound after tombstoning without a rescan.
    val termDf = tf.groupBy(col("term")).agg(count(lit(1)).as("df"),
      max(col("tf")).as("max_tf"))
    // two bounded scalars close the build — the artifact's meta row
    val nRow = docs.agg(count(lit(1)).as("n")).collect()(0)
    val n = nRow.getLong(0)
    // coalesce: n > 0 does NOT imply docLens is non-empty — a corpus of
    // all-separator texts has docs but no postings, and sum over the
    // empty relation is NULL
    val sdl =
      if (n == 0) 0L
      else docLens.agg(coalesce(sum(col("dl")), lit(0L)))
        .collect()(0).getLong(0)
    LexIndex(postings, docLens, termDf, n, sdl)
  }

  /** The spell-suggestion dictionary relation for a vocabulary: one row
    * per (term, 1-deletion-neighborhood key) WITH the term's df folded in,
    * bucketed by key hash — the [[suggestTerms]] probe prunes to the
    * query keys' buckets exactly like BM25 prunes postings. Derived once
    * per save/append/compact (a vocabulary-bounded explode), never per
    * probe — the build-once/probe-many discipline applied to query
    * correction. Carrying df in the dictionary rows (r13) is what lets
    * the served probe rank WITHOUT joining the vocabulary-wide termDf
    * relation — the join was the served path's fixed overhead that made
    * it 2× slower than per-call derivation at every r12-measured size;
    * append deltas carry partial dfs that the probe re-sums per
    * (term, key), exactly like [[load]] re-sums termdf deltas.
    */
  private[graft] def suggestRelation(termDf: DataFrame): DataFrame =
    termDf.select(col("term"), col("df"),
        explode(EdJoin.deletionKeys(col("term"))).as("__qk"))
      .withColumn("bucket",
        pmod(col("__qk"), lit(SuggestBuckets.toLong)).cast("int"))

  /** Cluster posting rows on (bucket, salt) before a
    * `partitionBy("bucket")` write — the IVF writers' small-file
    * discipline (r19, `SimilaritySearch.clusterByCell`) applied to the
    * posting grid: the relation leaves its build groupBy hash-partitioned
    * on (doc_id, term), so EVERY write task holds every bucket and an
    * unclustered save sprays tasks × [[Buckets]] files (at production
    * task counts, ~100k+ file creations for one artifact — pure
    * wall-clock, the measured ×100 IVF storm's shape). One exchange of
    * exactly the artifact's own bytes bounds the layout at
    * ≤ [[BucketWriteSalt]] files per bucket dir, while a hot bucket
    * still writes salt-way parallel (guide §2.5 — never funnel a hot
    * key into one task). Row values, partition pruning, and every
    * reader are unchanged.
    */
  private[graft] val BucketWriteSalt = 4L
  private[graft] def clusterByBucket(postings: DataFrame): DataFrame =
    postings.repartition(col("bucket"),
      pmod(xxhash64(col("doc_id")), lit(BucketWriteSalt)))

  /** Persist: postings partitioned by term hash bucket (the pruning key),
    * doc lengths and term dfs as plain parquet, stats as a one-row meta
    * table, and the spell-suggestion deletion-key dictionary partitioned
    * by key bucket.
    */
  def save(idx: LexIndex, dir: String): Unit = {
    clusterByBucket(idx.postings).write.mode("overwrite")
      .partitionBy("bucket")
      .parquet(s"$dir/postings")
    idx.docLens.write.mode("overwrite").parquet(s"$dir/doclens")
    idx.termDf.write.mode("overwrite").parquet(s"$dir/termdf")
    // repartition ON the bucket column: the fine suggest grid × the
    // writer's task count would otherwise scatter ~tasks files into each
    // of up to 1024 bucket dirs; one vocabulary-bounded shuffle buys one
    // file per bucket (r14 — small-file discipline for every suggest
    // write site, see StreamingLexIndex.applyBatch)
    suggestRelation(idx.termDf).repartition(col("bucket"))
      .write.mode("overwrite")
      .partitionBy("bucket").parquet(s"$dir/suggest")
    val spark = idx.postings.sparkSession
    import spark.implicits._
    // INVARIANT, now VERIFIED at load (r15): meta rows stay in LOCKSTEP
    // with suggest deltas — save writes one meta row and one full
    // dictionary, append adds one of each (when the artifact has a
    // dictionary at all), compact rewrites back to one-of-each. The
    // `suggestmeta` LEDGER records one row per suggest delta so load()
    // can CHECK the lockstep instead of trusting it: on a mismatch (a
    // future writer appending meta without its suggest delta, or vice
    // versa) the dictionary's persisted dfs are untrustworthy and the
    // probe falls back to the always-correct termDf-join route.
    Seq(Tuple1(1)).toDF("delta")
      .write.mode("overwrite").parquet(s"$dir/suggestmeta")
    Seq((idx.n, idx.sdl)).toDF("n", "sdl")
      .write.mode("overwrite").parquet(s"$dir/meta")
  }

  /** Append a disjoint batch of new documents to a persisted index: the
    * delta's postings/doc-lengths/dfs/meta write as APPEND rows and
    * [[load]] re-aggregates (df and the (n, sdl) stats are sums, exact
    * because doc ids are disjoint across batches — the caller's contract,
    * as in `appendToIvfIndex`). A probe after append is bit-identical to
    * a rebuild over the unioned corpus (spec-pinned): every BM25 input —
    * df, n, avgdl, tf, dl — is an exact integer or a ratio of exact sums.
    */
  def append(dir: String, newDocs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): Unit = {
    val spark = newDocs.sparkSession
    import spark.implicits._
    // first write into an empty directory BOOTSTRAPS a fresh
    // (positionless) artifact — append-mode callers need not special-case
    // their first batch; a positional artifact must be save()'d explicitly
    val (fs, root) = fsFor(spark, dir)
    if (!fs.exists(new Path(root, "postings"))) {
      save(build(newDocs, idCol, textCol), dir)
      return
    }
    // match the artifact's build mode: appending a positionless delta to
    // a positional index would splinter the postings parquet schema
    val positional = spark.read.parquet(s"$dir/postings")
      .columns.contains("positions")
    val delta = build(newDocs, idCol, textCol, withPositions = positional)
    clusterByBucket(delta.postings).write.mode("append")
      .partitionBy("bucket")
      .parquet(s"$dir/postings")
    delta.docLens.write.mode("append").parquet(s"$dir/doclens")
    delta.termDf.write.mode("append").parquet(s"$dir/termdf")
    // delta vocabulary's deletion keys append too; duplicate (term, key)
    // rows across deltas carry partial dfs the probe re-sums. Match the
    // existing dictionary's LAYOUT (the positional-postings discipline):
    // a pre-df artifact keeps its df-less schema AND its coarse posting-
    // grid bucket modulus — mixing layouts would leave null dfs under
    // mergeSchema (silent df undercount) or scatter the same key across
    // two bucket grids (missed suggestions under either pruning)
    // one suggest delta PER meta row appended — the save()-documented
    // meta-rows == suggest-deltas lockstep load() keys its raw-serve
    // fast path on (a df-less legacy dictionary is exempt: load serves
    // it through the termDf join regardless of delta count). The ledger
    // row registers this delta so load() can verify the lockstep.
    if (fs.exists(new Path(root, "suggest"))) {
      val rel = suggestRelation(delta.termDf)
      val legacy = !spark.read.parquet(s"$dir/suggest")
        .columns.contains("df")
      // the ledger row registers ONLY when the artifact already has a
      // ledger (an r13/r14 df-carrying artifact without one keeps the
      // meta-count heuristic until compact() rewrites it — appending a
      // first ledger row would UNDERCOUNT the pre-ledger deltas and
      // trip the check on a consistent artifact), and it lands BEFORE
      // the suggest delta: a crash between the two then reads as
      // ledger > meta (safe fallback), never as a raw-served
      // multi-delta dictionary
      val ledger = new Path(root, "suggestmeta")
      if (!legacy && fs.exists(ledger))
        Seq(Tuple1(1)).toDF("delta")
          .write.mode("append").parquet(s"$dir/suggestmeta")
      (if (legacy)
        rel.drop("df").withColumn("bucket",
          pmod(col("__qk"), lit(Buckets.toLong)).cast("int"))
      else rel).repartition(col("bucket")).write.mode("append")
        .partitionBy("bucket").parquet(s"$dir/suggest")
    }
    Seq((delta.n, delta.sdl)).toDF("n", "sdl")
      .write.mode("append").parquet(s"$dir/meta")
  }

  /** Tombstone a batch of document ids (takedowns/right-to-erasure — the
    * same governance motivation as the k-anonymity audit): appends to the
    * `tombstones` relation; [[load]] applies them EXACTLY, so a probe
    * after delete is bit-identical to a from-scratch build over the
    * surviving corpus without touching the posting files. Idempotent
    * (ids are distinct-ed at load) and safe for ids the index never held.
    * Write cost is O(batch); the posting rewrite is deferred to
    * [[compact]].
    */
  def delete(ids: DataFrame, dir: String, idCol: String = "doc_id"): Unit = {
    // the tombstone relation carries the ARTIFACT's doc-id type (r15 —
    // the deleteFromAnnIndex lesson applied to the lexical twin): build()
    // preserves the corpus id type, so an unconditional cast to long
    // would turn a takedown against a string-keyed index into all-null
    // tombstones that delete NOTHING. Resolve the type from the artifact
    // (doclens is the smallest relation carrying it, present in both the
    // batch and streamed layouts) and fail loudly on a lossy cast.
    val spark = ids.sparkSession
    val idType = spark.read.parquet(s"$dir/doclens")
      .schema("doc_id").dataType
    ids.select(
        when(col(idCol).isNotNull && col(idCol).try_cast(idType).isNull,
          raise_error(concat(lit("delete: id '"), col(idCol).cast("string"),
            lit(s"' does not cast to the artifact's doc-id type $idType — " +
              "a lossy cast would tombstone nothing"))))
          .otherwise(col(idCol).try_cast(idType)).as("doc_id"))
      .distinct()
      .write.mode("append").parquet(s"$dir/tombstones")
  }

  /** [[delete]] for a driver-side id list. */
  def delete(spark: SparkSession, dir: String, ids: Seq[Long]): Unit = {
    import spark.implicits._
    delete(ids.toDF("doc_id"), dir)
  }

  /** Exact tombstone application: every BM25 input the deletions touch is
    * reconstructed from the artifact itself — the dead docs' posting rows
    * give the per-term df decrement, their doclens rows give the (n, sdl)
    * decrement — so the adjusted index equals a rebuild over the
    * surviving corpus relation-for-relation (integers throughout). The
    * anti-joins broadcast the tombstone set (bounded by deletions, ≪
    * corpus) and sit ABOVE the bucket filter in the probe plan, so
    * partition pruning still reaches the posting scan.
    */
  private[graft] def applyTombstones(spark: SparkSession, idx: LexIndex,
      dir: String): LexIndex = {
    val tomb = spark.read.parquet(s"$dir/tombstones")
      .select(col("doc_id")).distinct()
    val dfDelta = idx.postings.join(broadcast(tomb), Seq("doc_id"))
      .groupBy(col("term")).agg(count(lit(1)).as("__ddf"))
    // max_tf carries through unchanged: the max over survivors is ≤ the
    // stored max, so the pruning bound stays VALID (upper bounds may
    // loosen, never tighten wrongly); compact re-derives the exact max
    val termDf = idx.termDf.join(broadcast(dfDelta), Seq("term"), "left")
      .select(col("term"),
        (col("df") - coalesce(col("__ddf"), lit(0L))).as("df"),
        col("max_tf"))
      .filter(col("df") > 0)
    val dead = idx.docLens.join(broadcast(tomb), Seq("doc_id"))
      .agg(count(lit(1)).as("dn"),
        coalesce(sum(col("dl")), lit(0L)).as("dsdl")).collect()(0)
    LexIndex(
      idx.postings.join(broadcast(tomb), Seq("doc_id"), "left_anti"),
      idx.docLens.join(broadcast(tomb), Seq("doc_id"), "left_anti"),
      termDf,
      idx.n - dead.getLong(0), idx.sdl - dead.getLong(1),
      // the dictionary's KEYS carry through, but its persisted dfs are
      // stale under live tombstones — project them away so the probe
      // routes to the adjusted-termDf join (correct df, dead terms drop);
      // compact() re-derives the dictionary with fresh dfs. The bucket
      // modulus is the ARTIFACT's, unchanged by the projection
      idx.suggestKeys.map(_.select(col("term"), col("__qk"), col("bucket"))),
      idx.suggestBucketCount)
  }

  def load(spark: SparkSession, dir: String): LexIndex = {
    // meta and termDf re-aggregate so appended deltas merge exactly; the
    // meta ROW COUNT is the delta count (save writes one, each append
    // one more) — it decides whether the dictionary needs a df re-merge.
    // That is a cross-relation invariant, not a local fact: save(),
    // append(), and compact() keep meta rows in LOCKSTEP with suggest
    // deltas, and since r15 the suggestmeta ledger lets the dictionary
    // block below VERIFY it instead of trusting the write sites
    val meta = spark.read.parquet(s"$dir/meta")
      .agg(sum(col("n")), sum(col("sdl")), count(lit(1))).collect()(0)
    val (fs, root) = fsFor(spark, dir)
    val rawSuggest =
      if (fs.exists(new Path(root, "suggest")))
        Some(spark.read.parquet(s"$dir/suggest"))
      else None // legacy artifact: probes fall back to per-call derivation
    // the df column doubles as the layout marker: df-carrying (r13)
    // dictionaries were written under the fine SuggestBuckets grid,
    // df-less ones under the posting grid — both changed in the same
    // layout revision, and append preserves whichever the artifact has
    val suggestBuckets =
      if (rawSuggest.exists(_.columns.contains("df"))) SuggestBuckets
      else Buckets
    // pre-merge append deltas' partial dfs HERE, not per probe: a
    // single-delta artifact (the common save-once shape; compact rewrites
    // back to it) serves its dictionary as a plain unique-keyed scan with
    // no aggregation shuffle anywhere in the probe. Multi-delta
    // dictionaries group on (term, __qk, bucket) so the probe's bucket
    // filter still pushes through the aggregation to the scan.
    //
    // The meta-rows == suggest-deltas lockstep is VERIFIED here (r15 —
    // the r14 comment-only invariant made a load-time check): the
    // `suggestmeta` ledger carries one row per suggest delta, and a
    // count disagreeing with the meta row count means some writer broke
    // the save/append/compact lockstep — the dictionary's persisted dfs
    // are then untrustworthy in BOTH directions (a meta-only append
    // leaves them stale; a suggest-only append leaves partials the
    // meta-keyed merge decision would mis-serve), so the df column is
    // projected away and the probe routes through the termDf join,
    // which re-derives every df from the termdf deltas (always correct;
    // the artifact heals at the next compact()). The ledger read is one
    // tiny bounded count. Legacy artifacts without a ledger keep the
    // r13 meta-count heuristic.
    val suggest = rawSuggest.map { sk =>
      if (!sk.columns.contains("df")) sk
      else {
        val metaCount = meta.getLong(2)
        val ledger =
          if (fs.exists(new Path(root, "suggestmeta")))
            Some(spark.read.parquet(s"$dir/suggestmeta").count())
          else None
        ledger match {
          case Some(lc) if lc != metaCount =>
            sk.select(col("term"), col("__qk"), col("bucket"))
          case Some(1L) => sk
          case None if metaCount == 1L => sk
          case _ => sk.groupBy(col("term"), col("__qk"), col("bucket"))
            .agg(sum(col("df")).as("df"))
        }
      }
    }
    // mergeSchema: an artifact persisted before the max_tf statistic can
    // carry 2-column termdf files beside 3-column appended deltas; the
    // merged read nulls the missing column and the Long.MaxValue
    // fallback keeps every probe CORRECT (any finite max_tf is a valid
    // upper bound, so is the type's max — pruning merely loosens to
    // idf·(k1+1) until a compact() re-derives the exact statistic)
    val rawTermDf = spark.read.option("mergeSchema", "true")
      .parquet(s"$dir/termdf")
    val termDf =
      (if (rawTermDf.columns.contains("max_tf"))
        rawTermDf.withColumn("max_tf",
          coalesce(col("max_tf"), lit(Long.MaxValue)))
      else rawTermDf.withColumn("max_tf", lit(Long.MaxValue)))
        .groupBy(col("term")).agg(sum(col("df")).as("df"),
          max(col("max_tf")).as("max_tf"))
    val base = LexIndex(
      spark.read.parquet(s"$dir/postings"),
      spark.read.parquet(s"$dir/doclens"),
      termDf,
      meta.getLong(0), meta.getLong(1), suggest, suggestBuckets)
    if (fs.exists(new Path(root, "tombstones")))
      applyTombstones(spark, base, dir)
    else base
  }

  /** Fold accumulated tombstones into the artifact: rewrite the four
    * relations with the dead documents removed (the [[Compaction]] rewrite
    * shape applied to the index) and drop the tombstone relation. After
    * compact, probes are bit-identical to a from-scratch build over the
    * surviving corpus with NO per-probe anti-join cost. Stages into a
    * sibling directory and swaps — at cluster scale this is the versioned
    * artifact-directory cut-over; locally a rename.
    */
  def compact(spark: SparkSession, dir: String): Unit = {
    val (fs, root) = fsFor(spark, dir)
    if (!fs.exists(new Path(root, "tombstones"))) return
    val adjusted = load(spark, dir)
    val staging = s"$dir-compact-staging"
    val postingCols = (Seq("term", "doc_id", "tf") ++
      (if (adjusted.postings.columns.contains("positions"))
        Seq("positions") else Nil) ++ Seq("bucket")).map(col)
    // re-derive termDf from the SURVIVING postings: compact already pays
    // the posting rewrite, so the loose tombstone-carried max_tf bound
    // tightens back to the exact max here (df is identical either way)
    val exactTermDf = adjusted.postings
      .groupBy(col("term")).agg(count(lit(1)).as("df"),
        max(col("tf")).as("max_tf"))
    save(LexIndex(
      adjusted.postings.select(postingCols: _*),
      adjusted.docLens, exactTermDf, adjusted.n, adjusted.sdl), staging)
    val stagingRoot = new Path(staging)
    // "suggest" last among the data relations, then its LEDGER: save()
    // derives the dictionary from the exact surviving termDf, so the
    // rewritten dictionary sheds dead terms' keys with the rewrite, and
    // the staged one-row suggestmeta ledger must swap in WITH it (r16 —
    // omitting it left the live ledger at its pre-compact delta count
    // beside the fresh one-row meta, so load()'s lockstep check tripped
    // forever on a consistent artifact and suggest df permanently fell
    // back to the termDf join; the swap also INSTALLS a ledger on
    // pre-ledger artifacts, the heal compact always promised).
    // Rename the live relation ASIDE before renaming staging in (r15 —
    // the compactAnnIndex discipline): a crash between the two leaves
    // the old relation at <sub>-compact-old beside the complete staged
    // copy, so recovery is one rename back, never a data re-derivation.
    // Every crash window reads SAFE: new dictionary in + old ledger +
    // old meta agree at the old count → the df re-merge (an identity
    // over the fresh unique-keyed rows); new ledger(1) + old meta(N) →
    // mismatch → the always-correct termDf fallback. No window serves
    // stale dfs raw.
    Seq("postings", "doclens", "termdf", "suggest", "suggestmeta", "meta")
      .foreach { sub =>
      val live = new Path(root, sub)
      val old = new Path(root, s"$sub-compact-old")
      fs.delete(old, true)
      if (fs.exists(live) && !fs.rename(live, old))
        throw new java.io.IOException(
          s"compact: rename $dir/$sub -> $dir/$sub-compact-old failed")
      if (!fs.rename(new Path(stagingRoot, sub), live))
        throw new java.io.IOException(
          s"compact: rename $staging/$sub -> $dir/$sub failed — the " +
            s"pre-compact relation is preserved at $dir/$sub-compact-old")
      fs.delete(old, true)
    }
    fs.delete(new Path(root, "tombstones"), true)
    fs.delete(stagingRoot, true)
  }

  /** BM25 top-k over the artifact for a bag of query terms. The posting
    * scan filters on the terms' buckets FIRST (partition pruning), then on
    * the terms; scores sum per doc through the exact-decimal boundary and
    * rank by (score desc, doc_id) — the [[graft.queries]] Exact convention,
    * so direct and artifact probes agree bit-for-bit.
    */
  def bm25TopK(idx: LexIndex, terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25Scores(idx, terms, k1, b)
      .orderBy(col("score_q").desc, col("doc_id"))
      .limit(k)

  /** The pruned posting scan every probe starts from: the query terms'
    * hash buckets reach the scan as a partition filter (the build-side
    * bucketing expression replayed exactly) — ONE definition shared by
    * all six probe entry points, so a pruning-convention change cannot
    * desynchronize them. The buckets are hashed on the driver
    * ([[bucketOfTerm]]), so building a probe starts no job, and the list
    * is SORTED: the `IN (…)` it prints into the plan is then a function
    * of the term SET, never of the term order.
    */
  private def prunedPostings(idx: LexIndex, terms: Seq[String]): DataFrame =
    idx.postings.filter(
      col("bucket").isin(terms.map(bucketOfTerm).distinct.sorted: _*))

  /** The ungated scoring relation behind [[bm25TopK]]: every matching
    * doc's quantized BM25 score, no ranking cut — the form downstream
    * rankers compose (the hybrid RRF gate fuses this with a dense leg
    * through GlobalRank instead of re-deriving tf/df/dl from the corpus).
    */
  def bm25Scores(idx: LexIndex, terms: Seq[String],
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25ScoresOver(idx, terms, k1, b, None)

  /** [[bm25Scores]] with an optional candidate-document restriction: when
    * `candidates` is given, the posting rows filter on the broadcast
    * candidate set BEFORE any scoring work, so shuffle and aggregation
    * volume is ∝ |candidates| × query terms, never the query terms'
    * posting sizes — the restriction [[bm25TopKPruned]]'s essential-term
    * phase relies on. `None` compiles to the EXACT plan bm25Scores always
    * had (no extra join node), so the unpruned gates' plans are untouched.
    */
  private def bm25ScoresOver(idx: LexIndex, terms: Seq[String],
      k1: Double, b: Double, candidates: Option[DataFrame]): DataFrame = {
    require(terms.nonEmpty, "empty query")
    val spark = idx.postings.sparkSession
    import spark.implicits._
    val q = terms.toDF("term")
      .join(idx.termDf, Seq("term")) // df per query term (bag semantics)
    val pruned = prunedPostings(idx, terms)
    // the caller decides whether the candidate side is broadcast-hinted
    // (bm25TopKPruned bounds it by the essential terms' df sum first)
    val base = candidates.fold(pruned)(c =>
      pruned.join(c, Seq("doc_id"), "left_semi"))
    val sc = base
      .join(broadcast(q), Seq("term"))
      .join(idx.docLens, Seq("doc_id"))
      .withColumn("s",
        log(((lit(idx.n) - col("df")).cast("double") + lit(0.5)) /
            (col("df").cast("double") + lit(0.5)) + lit(1.0)) *
        ((col("tf").cast("double") * lit(k1 + 1.0)) /
         (col("tf").cast("double") + lit(k1) *
           (lit(1.0 - b) + lit(b) *
             (col("dl").cast("double") / lit(idx.avgdl))))))
    sc.groupBy(col("doc_id"))
      .agg(floor(sum(col("s").cast(
          org.apache.spark.sql.types.DecimalType(27, 12)))
        .cast("double") * lit(1000000.0)).cast("long").as("score_q"))
  }

  /** BM25 top-k restricted to an allowed document set — metadata-FILTERED
    * retrieval (source/tenant/ACL filters), the serving verb every search
    * system pairs with the unfiltered probe. Scores use the CORPUS-wide
    * statistics (df, n, avgdl): the filter narrows who may be returned,
    * not what relevance means — the standard filtered-search contract.
    *
    * Scale: the allowed relation semi-joins the bucket-pruned posting
    * scan BEFORE any scoring work, so shuffle/aggregation volume is
    * ∝ |allowed ∩ matched postings|; the caller broadcast-hints a
    * known-small filter (an ACL list) and leaves a large one (a tenant
    * holding half the corpus) to the planner's shuffle strategy.
    *
    * The allowed ids keep their NATIVE type across the whole Among
    * family (r15 — the delete-type lesson): build() preserves the
    * corpus id type, and the former unconditional cast-to-long turned
    * every filtered verb on a string-keyed index into a silent
    * zero-result filter (all-null ids match nothing). Numeric width
    * mismatches (int allowed vs long postings) coerce in the join as
    * before.
    */
  def bm25TopKAmong(idx: LexIndex, terms: Seq[String], k: Int,
      allowed: DataFrame, idCol: String = "doc_id",
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25ScoresOver(idx, terms, k1, b,
      Some(allowed.select(col(idCol).as("doc_id"))))
      .orderBy(col("score_q").desc, col("doc_id"))
      .limit(k)

  /** BM25 top-k with WAND-style dynamic pruning over the persisted
    * per-term `max_tf` bound (Ding & Suel 2011's block-max idea reduced
    * to one block per term; the term-at-a-time MaxScore organization of
    * Turtle & Flood 1995 fits Spark's relational execution better than
    * document-at-a-time pointer movement). LOSSLESS by construction:
    * bit-identical to [[bm25TopK]] for every query.
    *
    * How: each query term's score is bounded above by
    * ub(t) = idf(t) · (k1+1)·max_tf / (max_tf + k1(1−b)) — the tf leg at
    * its recorded maximum and the length normalization at its floor.
    * Terms rank by ub descending and the planner grows an essential
    * PREFIX within a posting-volume budget (the
    * [[bm25TopKPrunedByQuery]] planner — a stop+rare+rare query takes
    * both rares essential); the candidate set is docs matching ANY
    * essential term (a pruned posting scan of only those terms), scored
    * FULLY over the whole query (posting rows semi-joined to the
    * broadcast candidates, so the non-essential terms' postings never
    * enter the scoring shuffle). If the quantized k-th candidate score
    * exceeds the quantized sum of the non-essential ubs, no unseen
    * document can reach the top-k — the standard MaxScore cut — and
    * those k rows ARE the answer; otherwise (or when the ub mass is too
    * flat for any in-budget prefix to plausibly certify) the query
    * scores exactly, one pass.
    *
    * Why it matters at scale: a natural-language query carries high-df
    * terms ("the") whose ub is tiny precisely BECAUSE df is huge. They
    * sort last, stay non-essential, and their corpus-sized posting lists
    * are touched only as a broadcast-filtered semi-join over the rare
    * terms' candidates — cost bounded by the rare terms' posting sizes,
    * not the stop-term's. The quantized-threshold compare uses ceil on
    * the bound side, one 1e-6 quantum of slack that dominates double
    * rounding (~1e-15) by nine orders of magnitude.
    *
    * One definition, two shapes: a single query IS a 1-row query
    * relation, so this delegates to [[bm25TopKPrunedByQuery]]'s
    * one-round planner + certified fallback (r12 shipped both
    * organizations separately; the growing-prefix loop this replaced ran
    * one limit-k action per prefix and re-scored the candidate pass each
    * round — the batch form's two-posting-passes-worst-case bound is
    * strictly tighter, and one pruning implementation is one losslessness
    * proof to keep correct). Returns the top-k with [[bm25Scores]]'s
    * exact schema, certified rows already evaluated.
    */
  def bm25TopKPruned(idx: LexIndex, terms: Seq[String], k: Int,
      k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "empty query")
    val spark = idx.postings.sparkSession
    import spark.implicits._
    // one row per term OCCURRENCE: the batch form derives bag
    // multiplicity from the relation exactly as bm25Scores does
    bm25TopKPrunedByQuery(idx, terms.map((0L, _)).toDF("query_id", "term"),
        k, k1 = k1, b = b)
      .select(col("doc_id"), col("score_q"))
      .orderBy(col("score_q").desc, col("doc_id"))
  }

  /** Batch probe: score MANY queries in one pass — `queries` is a
    * `(queryIdCol, termCol)` relation (one row per query term) and the
    * result is `(query_id, doc_id, score_q)`, each score exactly what
    * [[bm25Scores]] computes for that query's term bag alone (same
    * bucket pruning, same exact-decimal sum boundary). This is the
    * serving shape a retrieval PIPELINE composes — a RAG evaluation run
    * scores hundreds of queries, and folding them into one posting scan
    * beats a per-query driver loop by the query count.
    *
    * Scale: the query relation is the small side by construction
    * (queries ≪ corpus) and BROADCASTS; the posting scan prunes to the
    * union of the queries' term buckets, so cost ∝ matched postings,
    * never the corpus.
    */
  def bm25ScoresByQuery(idx: LexIndex, queries: DataFrame,
      queryIdCol: String = "query_id", termCol: String = "term",
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25ScoresByQueryOver(idx, queries, queryIdCol, termCol, k1, b, None)

  /** [[bm25ScoresByQuery]] with an optional (query_id, doc_id)
    * candidate-PAIR restriction — the batch analog of [[bm25ScoresOver]]'s
    * candidate set: the semi-join lands between the posting⋈query join
    * and the scoring shuffle, so a high-df term's postings are read but
    * never shuffled beyond the candidate pairs. `None` compiles to the
    * exact plan bm25ScoresByQuery always had. `allowed` is the
    * doc-SET restriction of [[bm25TopKAmong]] in the batch shape: it
    * semi-joins the bucket-pruned posting scan BEFORE the query join,
    * so disallowed docs never enter any scoring work (pre-filter
    * semantics — scores still use corpus-wide df/n/avgdl).
    */
  private def bm25ScoresByQueryOver(idx: LexIndex, queries: DataFrame,
      queryIdCol: String, termCol: String,
      k1: Double, b: Double, candidates: Option[DataFrame],
      allowed: Option[DataFrame] = None): DataFrame = {
    val qdf = queries
      .select(col(queryIdCol).as("query_id"), col(termCol).as("term"))
      .withColumn("bucket", bucketOf(col("term")))
    val buckets = qdf.select(col("bucket")).distinct()
      .collect().map(_.getInt(0)).toSeq
    require(buckets.nonEmpty, "empty query relation")
    val q = qdf.drop("bucket").join(idx.termDf, Seq("term"))
    val pruned = idx.postings.filter(col("bucket").isin(buckets: _*))
    val joined = allowed.fold(pruned)(a =>
        pruned.join(a, Seq("doc_id"), "left_semi"))
      .join(broadcast(q), Seq("term"))
    val sc = candidates.fold(joined)(c =>
        joined.join(c, Seq("query_id", "doc_id"), "left_semi"))
      .join(idx.docLens, Seq("doc_id"))
      .withColumn("s",
        log(((lit(idx.n) - col("df")).cast("double") + lit(0.5)) /
            (col("df").cast("double") + lit(0.5)) + lit(1.0)) *
        ((col("tf").cast("double") * lit(k1 + 1.0)) /
         (col("tf").cast("double") + lit(k1) *
           (lit(1.0 - b) + lit(b) *
             (col("dl").cast("double") / lit(idx.avgdl))))))
    sc.groupBy(col("query_id"), col("doc_id"))
      .agg(floor(sum(col("s").cast(
          org.apache.spark.sql.types.DecimalType(27, 12)))
        .cast("double") * lit(1000000.0)).cast("long").as("score_q"))
  }

  /** Cost-model dials for [[bm25TopKPrunedByQuery]]'s per-query planner.
    *
    * `PrunePrefixDfBudget`: the essential prefix grows (in ub order)
    * while its cumulative posting volume stays within this share of the
    * query's TOTAL posting volume — past half, the candidate pass reads
    * most of what the exact pass would, so a failed cut costs more than
    * pruning can save.
    *
    * `PruneFlatSuffixCutoff`: if the best in-budget prefix still leaves
    * this share of the query's total score bound in the suffix, the ub
    * mass is flat (the BPE-chunk/long-query shape: many terms, none
    * dominant) and certification is hopeless — route the query straight
    * to exact scoring, ONE posting pass, no wasted candidate round.
    * Certification needs the k-th candidate's ACHIEVED score to beat
    * the whole suffix bound, and achieved scores run well under their
    * ub (tf below max_tf, dl above minimum), so a suffix share past a
    * quarter almost never certifies — measured on the RAG chunk
    * workload, cutoff 0.5 still let marginal queries through to a
    * doomed candidate round. Routing is a pure cost decision: both
    * paths are exact, so no dial value can change a result
    * (spec-pinned), only what it costs.
    */
  val PrunePrefixDfBudget = 0.5
  val PruneFlatSuffixCutoff = 0.25

  /** Batch WAND: [[bm25ScoresByQuery]]'s many-queries-one-scan serving
    * shape with a MaxScore cut, fully RELATIONAL — no per-query driver
    * loop, so a RAG evaluation's hundreds of queries prune in two
    * posting passes worst case. Lossless: per query, the result is
    * bit-identical to ranking [[bm25ScoresByQuery]].
    *
    * The plan is built DRIVER-SIDE from one bounded stats collect (the
    * query relation is the small side by contract): per query, terms
    * sort by ub descending and the ESSENTIAL PREFIX grows while its
    * cumulative df stays within [[PrunePrefixDfBudget]] of the query's
    * total posting volume — so a stop+rare+rare query takes BOTH rare
    * terms essential in the same single round (the r12 one-essential-
    * term form could never certify that shape and silently degraded to
    * full scoring plus a wasted candidate pass; the r12 single-query
    * probe recovered it only by iterating one Spark action per prefix).
    * Queries whose best in-budget prefix still leaves a
    * [[PruneFlatSuffixCutoff]]-share suffix bound route straight to
    * exact scoring — flat-ub shapes (long BPE-chunk queries) measured
    * 6× SLOWER under unconditional pruning at sf0.1×10, because the
    * cut never certifies and every query paid both passes.
    *
    * Execution: one candidate pass over the pruned queries' essential
    * postings (broadcast-guarded by the exact df bound the planner
    * already holds), one FULL scoring of those queries restricted to
    * the candidate pairs (non-essential postings never shuffle), then
    * the certified cut: a query's rows stand when it filled k
    * candidates and its quantized k-th score exceeds
    * ceil(Σ non-essential ub × 1e6). Everything else — routed-direct,
    * uncertified, fewer-than-k matches, stale-candidate — re-scores
    * exactly, restricted to those ids. Returns
    * (query_id, doc_id, score_q), ≤ k rows per query.
    */
  def bm25TopKPrunedByQuery(idx: LexIndex, queries: DataFrame, k: Int,
      queryIdCol: String = "query_id", termCol: String = "term",
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25TopKPrunedByQueryImpl(idx, queries, k, queryIdCol, termCol,
      k1, b, None)

  /** Filtered batch WAND: [[bm25TopKPrunedByQuery]]'s many-queries-one-
    * scan organization under [[bm25TopKAmong]]'s allowed-document
    * restriction — the multi-tenant RAG serving shape (many queries ×
    * an ACL/tenant filter). Per query, the result is bit-identical to
    * ranking [[bm25TopKAmong]] for that query's term bag (spec-pinned).
    *
    * Why the planner carries over unchanged: the per-term ub is an
    * upper bound on ANY document's term score, allowed or not, so the
    * MaxScore cut only LOOSENS under a filter — a certified query's
    * unseen allowed docs are bounded by the same suffix sum. The filter
    * lands as a semi-join on the bucket-pruned posting scan BEFORE
    * candidate generation and before every scoring pass (the
    * bm25TopKAmong placement — pre-filter semantics, never a post-filter
    * under-return), so the candidate pass is ∝ |allowed ∩ essential
    * postings| and certification compares against the filtered exact
    * path by construction: a query certifies only when it filled k
    * ALLOWED candidates whose k-th score beats the suffix bound.
    * Filtered queries with < k allowed matches simply fall back to the
    * exact filtered pass — correct, one extra bounded pass.
    */
  def bm25TopKPrunedByQueryAmong(idx: LexIndex, queries: DataFrame, k: Int,
      allowed: DataFrame, idCol: String = "doc_id",
      queryIdCol: String = "query_id", termCol: String = "term",
      k1: Double = 1.2, b: Double = 0.75): DataFrame =
    bm25TopKPrunedByQueryImpl(idx, queries, k, queryIdCol, termCol, k1, b,
      Some(allowed.select(col(idCol).as("doc_id"))))

  /** Routed-id count past which the planner's per-query routing filters
    * ([[bm25TopKPrunedByQueryImpl]]'s pruned/fallback id sets) switch
    * from an `isin` literal list to a broadcast semi-join against a
    * local id relation: an O(Q)-literal expression tree hits Catalyst
    * analysis cost past ~10⁴ ids long before execution cost — the
    * semi-join is the same semantics at constant plan size. */
  val RouteIdLiteralCap = 1024

  private def bm25TopKPrunedByQueryImpl(idx: LexIndex, queries: DataFrame,
      k: Int, queryIdCol: String, termCol: String,
      k1: Double, b: Double, allowed: Option[DataFrame]): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    val spark = idx.postings.sparkSession
    val qterms = queries
      .select(col(queryIdCol).as("query_id"), col(termCol).as("term"))
    // per-(query, distinct term) bound, bag multiplicity as weight;
    // unindexed terms drop (they score nothing on either path). ONE
    // bounded collect (∝ the query relation) replaces the r12 form's
    // three driver actions (suffix bounds, essential terms, df bound)
    val statRows = qterms
      .groupBy(col("query_id"), col("term"))
      .agg(count(lit(1)).as("__w"))
      .join(idx.termDf, Seq("term"))
      .withColumn("__ub", col("__w").cast("double") *
        log(((lit(idx.n) - col("df")).cast("double") + lit(0.5)) /
            (col("df").cast("double") + lit(0.5)) + lit(1.0)) *
        (col("max_tf").cast("double") * lit(k1 + 1.0)) /
        (col("max_tf").cast("double") + lit(k1 * (1.0 - b))))
      .select(col("query_id"), col("term"), col("df"), col("__ub"))
      .collect()
    val byScore = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score_q").desc, col("doc_id"))
    val qidField = qterms.schema("query_id")
    // routing filter: an isin literal list while the id count is small
    // (the common shape — a handful of uncertified queries), a broadcast
    // semi-join against a LOCAL id relation past RouteIdLiteralCap — a
    // RAG evaluation's query count grows with the corpus, and a 10⁴-
    // literal expression tree pays Catalyst analysis cost per plan node
    def restrictToIds(ids: Seq[Any]): DataFrame =
      if (ids.length <= RouteIdLiteralCap)
        qterms.filter(col("query_id").isin(ids: _*))
      else {
        val idSchema = org.apache.spark.sql.types.StructType(
          Seq(qidField.copy(name = "query_id")))
        val idRel = spark.createDataFrame(
          java.util.Arrays.asList(
            ids.map(org.apache.spark.sql.Row(_)): _*), idSchema)
        qterms.join(broadcast(idRel), Seq("query_id"), "left_semi")
      }
    // `everyQuery` = the id set covers every indexed query: skip the
    // routing filter entirely (unindexed-term rows drop in scoring
    // anyway), so the all-routed-direct shape costs exactly one exact
    // pass with no per-row routing predicate
    def fullTopK(ids: Seq[Any], everyQuery: Boolean): DataFrame =
      bm25ScoresByQueryOver(idx,
          if (everyQuery) qterms else restrictToIds(ids),
          "query_id", "term", k1, b, None, allowed)
        .withColumn("__rn", row_number().over(byScore))
        .filter(col("__rn") <= k)
        .select(col("query_id"), col("doc_id"), col("score_q"))
    if (statRows.isEmpty) // no query term is indexed: empty result
      return bm25ScoresByQuery(idx, qterms, k1 = k1, b = b).limit(0)
    // the per-query plan: essential prefix + its exact candidate bound +
    // the quantized suffix threshold; None = routed to exact scoring
    final case class QPlan(essential: Seq[String], suffixBoundQ: Long,
        candBound: Long)
    val plans: Map[Any, Option[QPlan]] =
      statRows.groupBy(_.get(0)).map { case (qid, rows) =>
        val terms = rows.map(r => (r.getString(1), r.getLong(2), r.getDouble(3)))
          .sortBy { case (t, _, ub) => (-ub, t) }
        val m = terms.length
        val totalDf = terms.map(_._2).sum.toDouble
        val totalUb = terms.map(_._3).sum
        val plan =
          if (m < 2) None // a 1-term query's candidate pass IS the scan
          else {
            var p = 0; var cDf = 0L; var cUb = 0.0
            while (p < m - 1 &&
                cDf + terms(p)._2 <= PrunePrefixDfBudget * totalDf) {
              cDf += terms(p)._2; cUb += terms(p)._3; p += 1
            }
            val suffixUb = totalUb - cUb
            if (p == 0 || suffixUb >= PruneFlatSuffixCutoff * totalUb) None
            else Some(QPlan(terms.take(p).map(_._1).toSeq,
              math.ceil(suffixUb * 1e6).toLong, cDf))
          }
        qid -> plan
      }
    val prunedPlans = plans.collect { case (qid, Some(pl)) => qid -> pl }
    if (prunedPlans.isEmpty) // every query routed direct: one exact pass
      return fullTopK(plans.keys.toSeq, everyQuery = true)
    // candidate pairs from the pruned queries' essential postings only;
    // the planner's df sums bound the pair count exactly, with zero
    // extra jobs — broadcast only when that bound fits (past it, an
    // all-frequent essential set falls back to the planner's shuffle
    // strategy instead of a corpus-sized driver broadcast). Under a
    // filter the bound only tightens (allowed ∩ postings ⊆ postings).
    val essSchema = org.apache.spark.sql.types.StructType(Seq(
      qidField.copy(name = "query_id"),
      org.apache.spark.sql.types.StructField("term",
        org.apache.spark.sql.types.StringType)))
    val essRows: Seq[org.apache.spark.sql.Row] = prunedPlans.toSeq.flatMap {
      case (qid, pl) => pl.essential.map(t =>
        org.apache.spark.sql.Row(qid, t))
    }
    val essential = spark.createDataFrame(
      java.util.Arrays.asList(essRows: _*), essSchema)
    val essTerms = prunedPlans.valuesIterator.flatMap(_.essential)
      .toSeq.distinct
    val candBound = prunedPlans.valuesIterator.map(_.candBound).sum
    // the allowed semi-join lands on the essential posting scan — only
    // allowed docs can become candidates, so certification (k ALLOWED
    // candidates, k-th beats the suffix bound) proves no unseen allowed
    // doc can enter: an allowed doc outside the candidates matches no
    // essential term and is bounded by the same suffix sum
    val essPostings = prunedPostings(idx, essTerms)
    val rawCand = allowed.fold(essPostings)(a =>
        essPostings.join(a, Seq("doc_id"), "left_semi"))
      .join(broadcast(essential), Seq("term"))
      .select(col("query_id"), col("doc_id")).distinct()
    val cand =
      if (candBound <= BroadcastCandidateCap) broadcast(rawCand) else rawCand
    val prunedIds = prunedPlans.keys.toSeq
    val scored = bm25ScoresByQueryOver(idx,
      restrictToIds(prunedIds),
      "query_id", "term", k1, b, Some(cand), allowed)
    // ONE evaluation of the candidate-scoring pass: the per-query top-k
    // is ≤ k × |queries| rows — COLLECT, decide the verdict locally,
    // return the certified rows as a local relation (the single-query
    // probe's convention). Leaving top/verdict as lazy subtrees would
    // re-run the whole posting scan on every caller action — the "two
    // posting passes worst case" claim would be false.
    val top = scored.withColumn("__rn", row_number().over(byScore))
      .filter(col("__rn") <= k)
      .select(col("query_id"), col("doc_id"), col("score_q"))
    val resultSchema = top.schema
    val topRows = top.collect()
    val byQuery = topRows.groupBy(_.get(0))
    val okIds = byQuery.collect { case (qid, rows)
      if rows.length == k &&
        rows.map(_.getLong(2)).min > prunedPlans(qid).suffixBoundQ => qid
    }.toSet
    val prunedRows = topRows.filter(r => okIds.contains(r.get(0)))
    val prunedPart = spark.createDataFrame(
      java.util.Arrays.asList(prunedRows: _*), resultSchema)
    // fallback: everything not certified re-scores FULLY — the exact
    // path, restricted to just those ids. The universe is EVERY query
    // with ≥ 1 indexed term (the planner's keys), NOT the queries that
    // produced candidates: a termDf row advertising a term with no
    // surviving postings (a stale statistic some future index variant
    // could produce — applyTombstones' df > 0 filter is what rules it
    // out today) would otherwise leave its query with zero candidates
    // and silently DROP it, even though its other terms score documents
    // under full scoring. Keying off the planner makes the losslessness
    // invariant structural instead of conventional: a no-candidate query
    // re-scores fully, never vanishes (InvertedIndexSpec's stale-termDf
    // adversarial spec pins this).
    val badIds = plans.keys.filterNot(okIds.contains).toSeq
    val fallbackPart =
      if (badIds.isEmpty) prunedPart.limit(0)
      else fullTopK(badIds, everyQuery = badIds.length == plans.size)
    prunedPart.unionByName(fallbackPart)
  }

  /** Exact-phrase top-k over a POSITIONAL index (`build(...,
    * withPositions = true)`): docs containing the contiguous token
    * sequence `phrase`, ranked by occurrence count (ties by doc_id).
    * The classic positional-intersection expressed relationally: each
    * phrase slot i matches posting positions p with anchor = p − i, and
    * an anchor where ALL slots match is one occurrence — repeated terms
    * in the phrase are handled for free because slots join
    * independently. Overlapping occurrences each count ("x x x"
    * contains "x x" twice).
    *
    * Scale: the posting scan prunes to the phrase terms' buckets (the
    * [[bm25Scores]] pruning), the slot relation is the broadcast side,
    * and positions explode ONLY for matched terms — cost ∝ the phrase
    * terms' posting sizes, never the corpus.
    */
  /** One-row health report over the artifact — the observability a
    * 100 TB index needs before anyone probes it: corpus stats (n, sum
    * dl), vocabulary size, posting volume, and the df distribution's
    * head/median/max (df skew is what decides whether the bucket
    * pruning still pays — a vocabulary dominated by one stop-term puts
    * most of the posting volume in one bucket). All bounded rollups of
    * the termDf/docLens relations; postings contribute one count.
    * `avgdl_q` and `p50_df` quantize ×1e6 (exact inputs, one division).
    */
  def stats(idx: LexIndex): DataFrame = {
    // empty/all-separator corpora report ZEROS, not NULLs — the health
    // report is the surface most likely to be pointed at a broken
    // artifact, and a monitoring consumer reads these as longs
    val termAgg = idx.termDf.agg(
      count(lit(1)).cast("long").as("n_terms"),
      coalesce(max(col("df")), lit(0L)).cast("long").as("max_df"),
      floor(coalesce(median(col("df")), lit(0.0)).cast("double")
        * lit(1000000.0)).cast("long").as("p50_df"))
    val postingAgg = idx.postings.agg(
      count(lit(1)).cast("long").as("n_postings"))
    termAgg.crossJoin(postingAgg)
      .withColumn("n_docs", lit(idx.n))
      .withColumn("sum_dl", lit(idx.sdl))
      .withColumn("avgdl_q",
        floor(lit(idx.avgdl) * lit(1000000.0)).cast("long"))
      .select(col("n_docs"), col("sum_dl"), col("avgdl_q"),
        col("n_terms"), col("n_postings"), col("max_df"), col("p50_df"))
  }

  /** Facet counts over a query's candidate set — the search-UI sidebar:
    * docs matching ANY query term, counted by a metadata facet column.
    * The candidate ids come from the pruned posting scan (distinct doc
    * ids of the query terms' postings — cost ∝ posting sizes), then one
    * broadcast-friendly join to the docs relation for the facet value.
    * Returns `(facet, n_docs)` sorted by count desc, facet.
    */
  def facetCounts(idx: LexIndex, docs: DataFrame, terms: Seq[String],
      facetCol: String, idCol: String = "doc_id"): DataFrame =
    facetCountsOver(idx, docs, terms, facetCol, idCol, None)

  /** [[facetCounts]] restricted to an allowed document set — the
    * multi-tenant sidebar (r15): facet counts over the TENANT's
    * candidates only. Without this, a filtered search UI pairs
    * tenant-correct rankings ([[bm25TopKAmong]]) with corpus-global
    * facet counts — a quiet leak: the sidebar's numbers reveal how many
    * documents OTHER tenants hold per facet. The allowed semi-join
    * rides the same pruned posting scan as the rankers, before the
    * candidate distinct, so disallowed docs never reach the count.
    */
  def facetCountsAmong(idx: LexIndex, docs: DataFrame, terms: Seq[String],
      facetCol: String, allowed: DataFrame,
      idCol: String = "doc_id"): DataFrame =
    facetCountsOver(idx, docs, terms, facetCol, idCol,
      Some(allowed.select(col(idCol).as("doc_id"))))

  // one candidate+count definition for the filtered and unfiltered
  // facets; None compiles to the exact plan facetCounts always had
  private def facetCountsOver(idx: LexIndex, docs: DataFrame,
      terms: Seq[String], facetCol: String, idCol: String,
      allowed: Option[DataFrame]): DataFrame = {
    require(terms.nonEmpty, "empty query")
    val spark = idx.postings.sparkSession
    import spark.implicits._
    val pruned = prunedPostings(idx, terms)
    val candidates = allowed.fold(pruned)(a =>
        pruned.join(a, Seq("doc_id"), "left_semi"))
      .join(broadcast(terms.distinct.toDF("term")), Seq("term"))
      .select(col("doc_id")).distinct()
    docs.select(col(idCol).as("doc_id"), col(facetCol).as("facet"))
      .join(candidates, Seq("doc_id"))
      .groupBy(col("facet"))
      .agg(count(lit(1)).cast("long").as("n_docs"))
      .orderBy(col("n_docs").desc, col("facet"))
  }

  /** Query-likelihood top-k with Dirichlet smoothing (Zhai & Lafferty
    * 2001) — the language-modeling ranker beside [[bm25TopK]], over the
    * SAME artifact: score(d) = Σ_q log((tf + μ·p(t|C)) / (dl + μ)),
    * p(t|C) = ctf/|C| the collection term frequency ratio. Documents
    * missing a query term still pay that term's smoothed mass, so the
    * score needs dl for EVERY candidate doc — the matched-docs relation
    * joins docLens once, and per-doc missing terms contribute the
    * closed-form log(μ·p(t|C)/(dl+μ)) without materializing the
    * doc×term grid: Σ_matched log(tf+μp) − Σ_matched log(μp) +
    * Σ_all log(μp) − m·log(dl+μ) regrouped as below.
    *
    * Exactness discipline: per-(doc,term) float terms cross the
    * exact-decimal sum boundary, the quantized score (×1e6, floor)
    * ranks with doc-id tiebreak — the bm25 convention, so a QL probe
    * against the persisted artifact is engine-reproducible.
    *
    * The collection stats (ctf per query term, |C| = sdl) are bounded
    * lookups on termDf-joined postings; the probe prunes to the query
    * terms' buckets exactly like BM25. Ranked over the CANDIDATE set
    * (docs matching ≥ 1 query term) — the standard serving cut; pure QL
    * would also order no-match docs by length alone, which no top-k
    * system returns.
    */
  def qlTopK(idx: LexIndex, terms: Seq[String], k: Int,
      mu: Double = 2000.0): DataFrame =
    qlTopKOver(idx, terms, k, mu, None)

  /** [[qlTopK]] restricted to an allowed document set — the filtered
    * serving verb on the language-modeling ranker (the
    * [[bm25TopKAmong]] contract): the collection statistics (ctf, |C|)
    * stay CORPUS-wide — the filter narrows who may be returned, never
    * what relevance means — and the allowed relation semi-joins the
    * pruned posting scan before any per-doc scoring work, so scored
    * volume is ∝ |allowed ∩ matched postings|.
    */
  def qlTopKAmong(idx: LexIndex, terms: Seq[String], k: Int,
      allowed: DataFrame, idCol: String = "doc_id",
      mu: Double = 2000.0): DataFrame =
    qlTopKOver(idx, terms, k, mu,
      Some(allowed.select(col(idCol).as("doc_id"))))

  /** Batch QL: rank MANY queries in one posting pass — the
    * [[bm25ScoresByQuery]] many-queries-one-scan organization on the
    * Dirichlet ranker (r15; before this, a RAG evaluation ranking by QL
    * paid one Spark job per query through [[qlTopK]]'s Seq[String]
    * shape). `queries` is a (queryIdCol, termCol) relation, one row per
    * query-term OCCURRENCE (bag semantics, like the BM25 batch form);
    * the result is (query_id, doc_id, score_q), ≤ k rows per query,
    * each query's rows EXACTLY what [[qlTopK]] returns for its term bag
    * alone (same exact-decimal boundary, same BigDecimal collection
    * constant, same tiebreak — spec- and gate-pinned).
    *
    * Scale: the query relation is the small side by contract — its
    * per-(query, term) statistics come from ONE bounded collect (the
    * batch-WAND planner's discipline) and broadcast back; the posting
    * scan prunes to the union of the queries' term buckets, so cost ∝
    * matched postings, never corpus × queries. Collection stats (ctf,
    * |C|) are corpus-wide per the QL contract. Queries with NO term in
    * the collection return no rows (the single-query form refuses
    * loudly; a batch must not die for one bad query).
    */
  def qlTopKByQuery(idx: LexIndex, queries: DataFrame, k: Int,
      queryIdCol: String = "query_id", termCol: String = "term",
      mu: Double = 2000.0): DataFrame =
    qlTopKByQueryOver(idx, queries, k, queryIdCol, termCol, mu, None)

  /** [[qlTopKByQuery]] restricted to an allowed document set — the
    * multi-tenant batch shape on the LM ranker ([[qlTopKAmong]]'s
    * placement: collection stats stay corpus-wide, the semi-join lands
    * on the pruned posting scan before any per-doc scoring).
    */
  def qlTopKByQueryAmong(idx: LexIndex, queries: DataFrame, k: Int,
      allowed: DataFrame, idCol: String = "doc_id",
      queryIdCol: String = "query_id", termCol: String = "term",
      mu: Double = 2000.0): DataFrame =
    qlTopKByQueryOver(idx, queries, k, queryIdCol, termCol, mu,
      Some(allowed.select(col(idCol).as("doc_id"))))

  private def qlTopKByQueryOver(idx: LexIndex, queries: DataFrame, k: Int,
      queryIdCol: String, termCol: String, mu: Double,
      allowed: Option[DataFrame]): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    require(mu > 0.0, s"mu must be > 0, got $mu")
    require(idx.sdl > 0, "empty collection")
    val spark = idx.postings.sparkSession
    import spark.implicits._
    val qterms = queries
      .select(col(queryIdCol).as("query_id"), col(termCol).as("term"))
    val qidField = qterms.schema("query_id")
    // the empty-result schema carries the ARTIFACT's native doc-id type
    // (doclens is the smallest relation carrying it — the delete()
    // discipline): a hardcoded LongType here gave a string-keyed index's
    // all-dead-queries batch a DIFFERENT schema than its non-empty
    // results, breaking downstream unions (r15 ADVICE)
    val resultSchema = org.apache.spark.sql.types.StructType(Seq(
      qidField.copy(name = "query_id"),
      org.apache.spark.sql.types.StructField("doc_id",
        idx.docLens.schema("doc_id").dataType),
      org.apache.spark.sql.types.StructField("score_q",
        org.apache.spark.sql.types.LongType)))
    // ONE bounded collect (∝ the query relation): per-(query, distinct
    // term) bag weights joined with the pruned scan's collection stats
    val wdf = qterms.groupBy(col("query_id"), col("term"))
      .agg(count(lit(1)).as("__qw"))
    val termList = wdf.select(col("term")).distinct().as[String]
      .collect().toSeq
    require(termList.nonEmpty, "empty query relation")
    val pruned = prunedPostings(idx, termList)
    val ctf = termList.toDF("term")
      .join(pruned.groupBy(col("term")).agg(sum(col("tf")).as("__ctf")),
        Seq("term"), "left")
    val statRows = wdf.join(ctf, Seq("term"))
      .select(col("query_id"), col("term"), col("__qw"),
        (coalesce(col("__ctf"), lit(0L)).cast("double") /
          lit(idx.sdl.toDouble)).as("__pc"))
      .collect()
    // per-query constants, derived DRIVER-SIDE with qlTopKOver's exact
    // BigDecimal discipline so the batch scores are bit-equal per query
    val live = statRows.filter(_.getDouble(3) > 0.0)
    if (live.isEmpty)
      return spark.createDataFrame(
        java.util.Collections.emptyList[org.apache.spark.sql.Row](),
        resultSchema)
    val constRows: Seq[org.apache.spark.sql.Row] =
      live.groupBy(_.get(0)).map { case (qid, rows) =>
        val a = rows.map(r =>
          BigDecimal(math.log(mu * r.getDouble(3)))
            .setScale(12, BigDecimal.RoundingMode.HALF_UP) * r.getLong(2))
          .sum.toDouble
        org.apache.spark.sql.Row(qid, a, rows.map(_.getLong(2)).sum)
      }.toSeq
    val constSchema = org.apache.spark.sql.types.StructType(Seq(
      qidField.copy(name = "query_id"),
      org.apache.spark.sql.types.StructField("__a",
        org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("__m",
        org.apache.spark.sql.types.LongType)))
    val consts = spark.createDataFrame(
      java.util.Arrays.asList(constRows: _*), constSchema)
    val pcSchema = org.apache.spark.sql.types.StructType(Seq(
      qidField.copy(name = "query_id"),
      org.apache.spark.sql.types.StructField("term",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("__qw",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("__pc",
        org.apache.spark.sql.types.DoubleType)))
    val pcDf = spark.createDataFrame(
      java.util.Arrays.asList(live.map(r => org.apache.spark.sql.Row(
        r.get(0), r.getString(1), r.getLong(2), r.getDouble(3))): _*),
      pcSchema)
    // matched (doc, query, term) rows: the only per-doc work; the
    // allowed restriction lands on the pruned scan, after the
    // corpus-wide collection stats above, before scoring
    val matched = allowed.fold(pruned)(a =>
        pruned.join(a, Seq("doc_id"), "left_semi"))
      .join(broadcast(pcDf), Seq("term"))
      .join(idx.docLens, Seq("doc_id"))
      .withColumn("__adj",
        col("__qw").cast("double") *
        log((col("tf").cast("double") + lit(mu) * col("__pc")) /
            (lit(mu) * col("__pc"))))
    val scored = matched.groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("__adj").cast(
          org.apache.spark.sql.types.DecimalType(27, 12)))
        .cast("double").as("__s"), first(col("dl")).as("__dl"))
      .join(broadcast(consts), Seq("query_id"))
      .select(col("query_id"), col("doc_id"),
        floor((col("__s") + col("__a") -
          col("__m").cast("double") *
            log(col("__dl").cast("double") + lit(mu)))
          * lit(1000000.0)).cast("long").as("score_q"))
    val byScore = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("score_q").desc, col("doc_id"))
    scored.withColumn("__rn", row_number().over(byScore))
      .filter(col("__rn") <= k)
      .select(col("query_id"), col("doc_id"), col("score_q"))
  }

  private def qlTopKOver(idx: LexIndex, terms: Seq[String], k: Int,
      mu: Double, allowed: Option[DataFrame]): DataFrame = {
    require(terms.nonEmpty, "empty query")
    require(mu > 0.0, s"mu must be > 0, got $mu")
    require(idx.sdl > 0, "empty collection")
    val spark = idx.postings.sparkSession
    import spark.implicits._
    // BAG semantics, like bm25Scores: a repeated query term weighs its
    // occurrences (qw = multiplicity), so the two rankers agree on what
    // a query IS
    val weights = terms.groupBy(identity)
      .map { case (t, g) => (t, g.size.toLong) }.toSeq
    val pruned = prunedPostings(idx, terms)
    // ONE collection-stat pass: ctf per distinct query term, collected
    // once; the broadcast side below is rebuilt from these driver rows,
    // never by re-running the aggregation
    val ctfRows = weights.toDF("term", "__qw")
      .join(pruned.groupBy(col("term"))
        .agg(sum(col("tf")).as("__ctf")), Seq("term"), "left")
      .select(col("term"), col("__qw"),
        (coalesce(col("__ctf"), lit(0L)).cast("double") /
          lit(idx.sdl.toDouble)).as("__pc"))
      .collect()
    // Σ over query OCCURRENCES of log(μ·p(t|C)) for terms PRESENT in the
    // collection — absent terms contribute -inf in pure QL,
    // conventionally dropped (they rank no document above another).
    // Each distinct term's log rounds to DECIMAL(·,12) once and scales
    // by its multiplicity — exact BigDecimal arithmetic, order-free, and
    // an oracle replaying ln→decimal→weighted-sum lands on the
    // identical double
    val live = ctfRows.filter(_.getDouble(2) > 0.0)
    val sumLogMuPc = live
      .map(r => BigDecimal(math.log(mu * r.getDouble(2)))
        .setScale(12, BigDecimal.RoundingMode.HALF_UP) * r.getLong(1))
      .sum.toDouble
    val mLive = live.map(_.getLong(1)).sum
    require(mLive > 0, s"no query term occurs in the collection: $terms")
    val pcDf = live.map(r => (r.getString(0), r.getLong(1), r.getDouble(2)))
      .toSeq.toDF("term", "__qw", "__pc")
    // matched (doc, term) rows: the only per-doc work. The allowed
    // restriction lands HERE — after the corpus-wide collection-stat
    // pass above (ctf must not see the filter), before scoring
    val matched = allowed.fold(pruned)(a =>
        pruned.join(a, Seq("doc_id"), "left_semi"))
      .join(broadcast(pcDf), Seq("term"))
      .join(idx.docLens, Seq("doc_id"))
      .withColumn("__adj",
        col("__qw").cast("double") *
        log((col("tf").cast("double") + lit(mu) * col("__pc")) /
            (lit(mu) * col("__pc"))))
    matched.groupBy(col("doc_id"))
      .agg(
        floor((sum(col("__adj").cast(
            org.apache.spark.sql.types.DecimalType(27, 12)))
          .cast("double") + lit(sumLogMuPc) -
          lit(mLive.toDouble) * log(first(col("dl")).cast("double") + lit(mu)))
          * lit(1000000.0)).cast("long").as("score_q"))
      .orderBy(col("score_q").desc, col("doc_id"))
      .limit(k)
  }

  /** The shared anchor relation behind [[phraseTopK]] and
    * [[phraseSnippets]]: one row per (doc_id, anchor) where EVERY phrase
    * slot matched — one definition, so the hit list and its snippets can
    * never disagree. Also the home of the positional-surface refusal
    * contracts.
    */
  private def phraseAnchors(idx: LexIndex, phrase: Seq[String],
      allowed: Option[DataFrame] = None): DataFrame = {
    require(phrase.nonEmpty, "empty phrase")
    require(idx.postings.columns.contains("positions"),
      "phrase search needs a positional index: build(..., withPositions = true)")
    val spark = idx.postings.sparkSession
    import spark.implicits._
    val qdf = phrase.zipWithIndex.toDF("term", "slot")
    val pruned = prunedPostings(idx, phrase)
    // the allowed restriction lands on the pruned scan BEFORE positions
    // explode — disallowed docs never inflate the anchor shuffle
    allowed.fold(pruned)(a => pruned.join(a, Seq("doc_id"), "left_semi"))
      .join(broadcast(qdf), Seq("term"))
      .select(col("doc_id"), col("slot"),
        explode(col("positions")).as("pos"))
      .withColumn("anchor", col("pos") - col("slot"))
      .filter(col("anchor") >= 0)
      .groupBy(col("doc_id"), col("anchor"))
      .agg(count(lit(1)).as("__hits"))
      .filter(col("__hits") === phrase.length)
      .select(col("doc_id"), col("anchor"))
  }

  def phraseTopK(idx: LexIndex, phrase: Seq[String], k: Int): DataFrame =
    phraseTopKRanked(phraseAnchors(idx, phrase), k)

  /** [[phraseTopK]] restricted to an allowed document set — pre-filter
    * semantics (rank among allowed; occurrence counts are per-doc facts
    * a filter cannot change): the semi-join rides the pruned posting
    * scan before the positions explode and the anchor intersection.
    */
  def phraseTopKAmong(idx: LexIndex, phrase: Seq[String], k: Int,
      allowed: DataFrame, idCol: String = "doc_id"): DataFrame =
    phraseTopKRanked(phraseAnchors(idx, phrase,
      Some(allowed.select(col(idCol).as("doc_id")))), k)

  // one ranking cut for the filtered and unfiltered phrase probes — the
  // qlTopKOver/proximityTopKOver discipline, so a tiebreak change
  // cannot desynchronize the two entry points
  private def phraseTopKRanked(anchors: DataFrame, k: Int): DataFrame =
    anchors
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_occ"))
      .orderBy(col("n_occ").desc, col("doc_id"))
      .limit(k)

  /** Batch phrase search: rank MANY phrases in one positional posting
    * pass — the [[bm25TopKPrunedByQuery]]/[[qlTopKByQuery]] organization
    * on the positional surface (r16; before this, a RAG evaluation
    * ranking by phrase paid one pruned posting scan per query — the
    * measured batch amortization is 4× at 8 queries and compounds at
    * eval scale). `queries` is a (queryIdCol, slotCol, termCol)
    * relation, one row per phrase SLOT: slot `i` holds the phrase's
    * i-th term, slots 0..len−1 contiguous per query (validated in the
    * one bounded collect — phrases are ORDERED, so the bag shape of the
    * other ByQuery verbs cannot carry them). Returns
    * (query_id, doc_id, n_occ), ≤ k rows per query, each query's rows
    * EXACTLY [[phraseTopK]]'s for its phrase (same anchor intersection,
    * same (n_occ desc, doc_id) cut — spec- and gate-pinned). A query
    * whose terms are unindexed returns no rows (the batch must not die
    * for it).
    *
    * Scale: ONE posting scan pruned to the union of all queries' term
    * buckets; per-(query, doc, anchor) work only for matched postings
    * (the query relation broadcasts); the rank cut is a query-
    * partitioned window over the ≤ matched-docs relation — never a
    * global window.
    */
  def phraseTopKByQuery(idx: LexIndex, queries: DataFrame, k: Int,
      queryIdCol: String = "query_id", termCol: String = "term",
      slotCol: String = "slot"): DataFrame =
    phraseTopKByQueryOver(idx, queries, k, queryIdCol, termCol, slotCol,
      None)

  /** [[phraseTopKByQuery]] restricted to an allowed document set — the
    * multi-tenant batch shape on the positional surface
    * ([[phraseTopKAmong]]'s placement: the semi-join rides the pruned
    * posting scan BEFORE the positions explode and the anchor
    * intersection, so disallowed docs never inflate the anchor
    * shuffle).
    */
  def phraseTopKByQueryAmong(idx: LexIndex, queries: DataFrame, k: Int,
      allowed: DataFrame, idCol: String = "doc_id",
      queryIdCol: String = "query_id", termCol: String = "term",
      slotCol: String = "slot"): DataFrame =
    phraseTopKByQueryOver(idx, queries, k, queryIdCol, termCol, slotCol,
      Some(allowed.select(col(idCol).as("doc_id"))))

  // the shared batch anchor relation behind [[phraseTopKByQuery]] and
  // [[phraseSnippetsByQuery]] — (anchors (query_id, doc_id, anchor),
  // lens (query_id, __len)) — one definition so a batch hit list and
  // its snippets can never disagree (the phraseAnchors discipline)
  private def phraseAnchorsByQuery(idx: LexIndex, queries: DataFrame,
      queryIdCol: String, termCol: String, slotCol: String,
      allowed: Option[DataFrame]): (DataFrame, DataFrame) = {
    require(idx.postings.columns.contains("positions"),
      "phrase search needs a positional index: build(..., withPositions = true)")
    val spark = idx.postings.sparkSession
    val q = queries.select(col(queryIdCol).as("query_id"),
      col(slotCol).cast("int").as("slot"), col(termCol).as("term"))
    // ONE bounded collect (∝ the query relation — the batch-WAND
    // planner's discipline): validates every query is a contiguous
    // 0..len−1 slot sequence and yields the per-query phrase lengths
    // the anchor intersection tests against
    val qRows = q.collect()
    require(qRows.nonEmpty, "empty query relation")
    // loud slot-contract message, never an opaque NPE from getInt /
    // getString below: name the offending row's nulls (ADVICE r16)
    qRows.foreach { r =>
      require(!r.isNullAt(0) && !r.isNullAt(1) && !r.isNullAt(2),
        s"query relation row (query_id=${r.get(0)}, slot=${r.get(1)}, " +
          s"term=${r.get(2)}) carries a null — every row needs non-null " +
          "query_id, slot, and term (one term per slot)")
    }
    val byQuery = qRows.groupBy(_.get(0))
    byQuery.foreach { case (qid, rows) =>
      val slots = rows.map(_.getInt(1)).sorted.toSeq
      require(slots == (0 until rows.length),
        s"query $qid: slots must be exactly 0..${rows.length - 1} " +
          s"(one term per slot), got $slots")
    }
    val qidField = q.schema("query_id")
    val lenSchema = org.apache.spark.sql.types.StructType(Seq(
      qidField.copy(name = "query_id"),
      org.apache.spark.sql.types.StructField("__len",
        org.apache.spark.sql.types.LongType)))
    val lens = spark.createDataFrame(
      java.util.Arrays.asList(byQuery.toSeq.map { case (qid, rows) =>
        org.apache.spark.sql.Row(qid, rows.length.toLong) }: _*),
      lenSchema)
    val pruned = prunedPostings(idx,
      qRows.map(_.getString(2)).distinct.toSeq)
    // the single-query anchor construction per (query, doc): every
    // phrase slot matching at the same anchor ⟺ the phrase occurs there
    val anchors =
      allowed.fold(pruned)(a => pruned.join(a, Seq("doc_id"), "left_semi"))
        .join(broadcast(q), Seq("term"))
        .select(col("query_id"), col("doc_id"), col("slot"),
          explode(col("positions")).as("pos"))
        .withColumn("anchor", col("pos") - col("slot"))
        .filter(col("anchor") >= 0)
        .groupBy(col("query_id"), col("doc_id"), col("anchor"))
        .agg(count(lit(1)).as("__hits"))
        .join(broadcast(lens), Seq("query_id"))
        .filter(col("__hits") === col("__len"))
        .select(col("query_id"), col("doc_id"), col("anchor"))
    (anchors, lens)
  }

  private def phraseTopKByQueryOver(idx: LexIndex, queries: DataFrame,
      k: Int, queryIdCol: String, termCol: String, slotCol: String,
      allowed: Option[DataFrame]): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    val (anchors, _) = phraseAnchorsByQuery(idx, queries, queryIdCol,
      termCol, slotCol, allowed)
    anchors
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_occ"))
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("n_occ").desc, col("doc_id"))))
      .filter(col("__rn") <= k)
      .select(col("query_id"), col("doc_id"), col("n_occ"))
  }

  /** Batch phrase snippets: [[phraseSnippets]] for MANY phrases in one
    * positional posting pass — the evidence panel beside
    * [[phraseTopKByQuery]]'s batch hit list (a RAG UI shows snippets
    * for every query of an evaluation; per-query serving paid one scan
    * each). `queries` is the (queryIdCol, slotCol, termCol) relation of
    * the batch hit verb; per query the rows are EXACTLY
    * [[phraseSnippets]]' for its phrase (same anchor relation — shared
    * construction — same (n_occ desc, doc_id) cut, same slice
    * coordinates; the slice width is the query's OWN phrase length
    * + 2·context). Only the ≤ k·|Q| result docs join back to the
    * corpus text (broadcast against the docs relation), so full
    * documents never ride the posting shuffle. Returns
    * (query_id, doc_id, n_occ, first_pos, snippet).
    */
  def phraseSnippetsByQuery(idx: LexIndex, docs: DataFrame,
      queries: DataFrame, k: Int, context: Int = 3,
      idCol: String = "doc_id", textCol: String = "text",
      queryIdCol: String = "query_id", termCol: String = "term",
      slotCol: String = "slot"): DataFrame =
    phraseSnippetsByQueryOver(idx, docs, queries, k, context, idCol,
      textCol, queryIdCol, termCol, slotCol, None)

  /** [[phraseSnippetsByQuery]] restricted to an allowed document set —
    * the multi-tenant batch evidence panel ([[phraseSnippetsAmong]]'s
    * placement: the semi-join rides the pruned posting scan inside the
    * shared anchor construction, before the positions explode, so text
    * is never sliced from a doc the tenant cannot see).
    */
  def phraseSnippetsByQueryAmong(idx: LexIndex, docs: DataFrame,
      queries: DataFrame, k: Int, allowed: DataFrame, context: Int = 3,
      idCol: String = "doc_id", textCol: String = "text",
      queryIdCol: String = "query_id", termCol: String = "term",
      slotCol: String = "slot"): DataFrame =
    phraseSnippetsByQueryOver(idx, docs, queries, k, context, idCol,
      textCol, queryIdCol, termCol, slotCol,
      Some(allowed.select(col(idCol).as("doc_id"))))

  private def phraseSnippetsByQueryOver(idx: LexIndex, docs: DataFrame,
      queries: DataFrame, k: Int, context: Int, idCol: String,
      textCol: String, queryIdCol: String, termCol: String,
      slotCol: String, allowed: Option[DataFrame]): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    require(context >= 0, s"context must be >= 0, got $context")
    val (anchors, lens) = phraseAnchorsByQuery(idx, queries, queryIdCol,
      termCol, slotCol, allowed)
    val top = anchors
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_occ"),
        min(col("anchor")).cast("long").as("first_pos"))
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("n_occ").desc, col("doc_id"))))
      .filter(col("__rn") <= k)
      .join(broadcast(lens), Seq("query_id"))
      .select(col("query_id"), col("doc_id"), col("n_occ"),
        col("first_pos"), col("__len"))
    // join on the BARE doc_id FIRST (raw text rides through the
    // broadcast probe), then tokenize only the ≤ k·|Q| matched rows —
    // tokenizing below the join would split/filter EVERY corpus
    // document per batch serve, a corpus-CPU pass the posting-pruned
    // anchor construction upstream exists to avoid (r16 weak mark)
    docs
      .select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .join(broadcast(top), Seq("doc_id"))
      .withColumn("__toks",
        filter(split(col("__text"), " "), t => length(t) > 0))
      .withColumn("__from",
        greatest(col("first_pos") - context, lit(0L)) + 1) // 1-based slice
      .withColumn("snippet", array_join(
        slice(col("__toks"), col("__from").cast("int"),
          (col("__len") + lit(2L * context)).cast("int")), " "))
      .select(col("query_id"), col("doc_id"), col("n_occ"),
        col("first_pos"), col("snippet"))
      .orderBy(col("query_id"), col("n_occ").desc, col("doc_id"))
  }

  /** "Did you mean": for each query string, the top-k vocabulary terms
    * within edit distance 1, ranked by (distance, document frequency
    * desc, term) — the query-correction serving piece over the index's
    * own term dictionary. Candidates come from [[EdJoin.deletionKeys]]
    * symmetric-delete blocking (lev ≤ 1 ⟺ the 1-deletion neighborhoods
    * incl. self intersect), verified by real `levenshtein`, so hash
    * collisions in the blocking cannot surface. Returns
    * `(query, term, dist, df, rn)`.
    *
    * Scale: the dictionary side explodes ∝ vocabulary × term length —
    * a bounded RELATION pass (termDf, never postings or corpus); the
    * query side is the broadcast side by construction.
    */
  def suggestTerms(idx: LexIndex, queries: Seq[String], k: Int = 3)
      : DataFrame =
    suggestRank(suggestCandidates(idx, queries), k)

  /** [[suggestTerms]] restricted to an allowed document set — the
    * multi-tenant "did you mean" (r15): the unfiltered probe serves the
    * CORPUS-wide vocabulary with corpus-wide dfs, so a tenant could be
    * offered terms held ONLY by other tenants' documents — vocabulary
    * itself is a disclosure (the facetCountsAmong lesson one surface
    * over). Candidate generation still rides the persisted dictionary's
    * blocking (keys are lookup metadata, nothing is returned from
    * them); each candidate's df is then RE-DERIVED over the allowed
    * documents from the bucket-pruned posting scan, and terms with zero
    * allowed df drop before ranking — a suggestion is only ever a term
    * the tenant's own documents contain, ranked by the tenant's own
    * frequencies. With allowed = everything the re-derived dfs ARE the
    * corpus dfs, so the result reduces to [[suggestTerms]] bit-for-bit
    * (spec-pinned).
    *
    * Scale: candidates are bounded by queries × edit-1 dictionary hits
    * (one bounded collect); their posting scan prunes to the candidate
    * terms' buckets, so cost ∝ the candidates' posting sizes ∩ allowed
    * — the bm25 probe family's profile, never the corpus.
    */
  def suggestTermsAmong(idx: LexIndex, queries: Seq[String], k: Int,
      allowed: DataFrame, idCol: String = "doc_id"): DataFrame = {
    val spark = idx.postings.sparkSession
    import spark.implicits._
    val cand = suggestCandidates(idx, queries)
      .select(col("query"), col("term"), col("dist"))
    val terms = cand.select(col("term")).distinct()
      .as[String].collect().sorted.toSeq
    if (terms.isEmpty) return suggestRank(cand.withColumn("df", lit(0L)), k)
    val adf = prunedPostings(idx, terms)
      .join(broadcast(terms.toDF("term")), Seq("term"))
      .join(allowed.select(col(idCol).as("doc_id")), Seq("doc_id"),
        "left_semi")
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    suggestRank(cand.join(adf, Seq("term")), k) // inner: 0-df terms drop
  }

  /** The candidate half of the suggest probe — (query, term, dist ≤ 1,
    * df) via symmetric-delete blocking over the persisted dictionary
    * (or its documented fallbacks), shared by the filtered and
    * unfiltered serves so the blocking cannot drift between them.
    */
  private def suggestCandidates(idx: LexIndex,
      queries: Seq[String]): DataFrame = {
    require(queries.nonEmpty, "no query strings given")
    val spark = idx.postings.sparkSession
    import spark.implicits._
    // query keys AND their buckets derive DRIVER-SIDE
    // (EdJoin.deletionKeyHashes — the exact-parity twin of the Column
    // form, spec-pinned): the probe's query relation is a pure local
    // table and bucket pruning costs zero Spark jobs — the r12 probe
    // paid one collect job just to learn which partitions to read
    val qRows = queries.distinct
      .flatMap(qs => EdJoin.deletionKeyHashes(qs).map(h => (qs, h)))
    val q = qRows.toDF("query", "__qk")
    // an artifact-loaded index serves the PERSISTED dictionary: the probe
    // prunes to the query keys' buckets (the bm25 pruning shape) and pays
    // zero vocabulary explode. A dictionary carrying df (r13 layout)
    // ranks with NO termDf join and NO aggregation — load() already
    // merged append deltas' partial dfs (or proved the artifact
    // single-delta, the r15 ledger), so rows are unique per (term, key)
    // and the fast path is a bare pruned scan. A pre-df dictionary
    // (legacy artifact) or a tombstone-adjusted index (applyTombstones
    // projects the stale dfs away) restores df through the termDf join.
    // A build-only index derives the dictionary per call — correct,
    // just unamortized.
    val dict = idx.suggestKeys match {
      case Some(sk) =>
        val m = idx.suggestBucketCount.toLong
        val buckets = qRows
          .map(t => (((t._2 % m) + m) % m).toInt)
          .distinct
        val pruned = sk.filter(col("bucket").isin(buckets: _*))
        if (sk.columns.contains("df"))
          pruned.select(col("term"), col("__qk"), col("df"))
        else
          pruned.select(col("term"), col("__qk"))
            .join(idx.termDf.select(col("term"), col("df")), Seq("term"))
      case None =>
        idx.termDf
          .select(col("term"), col("df"), explode(EdJoin.deletionKeys(
            col("term"))).as("__qk"))
    }
    dict.join(broadcast(q), Seq("__qk"))
      .select(col("query"), col("term"), col("df")).distinct()
      .withColumn("dist", levenshtein(col("query"), col("term")).cast("long"))
      .filter(col("dist") <= 1)
  }

  // the shared ranking cut of the suggest serves: (dist, df desc, term)
  private def suggestRank(cand: DataFrame, k: Int): DataFrame =
    cand
      .withColumn("rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("query"))
          .orderBy(col("dist"), col("df").desc, col("term"))))
      .filter(col("rn") <= k)
      .select(col("query"), col("term"), col("dist"), col("df"), col("rn"))
      .orderBy(col("query"), col("rn"))

  /** Proximity top-k over a positional index: docs where ALL `terms`
    * co-occur within a window of `window` tokens, ranked by the number
    * of such co-occurrences. The relational min-window formulation: lay
    * the query terms' positions on one per-doc timeline (ONLY their
    * postings — pruned scan, positions explode for matched terms alone),
    * track each term's latest position with a conditional running max,
    * and every timeline row where all maxes are live and
    * `pos − min(maxes) < window` closes one co-occurrence window. One
    * per-doc ordered window pass over the query terms' occurrence
    * counts — never the corpus, never all position pairs.
    *
    * `terms` must be distinct (bag proximity is ill-defined — use
    * [[phraseTopK]] for repeated-term patterns); `window` ≥ the term
    * count, else no window can hold them.
    */
  def proximityTopK(idx: LexIndex, terms: Seq[String], window: Int,
      k: Int): DataFrame =
    proximityTopKOver(idx, terms, window, k, None)

  /** [[proximityTopK]] restricted to an allowed document set — the
    * [[phraseTopKAmong]] placement: the semi-join rides the pruned scan
    * before the positions explode and the per-doc window pass.
    */
  def proximityTopKAmong(idx: LexIndex, terms: Seq[String], window: Int,
      k: Int, allowed: DataFrame, idCol: String = "doc_id"): DataFrame =
    proximityTopKOver(idx, terms, window, k,
      Some(allowed.select(col(idCol).as("doc_id"))))

  private def proximityTopKOver(idx: LexIndex, terms: Seq[String],
      window: Int, k: Int, allowed: Option[DataFrame]): DataFrame = {
    require(terms.nonEmpty, "empty term set")
    require(terms.distinct == terms, s"terms must be distinct: $terms")
    require(window >= terms.length,
      s"window $window cannot hold ${terms.length} distinct terms")
    require(idx.postings.columns.contains("positions"),
      "proximity search needs a positional index: build(..., withPositions = true)")
    val spark = idx.postings.sparkSession
    import spark.implicits._
    val pruned = prunedPostings(idx, terms)
    val timeline = allowed.fold(pruned)(a =>
        pruned.join(a, Seq("doc_id"), "left_semi"))
      .join(broadcast(terms.toDF("term")), Seq("term"))
      .select(col("doc_id"), col("term"), explode(col("positions")).as("pos"))
    val byPos = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val lasts = terms.zipWithIndex.map { case (t, i) =>
      max(when(col("term") === t, col("pos"))).over(byPos).as(s"__l$i")
    }
    val lastCols = terms.indices.map(i => col(s"__l$i"))
    timeline
      .select(col("doc_id") +: col("pos") +: lasts: _*)
      .filter(lastCols.map(_.isNotNull).reduce(_ && _))
      .filter(col("pos") - least(lastCols: _*) < window)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_windows"))
      .orderBy(col("n_windows").desc, col("doc_id"))
      .limit(k)
  }

  /** Batch proximity search: rank MANY term sets in one positional
    * posting pass — the [[phraseTopKByQuery]] organization on the
    * bounded-span operator. `queries` is a (queryIdCol, termCol)
    * relation, one row per query term (terms DISTINCT per query — the
    * single-query contract; bag proximity is ill-defined); `window` is
    * shared by the batch (a per-query window would change the verb's
    * type for a parameter evaluations never vary within a run). Returns
    * (query_id, doc_id, n_windows), ≤ k rows per query, each query's
    * rows EXACTLY [[proximityTopK]]'s for its term set.
    *
    * The relational min-window formulation generalizes by slotting each
    * query's terms 0..t−1 (sorted order — the co-occurrence count is
    * symmetric in the terms, so any deterministic order serves) and
    * running T = max(t) conditional running maxes over the per-
    * (query, doc) merged timeline; a row closes a window when its
    * query's OWN t slots (an array slice — slots past t stay null
    * forever and must not veto) are all live within `window`. Still one
    * ordered pass over matched postings — never position pairs, never
    * the corpus.
    */
  def proximityTopKByQuery(idx: LexIndex, queries: DataFrame, window: Int,
      k: Int, queryIdCol: String = "query_id",
      termCol: String = "term"): DataFrame =
    proximityTopKByQueryOver(idx, queries, window, k, queryIdCol, termCol,
      None)

  /** [[proximityTopKByQuery]] restricted to an allowed document set —
    * the semi-join rides the pruned scan before the positions explode
    * and the per-(query, doc) window pass ([[proximityTopKAmong]]'s
    * placement).
    */
  def proximityTopKByQueryAmong(idx: LexIndex, queries: DataFrame,
      window: Int, k: Int, allowed: DataFrame, idCol: String = "doc_id",
      queryIdCol: String = "query_id", termCol: String = "term"): DataFrame =
    proximityTopKByQueryOver(idx, queries, window, k, queryIdCol, termCol,
      Some(allowed.select(col(idCol).as("doc_id"))))

  private def proximityTopKByQueryOver(idx: LexIndex, queries: DataFrame,
      window: Int, k: Int, queryIdCol: String, termCol: String,
      allowed: Option[DataFrame]): DataFrame = {
    require(k > 0, s"k must be > 0, got $k")
    require(idx.postings.columns.contains("positions"),
      "proximity search needs a positional index: build(..., withPositions = true)")
    val spark = idx.postings.sparkSession
    val q = queries.select(col(queryIdCol).as("query_id"),
      col(termCol).as("term"))
    // ONE bounded collect: validates the per-query contracts (distinct
    // terms, window wide enough) and assigns the slot indices the
    // running maxes key on
    val qRows = q.collect()
    require(qRows.nonEmpty, "empty query relation")
    // same loud-contract guard as the phrase batch verb: a null
    // query_id/term must name itself, not die as an NPE below
    qRows.foreach { r =>
      require(!r.isNullAt(0) && !r.isNullAt(1),
        s"query relation row (query_id=${r.get(0)}, term=${r.get(1)}) " +
          "carries a null — every row needs non-null query_id and term")
    }
    val byQuery = qRows.groupBy(_.get(0))
    byQuery.foreach { case (qid, rows) =>
      val ts = rows.map(_.getString(1)).toSeq
      require(ts.distinct == ts, s"query $qid: terms must be distinct: $ts")
      require(window >= ts.length,
        s"window $window cannot hold ${ts.length} distinct terms (query $qid)")
    }
    val maxT = byQuery.valuesIterator.map(_.length).max
    val qidField = q.schema("query_id")
    val slotSchema = org.apache.spark.sql.types.StructType(Seq(
      qidField.copy(name = "query_id"),
      org.apache.spark.sql.types.StructField("term",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("__slot",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("__nt",
        org.apache.spark.sql.types.IntegerType)))
    val slotted = spark.createDataFrame(
      java.util.Arrays.asList(byQuery.toSeq.flatMap { case (qid, rows) =>
        val ts = rows.map(_.getString(1)).sorted
        ts.zipWithIndex.map { case (t, i) =>
          org.apache.spark.sql.Row(qid, t, i, ts.length) }
      }: _*), slotSchema)
    val pruned = prunedPostings(idx, qRows.map(_.getString(1)).distinct.toSeq)
    val timeline = allowed.fold(pruned)(a =>
        pruned.join(a, Seq("doc_id"), "left_semi"))
      .join(broadcast(slotted), Seq("term"))
      .select(col("query_id"), col("doc_id"), col("__slot"), col("__nt"),
        explode(col("positions")).as("pos"))
    val byPos = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"), col("doc_id")).orderBy(col("pos"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val lasts = (0 until maxT).map(i =>
      max(when(col("__slot") === i, col("pos"))).over(byPos).as(s"__l$i"))
    val lastArr = array((0 until maxT).map(i => col(s"__l$i")): _*)
    timeline
      .select(col("query_id") +: col("doc_id") +: col("__nt") +:
        col("pos") +: lasts: _*)
      // the query's OWN slots: slice to its term count — slots ≥ nt
      // belong to larger queries and stay null on this query's rows
      .withColumn("__arr", slice(lastArr, lit(1), col("__nt")))
      .filter(!exists(col("__arr"), x => x.isNull))
      .filter(col("pos") - array_min(col("__arr")) < window)
      .groupBy(col("query_id"), col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_windows"))
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("n_windows").desc, col("doc_id"))))
      .filter(col("__rn") <= k)
      .select(col("query_id"), col("doc_id"), col("n_windows"))
  }

  /** [[phraseTopK]] plus the evidence a retrieval UI serves: for each of
    * the top-k docs, the FIRST occurrence's context window — `context`
    * tokens either side of the phrase, sliced from the doc's
    * empty-filtered token sequence (the positional index's coordinate
    * system, so a doubled separator cannot shift the window). Output
    * `(doc_id, n_occ, first_pos, snippet)`.
    *
    * Scale: the anchor scan is the pruned [[phraseTopK]] plan; only the
    * k result docs join back to the corpus for their text (broadcast of
    * k rows against the docs relation keyed by id), so full documents
    * never ride the posting shuffle.
    */
  def phraseSnippets(idx: LexIndex, docs: DataFrame, phrase: Seq[String],
      k: Int, context: Int = 3, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    phraseSnippetsOver(idx, docs, phrase, k, context, idCol, textCol, None)

  /** [[phraseSnippets]] restricted to an allowed document set — the
    * evidence panel beside [[phraseTopKAmong]]'s hit list (r15): without
    * it, a filtered search UI would slice snippet candidates from docs
    * the tenant cannot see. Pre-filter semantics: the allowed semi-join
    * rides the pruned posting scan inside [[phraseAnchors]], before the
    * positions explode — so the k snippet docs are the best ALLOWED
    * hits, and disallowed docs never inflate the anchor shuffle or the
    * text join.
    */
  def phraseSnippetsAmong(idx: LexIndex, docs: DataFrame,
      phrase: Seq[String], k: Int, allowed: DataFrame, context: Int = 3,
      idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    phraseSnippetsOver(idx, docs, phrase, k, context, idCol, textCol,
      Some(allowed.select(col(idCol).as("doc_id"))))

  // one anchor-rank + text-slice definition for the filtered and
  // unfiltered snippet probes; None compiles to phraseSnippets' plan
  private def phraseSnippetsOver(idx: LexIndex, docs: DataFrame,
      phrase: Seq[String], k: Int, context: Int, idCol: String,
      textCol: String, allowed: Option[DataFrame]): DataFrame = {
    require(context >= 0, s"context must be >= 0, got $context")
    val top = phraseAnchors(idx, phrase, allowed).groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_occ"),
        min(col("anchor")).cast("long").as("first_pos"))
      .orderBy(col("n_occ").desc, col("doc_id"))
      .limit(k)
    // bare-key join first, tokenize only the k matched rows (the batch
    // verb's comment: a tokenize projection BELOW the broadcast join
    // runs on every corpus row, not the k result docs)
    docs
      .select(col(idCol).as("doc_id"), col(textCol).as("__text"))
      .join(broadcast(top), Seq("doc_id"))
      .withColumn("__toks",
        filter(split(col("__text"), " "), t => length(t) > 0))
      .withColumn("__from",
        greatest(col("first_pos") - context, lit(0L)) + 1) // slice is 1-based
      .withColumn("snippet", array_join(
        slice(col("__toks"), col("__from").cast("int"),
          lit(phrase.length + 2 * context)), " "))
      .select(col("doc_id"), col("n_occ"), col("first_pos"), col("snippet"))
      .orderBy(col("n_occ").desc, col("doc_id"))
  }

}
