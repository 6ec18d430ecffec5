package graft.pipelines

import graft.functions.TextOps
import graft.operators.{Dedup, SeqPack}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The end-to-end training-corpus curation pipeline (the north-star LLM
  * dataflow), composed from the engine's curation operators in the order
  * production pipelines run them — cheap map-only rules first so expensive
  * stages see fewer rows, dedup before decontamination so canonical docs
  * are what's checked, packing last:
  *
  *   1. rule filtering: Gopher/C4 quality rules + repetition rule
  *      (map-only column arithmetic — pushes down to the scan);
  *   2. PII redaction (map-only regex chain);
  *   3. exact dedup (one shuffle on content hash);
  *   4. MinHash-LSH near-dup canonicalize (banded candidates → connected
  *      components → keep lowest id per cluster);
  *   5. benchmark decontamination (broadcast gram semi-join);
  *   6. greedy sequence packing into fixed-token training bins.
  *
  * Returns the packed survivors plus a per-stage funnel relation — the
  * operational report every curation run ships with.
  */
object CorpusCuration {

  final case class Curated(packed: DataFrame, funnel: DataFrame)

  /** `decontaminateN` follows published practice (GPT-3 appendix C uses
    * 13-gram windows, PaLM 8-gram): short grams over-flag — measured on the
    * sf0.1 corpus, 3-gram matching flagged 99.4% of near-dedup survivors as
    * "contaminated" from ordinary phrase collisions alone, gutting the
    * corpus; 8-grams flag only genuine quotes/near-copies of benchmark text.
    *
    * `benchGrams`: a pre-built [[Dedup.benchmarkGrams]] relation (with
    * matching n) to reuse across runs — callers curating repeatedly against
    * one benchmark memoize it (EngineQueries.benchGrams) instead of
    * re-deriving the gram explode inside every run.
    */
  def run(docs: DataFrame, benchmark: DataFrame,
      maxTokens: Int = 512, dupFracMax: Double = 0.4,
      minhashThreshold: Double = 0.5, decontaminateN: Int = 8,
      benchGrams: Option[DataFrame] = None): Curated = {
    val spark = docs.sparkSession
    import spark.implicits._

    // stage 1: map-only quality rules (quality gates first — cheapest).
    // One cached pass computes the flags; input + survivor counts come
    // from a single aggregation over it instead of two scans
    val flagged = docs
      .withColumn("__keep",
        TextOps.gopherRules(col("text")).getField("keep") &&
          TextOps.bigramDupFraction(col("text")) <= dupFracMax)
      .cache()
    val c01 = flagged.agg(count(lit(1)), count(when(col("__keep"), lit(1)))).head()
    val (n0, n1) = (c01.getLong(0), c01.getLong(1))
    val ruled = flagged.filter(col("__keep")).drop("__keep")

    // stage 2: PII redaction (map-only)
    val redacted = ruled.withColumn("text", TextOps.redactPii(col("text")))

    // stage 3: exact dedup (content-hash shuffle). Cached: the survivors
    // feed candidate pairs, the anti-join, AND downstream stages — without
    // a snapshot the funnel counts would re-run the upstream chain per
    // action (at 100 TB this is a persisted checkpoint table)
    val exact = Dedup.exact(redacted).cache()
    val n3 = exact.count()
    flagged.unpersist() // everything downstream reads the exact snapshot

    // stage 4: near-dup canonicalize — keep only cluster canonicals.
    // Cached: stage 5 consumes the survivors, and without a snapshot its
    // count re-ran the whole MinHash-LSH candidate pass a second time
    // (the pipeline's most expensive stage, paid twice for one funnel)
    val pairs = Dedup.minhashNearDups(exact, threshold = minhashThreshold)
      .select(col("id_a"), col("id_b"))
    val drops = Dedup.canonicalize(pairs).filter(!col("keep"))
      .select(col("doc_id"))
    val nearDeduped = exact.join(drops, Seq("doc_id"), "left_anti").cache()
    val n4 = nearDeduped.count()

    // stage 5: decontamination against the benchmark set. Cached: both the
    // funnel count and the packing stage consume it, and its lineage holds
    // the gram-explode semi-join
    val gramRel = benchGrams.getOrElse(
      Dedup.benchmarkGrams(benchmark, n = decontaminateN))
    val clean = Dedup.decontaminateAgainstGrams(nearDeduped, gramRel,
        n = decontaminateN)
      .filter(!col("contaminated")).drop("contaminated")
      .cache()
    val n5 = clean.count()
    exact.unpersist() // clean snapshot materialized; exact no longer read
    nearDeduped.unpersist()

    // stage 6: token counting + greedy packing
    val packed = SeqPack.packGreedy(
      clean.select(col("doc_id"),
        TextOps.tokenCount(col("text")).as("n_tokens")),
      "n_tokens", maxTokens)

    // release the snapshot before returning: every count above already ran,
    // and a cache that outlives run() accumulates executor storage across
    // invocations (the round-1 advisor leak class). Consuming `packed`
    // recomputes the (deterministic) clean lineage once — callers that
    // probe packed repeatedly should cache it themselves.
    clean.unpersist()

    val funnel = Seq(
      ("0_input", n0), ("1_rules", n1), ("2_redacted", n1),
      ("3_exact_dedup", n3), ("4_near_dedup", n4), ("5_decontaminated", n5))
      .toDF("stage", "n_docs")
    Curated(packed, funnel)
  }
}
