package graft

import graft.operators.SimilaritySearch
import org.apache.spark.sql.functions._

/** The cell-aware filtered probe (r18, verdict item 4): the volume
  * dial's conservation law assumes the allowed set SPREADS across
  * cells; a tenant clustered into few cells breaks it — the probe's
  * nprobe nearest cells can all be allowed-empty. Contracts:
  *   - the failure is real: on a clustered tenant far from the query
  *     population, the volume dial at its auto width returns NOTHING
  *     while the cell-aware probe returns the exact filtered ranking;
  *   - exactness anchor: nprobe ≥ the allowed-cell count ⇒ the probe
  *     IS the filtered brute ranking, for any allowed shape;
  *   - pre-filter semantics survive: an allowed CELL's disallowed rows
  *     never rank;
  *   - an empty allowed∩index intersection returns empty, loudly not
  *     wrongly.
  */
class CellAwareProbeSpec extends SparkSpec {
  import spark.implicits._

  private lazy val base = Tables.embeddings(spark, sf001)
    .select(col("vec_id"), col("embedding")).cache()

  private val dim = 64

  // a tight off-distribution tenant: 200 vectors near (5,5,...,5) — the
  // quantizer gives them their own cell(s), far from every base cell
  private lazy val tenant =
    (300000L until 300200L).map { i =>
      (i, Array.tabulate(dim)(j =>
        5.0f + (if (j == 0) (i % 5) * 1e-3f else 0f)))
    }.toDF("vec_id", "embedding").cache()

  private lazy val union = base.unionByName(tenant).cache()
  private lazy val idx =
    SimilaritySearch.buildIvfIndex(union, nlist = 32, persist = false)

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSeq

  test("clustered tenant: the volume dial under-returns where the cell-aware probe is exact") {
    val allowed = tenant.select(col("vec_id"))
    val queries = base.filter(col("vec_id") < 5)
    val sel = 200.0 / union.count()
    val npAuto = SimilaritySearch.filteredNprobeParam(32, sel)
    assert(npAuto < 32,
      s"construction needs the volume dial below the cap, got $npAuto")
    // the query's npAuto nearest cells are all base-region cells — the
    // tenant's cells rank last by center distance — so the widened
    // volume probe still finds ZERO allowed candidates
    val volume = SimilaritySearch.ivfProbe(idx, queries, k = 5,
      npAuto, allowed = Some(allowed))
    assert(volume.count() == 0,
      "expected the volume dial to miss the far clustered tenant " +
        "entirely (if this starts returning rows the construction " +
        "drifted, not the claim)")
    // the cell-aware auto probe goes where the tenant lives
    val aware = SimilaritySearch.ivfProbeCellAware(idx, queries,
      k = 5, allowed)
    val want = SimilaritySearch.bruteForceTopK(union, queries, 5,
      allowed = Some(allowed))
    assert(rows(aware).nonEmpty && rows(aware) == rows(want),
      "cell-aware probe diverged from the exact filtered ranking")
    // with the selectivity given, the allowed-cell resolution is the only
    // action at probe construction, and it runs ONCE
    val oneResolution = jobsDuring(
      SimilaritySearch.resolveAllowedCells(idx, allowed, "vec_id"))
    val construction = jobsDuring(SimilaritySearch.ivfProbeCellAware(idx,
      queries, k = 5, allowed, selectivity = Some(sel)))
    assert(oneResolution > 0 && construction == oneResolution,
      s"probe construction ran $construction jobs, one allowed-cell " +
        s"resolution is $oneResolution")
  }

  test("exactness anchor: nprobe >= allowed-cell count reproduces filtered brute for any allowed shape") {
    val allowed = union.filter(col("vec_id") % 3 === 0)
      .select(col("vec_id"))
    val queries = base.filter(col("vec_id") < 5)
    val aware = SimilaritySearch.ivfProbeCellAware(idx, queries,
      k = 5, allowed, nprobe = Some(32))
    val want = SimilaritySearch.bruteForceTopK(union, queries, 5,
      allowed = Some(allowed))
    assert(rows(aware) == rows(want))
    // pre-filter semantics: nothing outside the allowed set ranked
    val got = aware.select(col("neighbor_id")).collect()
      .map(_.getLong(0))
    assert(got.forall(_ % 3 == 0), "a disallowed row ranked")
  }

  test("empty allowed-intersection returns empty, not wrong") {
    val allowed = Seq(999999999L).toDF("vec_id")
    val queries = base.filter(col("vec_id") < 3)
    assert(SimilaritySearch.ivfProbeCellAware(idx, queries,
      k = 5, allowed).count() == 0)
  }
}
