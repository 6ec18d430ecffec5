package graft.queries

import graft.Tables
import graft.operators.SimilaritySearch
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Vector pack (SURVEY.md §2.4/§2.8, §7.2 step 2) over the embeddings table —
  * the engine analog of the reference's embedding analytics
  * (src/analyze_embedding_with_tsne.py, src/compare_xception_featuremaps.py).
  *
  * Oracle-parity queries use the LONG FORM (posexplode → relational math) so
  * DuckDB can run the identical ANSI SQL; the fused array-form fast paths
  * (higher-order functions, no per-element explode) live in
  * graft.functions.VecOps and are spec-tested to agree with these.
  *
  * Cross-engine exactness, integer-quantization scheme: each element is
  * quantized ONCE by `floor(v * 1e6)` — both `*` and `floor` are IEEE-754
  * double ops, bit-identical in both engines (unlike double→DECIMAL casts,
  * where Spark rounds the shortest decimal string and DuckDB the exact
  * binary — those diverge ~1e-3 of the time on float-derived data). All
  * aggregation then happens in the INTEGER domain (long / scale-0 decimal:
  * exact, associativity-free), and integer→double conversion is
  * correctly-rounded in both engines, so even the final cast is
  * bit-identical. Divisions/sqrt after the cast are IEEE-identical.
  * |v| < 1 and dim = 64 keep every sum inside long range (≤ ~6e18) at
  * sf ≤ 0.1; products of sums go through DECIMAL(19,0) so the same plan
  * stays exact at 100× the rows.
  */
object VectorQueries extends QueryPack {

  /** (label, vec_id, pos, v DOUBLE, vq BIGINT = floor(v*1e6)) long form. */
  private def longForm(s: SparkSession, d: String): DataFrame =
    Tables.embeddings(s, d)
      .select(col("label"), col("vec_id"), posexplode(col("embedding")).as(Seq("pos", "vf")))
      .select(col("label"), col("vec_id"), col("pos"),
        col("vf").cast("double").as("v"),
        floor(col("vf").cast("double") * lit(1e6)).as("vq"))

  private val LF_SQL =
    """SELECT label, vec_id, generate_subscripts(embedding, 1) - 1 AS pos,
      CAST(unnest(embedding) AS DOUBLE) AS v,
      CAST(floor(CAST(unnest(embedding) AS DOUBLE) * 1000000.0) AS BIGINT) AS vq
    FROM embeddings"""

  // ---- A1: global-average-pool / per-group centroid (long form;
  //      src/compare_xception_featuremaps.py:39-41) ----
  private val centroidPerLabel = OracleQuery(
    "v_centroid_per_label",
    (s, d) =>
      longForm(s, d).filter(col("pos") < 8)
        .groupBy(col("label"), col("pos"))
        .agg((sum(col("vq")).cast("double") / count(lit(1)) / lit(1e6)).as("centroid_v"))
        .orderBy(col("label"), col("pos")),
    Some(s"""SELECT label, CAST(pos AS INT) AS pos,
      CAST(SUM(vq) AS DOUBLE) / COUNT(*) / 1000000.0 AS centroid_v
    FROM ($LF_SQL) WHERE pos < 8
    GROUP BY 1, 2 ORDER BY label, pos"""))

  // ---- F7: L2 norm per vector (exact integer sum of squares) ----
  private val l2norm = OracleQuery(
    "v_l2norm",
    (s, d) =>
      longForm(s, d)
        .groupBy(col("vec_id"))
        .agg((sqrt(sum(col("vq") * col("vq")).cast("double")) / lit(1e6)).as("l2norm"))
        .orderBy(col("vec_id")),
    Some(s"""SELECT vec_id,
      sqrt(CAST(SUM(vq * vq) AS DOUBLE)) / 1000000.0 AS l2norm
    FROM ($LF_SQL) GROUP BY vec_id ORDER BY vec_id"""))

  // ---- flagship (SURVEY.md §7.1): per-label sum-vectors → J4 self-join →
  //      cosine similarity matrix. Cosine is scale-invariant, so sums stand
  //      in for centroids and the whole Gram computation stays exact.
  //      Sum-products go through DECIMAL(19,0) so they stay exact far past
  //      long range (scale headroom: ~1e38 vs the ~6e18 long ceiling) ----
  private val centroidCosine = OracleQuery(
    "v_centroid_cosine_matrix",
    (s, d) => {
      // sums feeds three consumers (dots twice, norms once) — dedup comes
      // from ReuseExchange, not .cache(): the three branches share an
      // identical aggregate subtree, so Catalyst plans ONE scan+shuffle and
      // reuses it (PlanSpec pins ReusedExchange). A cache here leaked
      // executor storage across calls (round-1 advisor finding) — queries
      // are lazy builders with no place to unpersist.
      val sums = longForm(s, d)
        .groupBy(col("label"), col("pos"))
        .agg(sum(col("vq")).cast(DecimalType(19, 0)).as("sv"))
      val dots = sums.as("a").join(sums.as("b"), col("a.pos") === col("b.pos"))
        .groupBy(col("a.label").as("l1"), col("b.label").as("l2"))
        .agg(sum(col("a.sv") * col("b.sv")).cast("double").as("dot"))
      val norms = dots.filter(col("l1") === col("l2"))
        .select(col("l1").as("ln"), sqrt(col("dot")).as("norm"))
      dots.filter(col("l1") <= col("l2"))
        .join(norms.as("n1"), col("l1") === col("n1.ln"))
        .join(norms.as("n2"), col("l2") === col("n2.ln"))
        .select(col("l1"), col("l2"),
          (col("dot") / (col("n1.norm") * col("n2.norm"))).as("cosine"))
        .orderBy(col("l1"), col("l2"))
    },
    Some(s"""WITH lf AS ($LF_SQL), sums AS (
      SELECT label, pos, CAST(SUM(vq) AS DECIMAL(19,0)) AS sv
      FROM lf GROUP BY label, pos
    ), d AS (
      SELECT a.label AS l1, b.label AS l2,
        CAST(SUM(a.sv * b.sv) AS DOUBLE) AS dot
      FROM sums a JOIN sums b ON a.pos = b.pos GROUP BY a.label, b.label
    )
    SELECT d.l1, d.l2, d.dot / (sqrt(s1.dot) * sqrt(s2.dot)) AS cosine
    FROM d JOIN d s1 ON s1.l1 = d.l1 AND s1.l2 = d.l1
           JOIN d s2 ON s2.l1 = d.l2 AND s2.l2 = d.l2
    WHERE d.l1 <= d.l2 ORDER BY d.l1, d.l2"""))

  // ---- A3/A6: mean-centering + min-max normalize (window form, §2.9).
  //      The min/max path is pure double (min/max pick, no reassociation);
  //      the mean path uses the exact integer sum ----
  private val centerMinmax = OracleQuery(
    "v_center_minmax_dim0",
    (s, d) => {
      val w = Window.partitionBy(col("label"))
      longForm(s, d).filter(col("pos") === 0)
        .select(col("label"), col("vec_id"), col("v"), col("vq"))
        .select(col("label"), col("vec_id"), col("v"),
          (col("v") - sum(col("vq")).over(w).cast("double") / count(lit(1)).over(w) / lit(1e6)).as("centered"),
          ((col("v") - min(col("v")).over(w)) /
            (max(col("v")).over(w) - min(col("v")).over(w) + lit(1e-8))).as("minmax"))
        .orderBy(col("vec_id"))
    },
    Some(s"""SELECT label, vec_id, v,
      v - CAST(SUM(vq) OVER w AS DOUBLE) / COUNT(*) OVER w / 1000000.0 AS centered,
      (v - MIN(v) OVER w) / (MAX(v) OVER w - MIN(v) OVER w + 1e-8) AS minmax
    FROM ($LF_SQL) WHERE pos = 0
    WINDOW w AS (PARTITION BY label)
    ORDER BY vec_id"""))

  // ---- A4/L4: per-dimension variance → top-3 dimensions per label
  //      (src/feature_map_analysis.py:39-45). Exact integer sums feed the
  //      identical double formula in both engines, so the ranking (which
  //      would be unstable under ulp noise) is bit-deterministic ----
  private val varianceTopk = OracleQuery(
    "v_variance_top3_dims",
    (s, d) => {
      val stats = longForm(s, d)
        .groupBy(col("label"), col("pos"))
        .agg(
          sum(col("vq")).cast("double").as("sv"),
          sum(col("vq") * col("vq")).cast("double").as("qv"),
          count(lit(1)).as("n"))
        .select(col("label"), col("pos"),
          (((col("qv") - col("sv") * col("sv") / col("n")) / (col("n") - 1)) / lit(1e12)).as("variance"))
      val w = Window.partitionBy(col("label"))
        .orderBy(col("variance").desc, col("pos"))
      stats.withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("label"), col("rn"), col("pos"), col("variance"))
        .orderBy(col("label"), col("rn"))
    },
    Some(s"""WITH stats AS (
      SELECT label, CAST(pos AS INT) AS pos,
        CAST(SUM(vq) AS DOUBLE) AS sv,
        CAST(SUM(vq * vq) AS DOUBLE) AS qv,
        COUNT(*) AS n
      FROM ($LF_SQL) GROUP BY 1, 2
    ), v AS (
      SELECT label, pos,
        ((qv - sv * sv / n) / (n - 1)) / 1000000000000.0 AS variance
      FROM stats
    )
    SELECT label, rn, pos, variance FROM (
      SELECT label, pos, variance,
        ROW_NUMBER() OVER (PARTITION BY label
                           ORDER BY variance DESC, pos) AS rn
      FROM v) WHERE rn <= 3 ORDER BY label, rn"""))

  // ---- similarity search: brute-force cosine top-5 neighbors for the first
  //      10 query vectors (north-star op; long-form oracle-parity version —
  //      the scale path is LSH bucketing in graft.operators.SimilaritySearch).
  //      Quantization cancels in the ratio up to ~1e-6 relative error —
  //      fine for ranking, and exactly reproduced by the oracle ----
  private val simTopk = OracleQuery(
    "v_sim_cosine_top5",
    (s, d) => {
      val lf = longForm(s, d)
      val norms = lf.groupBy(col("vec_id"))
        .agg(sum(col("vq") * col("vq")).cast("double").as("norm2"))
      val q = lf.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("pos").as("qpos"), col("vq").as("qvq"))
      val dots = q.join(lf.as("t"), col("qpos") === col("t.pos"))
        .filter(col("query_id") =!= col("t.vec_id"))
        .groupBy(col("query_id"), col("t.vec_id").as("neighbor_id"))
        .agg(sum(col("qvq") * col("vq")).cast("double").as("dot"))
      val cos = dots
        .join(norms.as("nq"), col("query_id") === col("nq.vec_id"))
        .join(norms.as("nt"), col("neighbor_id") === col("nt.vec_id"))
        .select(col("query_id"), col("neighbor_id"),
          (col("dot") / (sqrt(col("nq.norm2")) * sqrt(col("nt.norm2")))).as("cosine"))
      SimilaritySearch.topKPerQuery(cos, 5)
    },
    Some(s"""WITH lf AS ($LF_SQL), norms AS (
      SELECT vec_id, CAST(SUM(vq * vq) AS DOUBLE) AS norm2
      FROM lf GROUP BY vec_id
    ), dots AS (
      SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
        CAST(SUM(q.vq * t.vq) AS DOUBLE) AS dot
      FROM lf q JOIN lf t ON q.pos = t.pos AND q.vec_id <> t.vec_id
      WHERE q.vec_id < 10 GROUP BY 1, 2
    ), cos AS (
      SELECT d.query_id, d.neighbor_id,
        d.dot / (sqrt(nq.norm2) * sqrt(nt.norm2)) AS cosine
      FROM dots d JOIN norms nq ON d.query_id = nq.vec_id
                  JOIN norms nt ON d.neighbor_id = nt.vec_id
    )
    SELECT query_id, rn, neighbor_id, cosine FROM (
      SELECT query_id, neighbor_id, cosine,
        ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY cosine DESC, neighbor_id) AS rn
      FROM cos) WHERE rn <= 5 ORDER BY query_id, rn"""))

  // ---- embedding drift between two corpus snapshots (vec_id parity
  //      stands in for snapshot versions, as in t_snapshot_diff): per
  //      label, the cosine between snapshot centroid directions and the
  //      centroid-norm ratio — the vector-space member of the monitoring
  //      family (PSI drift covers scalars, this covers representations).
  //      Cosine is scale-invariant so exact integer SUM vectors stand in
  //      for centroids; dots go through DECIMAL(38,0) and stay exact ----
  private val embeddingDrift = OracleQuery(
    "vx_embedding_drift",
    (s, d) => {
      def half(parity: Int) = longForm(s, d)
        .filter(pmod(col("vec_id"), lit(2)) === parity)
        .groupBy(col("label"), col("pos"))
        .agg(sum(col("vq")).as("sv"),
          countDistinct(col("vec_id")).as("n"))
      val j = half(0).select(col("label"), col("pos"), col("sv").as("sa"),
          col("n").as("n_a"))
        .join(half(1).select(col("label"), col("pos"), col("sv").as("sb"),
          col("n").as("n_b")), Seq("label", "pos"))
      // Cast the Long sum-vectors to DECIMAL(19,0) BEFORE multiplying so the
      // product itself is decimal-exact (DECIMAL(38,0)); a LongType multiply
      // would wrap silently once a label/parity half exceeds ~3000 vectors
      // while the DuckDB oracle computes it exactly in HUGEINT.
      val sa = col("sa").cast(DecimalType(19, 0))
      val sb = col("sb").cast(DecimalType(19, 0))
      j.groupBy(col("label"), col("n_a"), col("n_b"))
        .agg(
          sum((sa * sb).cast(DecimalType(38, 0))).cast("double").as("dab"),
          sum((sa * sa).cast(DecimalType(38, 0))).cast("double").as("daa"),
          sum((sb * sb).cast(DecimalType(38, 0))).cast("double").as("dbb"))
        .select(col("label"), col("n_a").cast("long").as("n_a"),
          col("n_b").cast("long").as("n_b"),
          (col("dab") / (sqrt(col("daa")) * sqrt(col("dbb")) + lit(1e-12)))
            .as("centroid_cos"),
          ((sqrt(col("daa")) / col("n_a").cast("double")) /
            (sqrt(col("dbb")) / col("n_b").cast("double")))
            .as("cnorm_ratio"))
        .orderBy(col("label"))
    },
    Some(s"""WITH lf AS ($LF_SQL), h AS (
      SELECT label, pos, vec_id % 2 AS par, SUM(vq) AS sv,
        COUNT(DISTINCT vec_id) AS n
      FROM lf GROUP BY 1, 2, 3
    ), j AS (
      SELECT a.label, a.pos, a.sv AS sa, a.n AS n_a, b.sv AS sb, b.n AS n_b
      FROM h a JOIN h b ON b.label = a.label AND b.pos = a.pos
        AND a.par = 0 AND b.par = 1
    ), dots AS (
      SELECT label, n_a, n_b,
        CAST(SUM(CAST(sa * sb AS DECIMAL(38,0))) AS DOUBLE) AS dab,
        CAST(SUM(CAST(sa * sa AS DECIMAL(38,0))) AS DOUBLE) AS daa,
        CAST(SUM(CAST(sb * sb AS DECIMAL(38,0))) AS DOUBLE) AS dbb
      FROM j GROUP BY 1, 2, 3
    )
    SELECT label, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
      dab / (sqrt(daa) * sqrt(dbb) + 1e-12) AS centroid_cos,
      (sqrt(daa) / CAST(n_a AS DOUBLE)) / (sqrt(dbb) / CAST(n_b AS DOUBLE))
        AS cnorm_ratio
    FROM dots ORDER BY label"""))

  // ---- hard-negative mining (contrastive-training data op): for each
  //      anchor, the top-5 most-similar vectors with a DIFFERENT label —
  //      the near-miss negatives an embedding trainer mines (easy random
  //      negatives teach nothing; same-label neighbors would be false
  //      negatives, so the label anti-predicate rides the dot join and
  //      prunes before any aggregation). Same exact integer cosine as
  //      v_sim_cosine_top5; at scale the brute dot join swaps for the ANN
  //      shortlist (hammingHardNegatives / DenseLeg.PqRefined) with the
  //      label filter applied to the shortlist — this gate pins the exact
  //      semantics that shortlist path must reproduce ----
  private val hardNegatives = OracleQuery(
    "v_hard_negatives_top5",
    (s, d) => {
      val lf = longForm(s, d)
      val norms = lf.groupBy(col("vec_id"))
        .agg(sum(col("vq") * col("vq")).cast("double").as("norm2"))
      val q = lf.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("label").as("qlabel"),
          col("pos").as("qpos"), col("vq").as("qvq"))
      val dots = q.join(lf.as("t"), col("qpos") === col("t.pos"))
        .filter(col("qlabel") =!= col("t.label"))
        .groupBy(col("query_id"), col("t.vec_id").as("neighbor_id"),
          col("t.label").as("neg_label"))
        .agg(sum(col("qvq") * col("vq")).cast("double").as("dot"))
      val cos = dots
        .join(norms.as("nq"), col("query_id") === col("nq.vec_id"))
        .join(norms.as("nt"), col("neighbor_id") === col("nt.vec_id"))
        .select(col("query_id"), col("neighbor_id"), col("neg_label"),
          (col("dot") / (sqrt(col("nq.norm2")) * sqrt(col("nt.norm2"))))
            .as("cosine"))
      SimilaritySearch.topKPerQuery(cos, 5, "neg_label")
    },
    Some(s"""WITH lf AS ($LF_SQL), norms AS (
      SELECT vec_id, CAST(SUM(vq * vq) AS DOUBLE) AS norm2
      FROM lf GROUP BY vec_id
    ), dots AS (
      SELECT q.vec_id AS query_id, t.vec_id AS neighbor_id,
        t.label AS neg_label,
        CAST(SUM(q.vq * t.vq) AS DOUBLE) AS dot
      FROM lf q JOIN lf t ON q.pos = t.pos AND q.label <> t.label
      WHERE q.vec_id < 10 GROUP BY 1, 2, 3
    ), cos AS (
      SELECT d.query_id, d.neighbor_id, d.neg_label,
        d.dot / (sqrt(nq.norm2) * sqrt(nt.norm2)) AS cosine
      FROM dots d JOIN norms nq ON d.query_id = nq.vec_id
                  JOIN norms nt ON d.neighbor_id = nt.vec_id
    )
    SELECT query_id, rn, neighbor_id, neg_label, cosine FROM (
      SELECT query_id, neighbor_id, neg_label, cosine,
        ROW_NUMBER() OVER (PARTITION BY query_id
                           ORDER BY cosine DESC, neighbor_id) AS rn
      FROM cos) WHERE rn <= 5 ORDER BY query_id, rn"""))

  override val all: Seq[OracleQuery] = Seq(
    centroidPerLabel, l2norm, centroidCosine, centerMinmax,
    varianceTopk, simTopk, embeddingDrift, hardNegatives)
}
