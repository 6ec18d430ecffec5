package graft.pipelines

import graft.ml.{MlOps, Reduce2d}
import graft.operators.VecAgg
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's top-level analysis flows as composable library calls —
  * what a user of Liranitz/BigData-DeepfakeAnalysis runs today, re-expressed
  * over any (group, id, vector) table.
  *
  * Flow 1 (`embeddingMap`) = analyze_embedding_with_tsne.py --mode combined
  * (SURVEY.md §3.2): per-group seeded sample cap → guard n≥3 → 2-D reduction
  * → coordinates + per-group counts.
  *
  * Flow 2 (`compareSpaces`) = compare_embeddings_vs_features.py (SURVEY.md
  * §3.3): restrict to common groups → equal-n aligned sample → per-space
  * separability scores + cross-space CKA.
  *
  * Flow 3 (`pairsMap`) = analyze_embedding_with_tsne.py --mode pairs
  * (analyze_embedding_with_tsne.py:214-310): choose up to `numPairs` group
  * pairs (adjacent-by-sorted-name, or seeded-random over all combinations),
  * and per pair: per-group sample cap → guard n≥3 → joint 2-D reduction.
  *
  * Flow 4 (`separateMaps`) = analyze_embedding_with_tsne.py --mode separate
  * (analyze_embedding_with_tsne.py:93-126): an independent per-group 2-D
  * map for every group with ≥ 3 sampled points.
  */
object DeepfakeAnalysis {

  final case class EmbeddingMap(coords: DataFrame, groupCounts: DataFrame)

  def embeddingMap(
      emb: DataFrame, vecCol: String, idCol: String, groupCol: String,
      method: String = "pca", samplePerGroup: Int = 500,
      seed: Long = 42L): EmbeddingMap = {
    // P7: drop groups with < 3 samples (reference guard)
    val bigEnough = emb
      .join(broadcast(
        emb.groupBy(col(groupCol)).agg(count(lit(1)).as("__n"))
          .filter(col("__n") >= 3).select(col(groupCol))),
        Seq(groupCol))
    val coords = Reduce2d(bigEnough, vecCol, idCol, groupCol,
      method = method, maxPerGroup = samplePerGroup, seed = seed)
    val counts = coords.groupBy(col("label")).agg(count(lit(1)).as("n"))
      .orderBy(col("label"))
    EmbeddingMap(coords, counts)
  }

  final case class SeparateMaps(groups: Seq[String], coords: DataFrame)

  /** Flow 4 (`separateMaps`) = analyze_embedding_with_tsne.py --mode separate
    * (analyze_all_separate, analyze_embedding_with_tsne.py:93-126): one
    * INDEPENDENT 2-D map per group — each group's reduction is fit on that
    * group's rows alone (unlike `embeddingMap`, whose single joint fit lets
    * other groups shape the projection), preserving intra-group structure.
    * The distinct group relation (small dimension) is the only collect; each
    * group then runs its own bounded Reduce2d, with the reference's
    * post-sample n≥3 guard (:113-115), the groups' fits overlapping.
    *
    * Output coords: (group, id, x, y).
    */
  def separateMaps(
      emb: DataFrame, vecCol: String, idCol: String, groupCol: String,
      samplePerGroup: Int = 500, method: String = "pca",
      seed: Long = 42L): SeparateMaps = {
    val spark = emb.sparkSession
    // guard on the POST-cap sample size min(n, cap), exactly what the
    // reference checks after its seeded choice
    val groups = emb.groupBy(col(groupCol).cast("string").as("g"))
      .agg(count(lit(1)).as("__n"))
      .filter(least(col("__n"), lit(samplePerGroup.toLong)) >= 3)
      .orderBy(col("g"))
      .collect().map(_.getString(0))
    // the per-group fits are independent, so they overlap (graft.Par);
    // joined in group order, the union is the same relation
    val perGroup = groups.map { gname => graft.Par.fork {
      val rows = emb.filter(col(groupCol).cast("string") === gname)
      Reduce2d(rows, vecCol, idCol, groupCol,
          method = method, maxPerGroup = samplePerGroup, seed = seed)
        .select(lit(gname).as("group"), col("id").cast("long").as("id"),
          col("x"), col("y"))
    }}.map(graft.Par.join)
    val coords = perGroup.reduceOption(_.unionAll(_)).getOrElse {
      import org.apache.spark.sql.types._
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(Seq(
          StructField("group", StringType), StructField("id", LongType),
          StructField("x", DoubleType), StructField("y", DoubleType))))
    }
    SeparateMaps(groups.toSeq, coords)
  }

  final case class PairsMap(pairs: Seq[(String, String)], coords: DataFrame)

  /** Flow 3: per-group-pair 2-D maps. Pair selection composes the
    * relational pieces the reference does imperatively — a J4 self
    * cross-join over the (small, distinct) group relation for candidate
    * pairs, then either adjacent pairing over a GlobalRank total order or
    * an L6 deterministic hash-order sample of the combinations. The chosen
    * pair list (≤ numPairs rows) is the only thing collected; each pair's
    * reduction runs as its own bounded Reduce2d job, with the reference's
    * n≥3 guard (analyze_embedding_with_tsne.py:269-271); the pairs' fits
    * overlap.
    *
    * Output coords: (pair, id, label, x, y) — `pair` is "g1|g2".
    */
  def pairsMap(
      emb: DataFrame, vecCol: String, idCol: String, groupCol: String,
      numPairs: Int = 5, strategy: String = "adjacent",
      samplePerGroup: Int = 500, method: String = "pca",
      seed: Long = 42L): PairsMap = {
    val spark = emb.sparkSession
    val g = emb.select(col(groupCol).cast("string").as("g")).distinct()

    val chosen: Array[(String, String)] = strategy match {
      case "random" =>
        // J4 candidate pairs + L6 hash-order sample of the combinations
        g.select(col("g").as("g1"))
          .crossJoin(g.select(col("g").as("g2")))
          .filter(col("g1") < col("g2"))
          .orderBy(xxhash64(col("g1"), col("g2"), lit(seed)), col("g1"), col("g2"))
          .limit(numPairs)
          .collect().map(r => (r.getString(0), r.getString(1)))
      case "adjacent" =>
        // pair rank 1 with 2, 3 with 4, … over the sorted group names.
        // Plain global window, NOT GlobalRank: `g` is the DISTINCT group
        // dimension (≤ dozens of rows at any corpus scale — the
        // f10_color_assignment exception), and GlobalRank's quantile
        // bucketing needs a numeric first key — a string key casts to
        // null and silently degenerates to one bucket
        val w = Window.orderBy(col("g"))
        val ranked = g.withColumn("rn", row_number().over(w).cast("long"))
        ranked.as("a")
          .join(ranked.as("b"), col("a.rn") + 1 === col("b.rn") && col("a.rn") % 2 === 1)
          .select(col("a.g").as("g1"), col("b.g").as("g2"), col("a.rn"))
          .orderBy(col("a.rn"))
          .limit(numPairs)
          .collect().map(r => (r.getString(0), r.getString(1)))
      case other => throw new IllegalArgumentException(s"unknown strategy: $other")
    }

    // per-pair guards and fits are independent: overlapped like
    // separateMaps' per-group fits, joined in pair order
    val perPair = chosen.map { case (g1, g2) => graft.Par.fork {
      val pairRows = emb.filter(col(groupCol).cast("string").isin(g1, g2))
      // reference guard: skip pairs with < 3 sampled points in total.
      // Σ_g min(count_g, cap) is exactly the post-cap sample size, computed
      // as one tiny aggregate (never triggers the reduction itself)
      val sampledCount = pairRows.groupBy(col(groupCol))
        .agg(least(count(lit(1)), lit(samplePerGroup.toLong)).as("__n"))
        .agg(coalesce(sum(col("__n")), lit(0L)))
        .head().getLong(0)
      if (sampledCount < 3) None
      else {
        val coords = Reduce2d(pairRows, vecCol, idCol, groupCol,
          method = method, maxPerGroup = samplePerGroup, seed = seed)
        Some(coords.select(lit(s"$g1|$g2").as("pair"),
          col("id").cast("long").as("id"), col("label").cast("string").as("label"),
          col("x"), col("y")))
      }
    }}.flatMap(graft.Par.join)

    val coords = perPair.reduceOption(_.unionAll(_)).getOrElse {
      import org.apache.spark.sql.types._
      spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
        StructType(Seq(
          StructField("pair", StringType), StructField("id", LongType),
          StructField("label", StringType), StructField("x", DoubleType),
          StructField("y", DoubleType))))
    }
    PairsMap(chosen.toSeq, coords)
  }

  final case class SpaceComparison(
      alignedCounts: DataFrame,
      ckaPerGroup: DataFrame,
      separabilityA: Double,
      separabilityB: Double)

  /** Both inputs: (groupCol, idCol, vecCol) with ids comparable across
    * spaces (the reference joins on image stem, J2). `alignedCounts` and
    * `ckaPerGroup` come back as local relations (one row per group), so
    * reading them starts no job.
    *
    * `lrMaxIter` bounds the LBFGS iterations of each separability fit; on
    * weakly-separable data the solver otherwise runs to the cap. Both
    * spaces' cvFolds fits run together ([[MlOps.logregCvAccuracies]]):
    * one Spark job per evaluation round for all of them, so the step costs
    * about lrMaxIter + 4 jobs. The score is a bounded-sample statistic
    * either way (never corpus-scale).
    */
  def compareSpaces(
      a: DataFrame, b: DataFrame, vecCol: String, idCol: String,
      groupCol: String, maxPerGroup: Int = 500, seed: Long = 42L,
      cvFolds: Int = 3, lrMaxIter: Int = 100): SpaceComparison = {

    // J1: common groups; J2: row-level join on (group, id)
    val joined = a.select(col(groupCol), col(idCol), col(vecCol).as("__va"))
      .join(b.select(col(groupCol), col(idCol), col(vecCol).as("__vb")),
        Seq(groupCol, idCol))

    // L2: equal-n per group via deterministic hash-order cap
    val w = Window.partitionBy(col(groupCol))
      .orderBy(xxhash64(col(idCol), lit(seed)), col(idCol))
    val aligned = joined
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") <= maxPerGroup)
      .drop("__rn")
      .cache()

    // collected while `aligned` is cached: a lazy result would re-run the
    // join and the window on every read after the unpersist below
    def local(df: DataFrame): DataFrame =
      df.sparkSession.createDataFrame(
        java.util.Arrays.asList(df.collect(): _*), df.schema)
    try {
      val counts = local(aligned.groupBy(col(groupCol)).agg(count(lit(1)).as("n"))
        .orderBy(col(groupCol)))

      // A5: cross-space CKA per group (how similarly do the two spaces
      // arrange the same images?)
      val cka = local(aligned.groupBy(col(groupCol))
        .agg(VecAgg.cka(col("__va"), col("__vb")).as("cka"))
        .orderBy(col(groupCol)))

      // M7+M8: group separability in each space; the fitter indexes the
      // group names alphabetically (M7, [[MlOps.indexLabels]]' order)
      val Seq(accA, accB) = MlOps.logregCvAccuracies(
        aligned.withColumn("__g", col(groupCol).cast("string")),
        Seq("__va", "__vb"), "__g", idCol, cvFolds, lrMaxIter)
      SpaceComparison(counts, cka, accA, accB)
    } finally aligned.unpersist()
  }
}
