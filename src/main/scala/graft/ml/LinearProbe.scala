package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Cross-engine-exact LINEAR PROBE: ridge regression of a ±1 label on the
  * quantized embeddings, solved by a fixed number of conjugate-gradient
  * rounds on the exact normal equations — the standard "how separable are
  * these representations" probe ([[MlOps.logregCvAccuracy]]'s float
  * LBFGS fit, MLlib's objective and optimizer, stays rows-only; this is
  * its replayable twin, the [[PowerIter]] recipe extended from
  * eigen-solve to OPTIMIZATION).
  *
  * Why CG and not logistic GD: every CG operation is a matvec, a dot, a
  * divide, or an axpy — integer-exact gram entries, DECIMAL-boundary sums,
  * IEEE divides. No exp/sigmoid anywhere, and libm `exp` is NOT
  * correctly-rounded (JVM vs DuckDB may differ in the last ulp), which
  * would poison a cross-engine gate. Ridge + sign readout gives the same
  * separability signal with exactly replayable arithmetic.
  *
  * Exactness inventory: A = XᵀX/2³⁰ + I (gram exact integers, one double
  * rounding each, exact power-of-two scaling, unit ridge), b = Xᵀy/2³⁰
  * (y = ±1, exact), CG state updates are per-element IEEE (mul-then-add,
  * identical order both engines), all reductions through DECIMAL(38,18).
  * Fixed `rounds` — convergence is the SPEC's claim (accuracy vs MLlib),
  * never the oracle's.
  *
  * Scale shape: two corpus passes (gram + b) and one scoring pass; the CG
  * itself runs on d²-bounded local relations with 64-row collects per
  * round ([[PowerIter]]'s materialization discipline).
  */
object LinearProbe {

  /** 2^30 — exact power-of-two gram scaling, sized so every CG
    * intermediate stays far inside DECIMAL(38,18) range (A entries ≤ ~62
    * at sf0.1, spectral norm ≲ 4e3, per-term dot products ≤ ~4e7) while
    * the unit ridge stays a MILD regularizer against the ~62-scale gram
    * diagonal. */
  val GramScale: Double = 1073741824.0

  private def dsum18(c: Column): Column =
    sum(c.cast(DecimalType(38, 18))).cast(DoubleType)

  /** `lf`: (vec_id, pos, q, y) with q the quantized component and y ∈
    * {-1.0, +1.0} constant per vec_id. Returns the weight vector after
    * `rounds` CG iterations as (i, w).
    */
  def fitCg(lf: DataFrame, dim: Int, rounds: Int): Seq[(Int, Double)] = {
    // same d-bound and cost model as PowerIter.leadingTwoLocal: the gram
    // explode is folded by the map-side partial agg (shuffle = partitions
    // × d² rows, never n·d²), but the per-task d²-group hash table and
    // O(n·d²) local work bound the exact path to narrow embeddings; the
    // reference's d=2048 belongs on the float LBFGS probe this twins.
    require(dim <= 256,
      s"exact gram is bounded to dim <= 256 (got $dim); use MlOps.logregCvAccuracy for wide embeddings")
    val spark = lf.sparkSession
    import spark.implicits._
    // A = XᵀX / 2^30 + I  (exact ints -> one rounding -> exact scaling)
    val aRows = lf.as("a").join(lf.as("b"), "vec_id")
      .groupBy(col("a.pos").as("i"), col("b.pos").as("j"))
      .agg((sum((col("a.q") * col("b.q")).cast(DecimalType(38, 0)))
        .cast(DoubleType) / lit(GramScale)).as("ad"))
      .collect().map(r => (r.getInt(0), r.getInt(1),
        r.getDouble(2) + (if (r.getInt(0) == r.getInt(1)) 1.0 else 0.0)))
    require(aRows.length == dim * dim, s"gram has ${aRows.length} entries")
    val aLocal = aRows.toSeq.toDF("i", "j", "ad")
    // b = Xᵀy / 2^30 (y = ±1 -> q*y exact integer)
    val b = lf.groupBy(col("pos").as("i"))
      .agg((sum((col("q") * col("y")).cast(DecimalType(38, 0)))
        .cast(DoubleType) / lit(GramScale)).as("bd"))
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap

    def dot(u: Seq[(Int, Double)], v: Seq[(Int, Double)]): Double = {
      val vm = v.toMap
      u.map { case (i, x) => (i, x, vm(i)) }.toDF("i", "x", "yv")
        .agg(dsum18(col("x") * col("yv"))).collect()(0).getDouble(0)
    }
    def matvec(p: Seq[(Int, Double)]): Seq[(Int, Double)] = {
      val pDf = p.toDF("vi", "x")
      aLocal.join(pDf, aLocal("j") === pDf("vi"))
        .groupBy(aLocal("i").as("i"))
        .agg(dsum18(col("ad") * col("x")).as("x"))
        .collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq.sortBy(_._1)
    }

    // CG from w = 0: r0 = p0 = b
    var w: Seq[(Int, Double)] = (0 until dim).map(i => (i, 0.0))
    var r: Seq[(Int, Double)] = (0 until dim).map(i => (i, b(i)))
    var p = r
    var rs = dot(r, r)
    for (_ <- 1 to rounds) {
      val ap = matvec(p)
      val pap = dot(p, ap)
      // converged-to-truncation guard: once the DECIMAL(38,18)-rounded
      // residual hits exactly 0 the whole state freezes (p collapses to
      // the zero vector), so remaining rounds are deterministic no-ops on
      // both engines instead of 0/0 NaN poisoning the sums
      val alpha = if (pap == 0.0) 0.0 else rs / pap
      val apm = ap.toMap; val pm = p.toMap
      w = w.map { case (i, x) => (i, x + alpha * pm(i)) }
      r = r.map { case (i, x) => (i, x - alpha * apm(i)) }
      val rsNew = dot(r, r)
      val beta = if (rs == 0.0) 0.0 else rsNew / rs
      val rm = r.toMap
      p = p.map { case (i, x) => (i, rm(i) + beta * x) }
      rs = rsNew
    }
    w
  }

  /** Per-label probe report: score every vector through the fitted weights
    * (one corpus-scale pass, DECIMAL dot per row), predict by sign, and
    * report exact counts — `(label, n, n_pred_pos, n_correct)` under
    * y = +1 iff label < posBelow.
    */
  def probeReport(lf: DataFrame, dim: Int, rounds: Int,
      posBelow: Int): DataFrame = {
    val w = fitCg(withSign(lf, posBelow).select(col("vec_id"), col("pos"),
      col("q"), col("y")), dim, rounds)
    reportWith(lf, w, posBelow)
  }

  private def withSign(lf: DataFrame, posBelow: Int): DataFrame =
    lf.withColumn("y", when(col("label") < posBelow, 1.0).otherwise(-1.0))

  /** [[probeReport]] against precomputed (memoized) weights — times the
    * recurring scoring pass, not the build-once CG solve.
    */
  def reportWith(lf: DataFrame, w: Seq[(Int, Double)],
      posBelow: Int): DataFrame = {
    val labeled = withSign(lf, posBelow)
    val spark = lf.sparkSession
    import spark.implicits._
    val wDf = w.toDF("wi", "wx")
    labeled
      .join(wDf, col("pos") === col("wi"))
      .groupBy(col("vec_id"), col("label"), col("y"))
      .agg(dsum18(col("q").cast("double") * col("wx")).as("s"))
      .groupBy(col("label"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(when(col("s") > 0, 1L).otherwise(0L)).cast("long")
          .as("n_pred_pos"),
        sum(when((col("s") > 0) === (col("y") > 0), 1L).otherwise(0L))
          .cast("long").as("n_correct"))
  }
}
