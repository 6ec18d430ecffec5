package graft.ml

import breeze.linalg.{DenseVector => BDV}
import breeze.optimize.{CachedDiffFunction, DiffFunction, LBFGS}
import graft.Par
import org.apache.spark.ml.classification.GBTClassifier
import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
import org.apache.spark.ml.feature.{PCA, StandardScaler, StringIndexer}
import org.apache.spark.ml.functions.{array_to_vector, vector_to_array}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import scala.collection.mutable
import scala.concurrent.blocking
import scala.util.control.NonFatal

/** MLlib surface (SURVEY.md §2.8 / §7.2 step 3): the reference's analysis
  * stages re-expressed as distributed estimators over the embeddings table.
  * All take (df with an ARRAY<FLOAT> column) and handle the array↔Vector
  * conversion at the boundary, so the rest of the engine stays on plain
  * SQL-typed columns.
  */
object MlOps {

  /** M7: group name → contiguous int id, alphabetic order (matches the
    * reference's sorted() enumerate, src/compare_xception_featuremaps.py:128-137).
    */
  def indexLabels(df: DataFrame, labelCol: String, outCol: String = "label_idx"): DataFrame =
    new StringIndexer()
      .setInputCol(labelCol).setOutputCol(outCol)
      .setStringOrderType("alphabetAsc")
      .fit(df).transform(df)

  /** M4: zero-mean unit-variance scaling of the vector column
    * (src/analyze_embedding_with_pca.py:74-78).
    */
  def standardScale(df: DataFrame, vecCol: String, outCol: String = "scaled"): DataFrame = {
    val withVec = df.withColumn("__v", array_to_vector(col(vecCol)))
    val model = new StandardScaler()
      .setInputCol("__v").setOutputCol("__s")
      .setWithMean(true).setWithStd(true)
      .fit(withVec)
    model.transform(withVec)
      .withColumn(outCol, vector_to_array(col("__s")))
      .drop("__v", "__s")
  }

  /** M5/A11: PCA to k dims + explained-variance ratios
    * (src/analyze_embedding_with_pca.py:80-86). Returns (projected df with
    * outCol ARRAY<DOUBLE>, explainedVariance per component).
    */
  def pca(df: DataFrame, vecCol: String, k: Int = 2,
      outCol: String = "pc"): (DataFrame, Array[Double]) = {
    val withVec = df.withColumn("__v", array_to_vector(col(vecCol)))
    val model = new PCA().setInputCol("__v").setOutputCol("__p").setK(k).fit(withVec)
    val out = model.transform(withVec)
      .withColumn(outCol, vector_to_array(col("__p")))
      .drop("__v", "__p")
    (out, model.explainedVariance.toArray)
  }

  /** Deterministic fold assignment: pmod(xxhash64(id, seed), k) — the
    * engine's seeded-sampling convention (SURVEY.md §4.1) applied to CV.
    */
  def withFold(df: DataFrame, idCol: String, k: Int = 5, seed: Long = 42L): DataFrame =
    df.withColumn("fold", pmod(xxhash64(col(idCol), lit(seed)), lit(k.toLong)).cast("int"))

  /** M8: k-fold CV mean accuracy of logistic regression on (vecCol → labelCol)
    * — the reference's separability score
    * (src/compare_embeddings_vs_features.py:45-47). Deterministic folds via
    * hash of idCol; each fold trains on k-1 folds, scores the held-out one.
    * The one-space call of [[logregCvAccuracies]].
    */
  def logregCvAccuracy(df: DataFrame, vecCol: String, labelCol: String,
      idCol: String, k: Int = 5, maxIter: Int = 100): Double =
    logregCvAccuracies(df, Seq(vecCol), labelCol, idCol, k, maxIter).head

  /** M9: GBT CV accuracy — the in-Spark stand-in for the reference's XGBoost
    * config (src/compare_embeddings_vs_features.py:49-70). Binary labels only
    * (GBTClassifier constraint); callers pre-binarize multiclass.
    */
  def gbtCvAccuracy(df: DataFrame, vecCol: String, labelCol: String,
      idCol: String, k: Int = 5, maxIter: Int = 20): Double = {
    // Separability scoring runs on a bounded sample (a statistical score
    // needs ~1e4-1e5 rows, never the corpus), so coalesce it to a few fat
    // partitions: GBT launches jobs per tree level, and with default
    // parallelism each of those jobs pays full-cluster task-scheduling
    // overhead to move a handful of rows. 8 partitions cut GBT CV wall
    // time 12.3 s → ~4 s at bench scale with identical results (fold
    // assignment is row-hash based, not partition-based).
    val prepared = withFold(df, idCol, k)
      .withColumn("__v", array_to_vector(col(vecCol)))
      .withColumn("__y", col(labelCol).cast("double"))
      .select(col("__v"), col("__y"), col("fold"))
      .repartition(8)
      .cache()
    try {
      val evaluator = new MulticlassClassificationEvaluator()
        .setLabelCol("__y").setPredictionCol("prediction")
        .setMetricName("accuracy")
      // Folds are independent models over the same cached input, so fit
      // them concurrently (what MLlib's CrossValidator.setParallelism
      // does): the fitter spends most of its wall time in per-level job
      // latency, which the scheduler overlaps across folds. ~3× faster at
      // bench scale; results unchanged (each fold gets its own estimator
      // instance and deterministic seed).
      val accs = (0 until k).map { f => Par.fork {
        val gbt = new GBTClassifier()
          .setFeaturesCol("__v").setLabelCol("__y")
          .setMaxIter(maxIter).setMaxDepth(5).setStepSize(0.1)
          .setSubsamplingRate(0.9).setSeed(42L)
        evaluator.evaluate(gbt.fit(prepared.filter(col("fold") =!= f))
          .transform(prepared.filter(col("fold") === f)))
      }}.map(Par.join)
      accs.sum / k
    } finally prepared.unpersist()
  }

  /** One (space, fold) model of [[logregCvAccuracies]] in MLlib's
    * original-feature parameterisation — `coef(c)(j)` and `intercept(c)`
    * per coefficient set: one per class above two classes, one binomial
    * set at two — with its held-out score: `correct` of the `n` rows of
    * fold `fold`.
    */
  private[graft] final case class CvModel(space: Int, fold: Int,
      coef: Array[Array[Double]], intercept: Array[Double],
      correct: Long, n: Long) {
    def accuracy: Double = correct.toDouble / n

    /** MLlib's prediction: the class of the largest margin; with one
      * binomial set, class 1 iff its probability exceeds 0.5. */
    def predict(x: Array[Double]): Int = {
      def margin(c: Int): Double = {
        var m = 0.0
        var j = 0
        while (j < x.length) { m += coef(c)(j) * x(j); j += 1 }
        m + intercept(c)
      }
      if (intercept.length == 1) { if (1.0 / (1.0 + math.exp(-margin(0))) > 0.5) 1 else 0 }
      else intercept.indices.maxBy(margin) // first of equal maxima
    }
  }

  /** k-fold CV accuracy of logistic regression for every space in
    * `vecCols` against one label — the separability score of each space
    * — with all spaces × k models fitted together.
    *
    * Each model minimizes exactly what MLlib's `LogisticRegression` with
    * `regParam` 1e-4 minimizes here, along MLlib's own optimizer
    * trajectory: mean multinomial loss over its training rows (binomial
    * at two classes), features centered and scaled by the training rows'
    * mean and unbiased std, L2 on the standardized coefficients and not
    * on the intercepts, initial coefficients 0 and initial intercepts
    * from the training label counts, each model with its own breeze
    * `LBFGS(maxIter, m = 10, tol = 1e-6)`. What changes is the job shape.
    * MLlib pays one Spark job per loss evaluation per model, so a CV of
    * s spaces × k folds at ~maxIter evaluations each is ~s·k·maxIter jobs
    * of pure launch latency. Here each model's optimizer runs on its own
    * driver thread and hands its next point to one meeting point; once
    * every live model has handed one in, a single pass over the cached
    * sample evaluates loss and gradient for all of them. A CV is then one
    * stats pass, one pass per evaluation round (≈ maxIter + 1, the
    * longest model's count), and one scoring pass.
    *
    * Labels: a string column is indexed alphabetically
    * ([[indexLabels]]' order); a numeric one must hold class indices, as
    * MLlib requires. A model's class count is its training rows' largest
    * index + 1, as in MLlib. Every pass merges its per-partition results
    * on the driver in partition order, so the fit is deterministic.
    * Result: per space, the mean over folds of correct / fold rows.
    */
  private[graft] def logregCvAccuracies(df: DataFrame, vecCols: Seq[String],
      labelCol: String, idCol: String, k: Int, maxIter: Int): Seq[Double] = {
    val models = logregCvModels(df, vecCols, labelCol, idCol, k, maxIter)
    vecCols.indices.map(s => models.filter(_.space == s).map(_.accuracy).sum / k)
  }

  private val LogregReg = 1e-4

  /** (fold, label, one vector per space) */
  private type CvRow = (Int, Any, Array[Array[Double]])

  /** The fitted models of [[logregCvAccuracies]], space-major. */
  private[graft] def logregCvModels(df: DataFrame, vecCols: Seq[String],
      labelCol: String, idCol: String, k: Int, maxIter: Int): Seq[CvModel] = {
    val spaces = vecCols.length
    val byName = df.schema(labelCol).dataType == StringType
    // the bounded sample in a few fat partitions (see gbtCvAccuracy)
    val rows = withFold(df, idCol, k)
      .select(col("fold") +: (if (byName) col(labelCol) else col(labelCol).cast("double")) +:
        vecCols.map(c => col(c).cast("array<double>")): _*)
      .repartition(8)
      .rdd.map { r =>
        require(!r.isNullAt(1), s"null label in $labelCol")
        (r.getInt(0), r.get(1), Array.tabulate(spaces)(s => r.getSeq[Double](s + 2).toArray))
      }
      .persist()
    val sc = rows.sparkContext
    try {
      // stats pass: per fold, label counts and per-space moments
      val parts = rows.mapPartitions(it => Iterator(FoldStats.of(it, k, spaces))).collect()
      val folds = (0 until k).map(f => FoldStats.merged(spaces, parts.map(_(f)).toSeq))
      val labels = folds.flatMap(_.labels.keys).distinct
      val index: Map[Any, Int] =
        if (byName) labels.map(_.asInstanceOf[String]).sorted.zipWithIndex.toMap
        else labels.map { case v: Double =>
          require(v >= 0 && v == math.floor(v), s"label $v in $labelCol is not a class index")
          (v: Any) -> v.toInt
        }.toMap
      val fits = for (s <- 0 until spaces; f <- 0 until k) yield {
        val train = FoldStats.merged(spaces, folds.patch(f, Nil, 1))
        require(train.n > 0, s"fold $f leaves no training rows")
        val hist = new Array[Long](train.labels.keys.map(index).max + 1)
        train.labels.foreach { case (y, n) => hist(index(y)) += n }
        LogregFit(s, f, hist, train.n, train.mean(s), train.std(s))
      }
      val bFits = sc.broadcast(fits.toArray)
      val bIndex = sc.broadcast(index)
      val rounds = new LogregRounds(fits.count(!_.constant), { batch =>
        val ids = batch.keys.toArray.sorted
        val bPoints = sc.broadcast(ids.map(batch))
        try {
          val sums = rows.mapPartitions(it => Iterator(
            LogregFit.lossGradSums(it, ids, bPoints.value, bFits.value, bIndex.value)))
            .collect()
          ids.indices.map(i => ids(i) -> fits(ids(i)).objective(batch(ids(i)), sums.map(_(i)))).toMap
        } finally bPoints.destroy()
      })
      val solved = fits.indices.map { m =>
        if (fits(m).constant) None
        else Some(Par.fork {
          try {
            val lbfgs = new LBFGS[BDV[Double]](maxIter, 10, 1e-6)
            val loss = new DiffFunction[BDV[Double]] {
              def calculate(x: BDV[Double]): (Double, BDV[Double]) = {
                val (l, g) = rounds.evaluate(m, x.toArray)
                (l, new BDV(g))
              }
            }
            val states = lbfgs.iterations(new CachedDiffFunction(loss), new BDV(fits(m).init))
            var x = fits(m).init
            while (states.hasNext) x = states.next().x.toArray
            x
          } finally rounds.done()
        })
      }.map(_.map(Par.join))
      bFits.destroy()
      val unscored = fits.zip(solved).map { case (fit, x) => fit.model(x, folds(fit.fold).n) }
      // scoring pass: each row against its own fold's model in every space
      val bModels = sc.broadcast(unscored.toArray)
      val correct = try {
        rows.mapPartitions { it =>
          val models = bModels.value
          val idx = bIndex.value
          val c = new Array[Long](models.length)
          it.foreach { case (f, y, xs) =>
            var s = 0
            while (s < spaces) {
              val m = s * k + f
              if (models(m).predict(xs(s)) == idx(y)) c(m) += 1
              s += 1
            }
          }
          Iterator(c)
        }.collect().reduce((a, b) => a.zip(b).map { case (x, y) => x + y })
      } finally { bModels.destroy(); bIndex.destroy() }
      unscored.zip(correct).map { case (m, c) => m.copy(correct = c) }
    } finally rows.unpersist()
  }

  /** One fold's share of the sample: row count, label counts, and per
    * space the Welford mean and sum of squared deviations per feature
    * (MLlib's `Summarizer` update and merge, for dense rows). */
  private final class FoldStats(spaces: Int) extends Serializable {
    var n = 0L
    val labels = mutable.Map.empty[Any, Long]
    private val mu = new Array[Array[Double]](spaces)
    private val m2 = new Array[Array[Double]](spaces)

    def add(y: Any, xs: Array[Array[Double]]): Unit = {
      n += 1
      labels(y) = labels.getOrElse(y, 0L) + 1
      var s = 0
      while (s < spaces) {
        val x = xs(s)
        if (mu(s) == null) { mu(s) = new Array[Double](x.length); m2(s) = new Array[Double](x.length) }
        val (a, q) = (mu(s), m2(s))
        var j = 0
        while (j < x.length) {
          val diff = x(j) - a(j)
          a(j) += diff / n
          q(j) += (x(j) - a(j)) * diff
          j += 1
        }
        s += 1
      }
    }

    def merge(o: FoldStats): Unit = if (o.n > 0) {
      o.labels.foreach { case (y, c) => labels(y) = labels.getOrElse(y, 0L) + c }
      (0 until spaces).foreach { s =>
        if (mu(s) == null) { mu(s) = o.mu(s).clone(); m2(s) = o.m2(s).clone() }
        else {
          var j = 0
          while (j < mu(s).length) {
            val delta = o.mu(s)(j) - mu(s)(j)
            mu(s)(j) += delta * o.n / (n + o.n)
            m2(s)(j) += o.m2(s)(j) + delta * delta * n * o.n / (n + o.n)
            j += 1
          }
        }
      }
      n += o.n
    }

    def mean(s: Int): Array[Double] = mu(s)
    def std(s: Int): Array[Double] =
      m2(s).map(q => if (n > 1) math.sqrt(math.max(q / (n - 1), 0.0)) else 0.0)
  }

  private object FoldStats {
    def of(rows: Iterator[CvRow], k: Int, spaces: Int): Array[FoldStats] = {
      val out = Array.fill(k)(new FoldStats(spaces))
      rows.foreach { case (f, y, xs) => out(f).add(y, xs) }
      out
    }
    /** The union of `parts`, merged in order into a fresh accumulator. */
    def merged(spaces: Int, parts: Seq[FoldStats]): FoldStats = {
      val out = new FoldStats(spaces)
      parts.foreach(out.merge)
      out
    }
  }

  /** One (space, fold) model's fixed inputs: its training label counts
    * `hist` (class index → rows), row count, and feature mean and std.
    * Parameters are laid out `sets × d` coefficients (set-major) then
    * `sets` intercepts, in the standardized, centered feature space. */
  private final case class LogregFit(space: Int, fold: Int, hist: Array[Long],
      nTrain: Long, mean: Array[Double], std: Array[Double]) {
    def d: Int = mean.length
    def classes: Int = hist.length
    def sets: Int = if (classes > 2) classes else 1
    /** one class present: MLlib fits nothing and predicts it */
    def constant: Boolean = hist.count(_ > 0) == 1
    val invStd: Array[Double] = std.map(v => if (v != 0.0) 1.0 / v else 0.0)

    def init: Array[Double] = {
      val x = new Array[Double](sets * (d + 1))
      if (sets == 1) x(d) = math.log(hist(1).toDouble / hist(0))
      else {
        val raw = hist.map(c => math.log1p(c.toDouble))
        val avg = raw.sum / raw.length
        raw.indices.foreach(c => x(sets * d + c) = raw(c) - avg)
      }
      x
    }

    /** MLlib's objective from the summed data loss (`sums(·)(0)`) and
      * gradient (`sums(·)(1..)`) of every partition. */
    def objective(w: Array[Double], sums: Array[Array[Double]]): (Double, Array[Double]) = {
      val total = new Array[Double](w.length + 1)
      sums.foreach(p => p.indices.foreach(i => total(i) += p(i)))
      val grad = Array.tabulate(w.length)(i => total(i + 1) / nTrain)
      var sq = 0.0
      (0 until sets * d).foreach { i => sq += w(i) * w(i); grad(i) += w(i) * LogregReg }
      (total(0) / nTrain + 0.5 * sq * LogregReg, grad)
    }

    /** The solved model back in original feature space, as MLlib
      * reports it; `solution` None for a constant label. */
    def model(solution: Option[Array[Double]], nHeldOut: Long): CvModel = {
      val coef = Array.fill(sets)(new Array[Double](d))
      val intercept = new Array[Double](sets)
      solution match {
        case None =>
          if (sets > 1) intercept(classes - 1) = Double.PositiveInfinity
          else intercept(0) = if (classes == 2) Double.PositiveInfinity else Double.NegativeInfinity
        case Some(w) =>
          for (c <- 0 until sets) {
            var adapt = 0.0
            for (j <- 0 until d) {
              val wj = w(c * d + j)
              if (std(j) != 0.0) coef(c)(j) = wj / std(j)
              adapt += wj * (invStd(j) * mean(j))
            }
            intercept(c) = w(sets * d + c) - adapt
          }
          if (sets > 1) {
            val avg = intercept.sum / sets
            intercept.indices.foreach(c => intercept(c) -= avg)
          }
      }
      CvModel(space, fold, coef, intercept, 0L, nHeldOut)
    }
  }

  private object LogregFit {
    private def log1pExp(x: Double): Double =
      if (x > 0) x + math.log1p(math.exp(-x)) else math.log1p(math.exp(x))

    /** One partition's summed loss and gradient for each model `ids(i)`
      * at `points(i)`, over the rows outside that model's fold. */
    def lossGradSums(rows: Iterator[CvRow], ids: Array[Int], points: Array[Array[Double]],
        fits: Array[LogregFit], index: Map[Any, Int]): Array[Array[Double]] = {
      val out = points.map(p => new Array[Double](p.length + 1))
      rows.foreach { case (f, y0, xs) =>
        val y = index(y0)
        var i = 0
        while (i < ids.length) {
          val fit = fits(ids(i))
          if (fit.fold != f) add(fit, points(i), xs(fit.space), y, out(i))
          i += 1
        }
      }
      out
    }

    private def add(fit: LogregFit, w: Array[Double], x: Array[Double], y: Int,
        acc: Array[Double]): Unit = {
      val d = fit.d
      val sets = fit.sets
      val z = Array.tabulate(d)(j => (x(j) - fit.mean(j)) * fit.invStd(j))
      val margins = Array.tabulate(sets) { c =>
        var m = w(sets * d + c)
        var j = 0
        while (j < d) { m += w(c * d + j) * z(j); j += 1 }
        m
      }
      val mult =
        if (sets == 1) {
          val margin = -margins(0)
          acc(0) += (if (y > 0) log1pExp(margin) else log1pExp(margin) - margin)
          Array(1.0 / (1.0 + math.exp(margin)) - y)
        } else {
          val max = margins.max
          val e = margins.map(m => math.exp(m - max))
          val sum = e.sum
          acc(0) += math.log(sum) + max - margins(y)
          Array.tabulate(sets)(c => e(c) / sum - (if (c == y) 1.0 else 0.0))
        }
      var c = 0
      while (c < sets) {
        var j = 0
        while (j < d) { acc(1 + c * d + j) += mult(c) * z(j); j += 1 }
        acc(1 + sets * d + c) += mult(c)
        c += 1
      }
    }
  }

  /** The meeting point of the per-model optimizers: each hands in its
    * next point and blocks; once every live model has handed one in (or
    * finished), the last to arrive evaluates the whole batch as one
    * Spark job on its own thread, and every waiter takes its result. A
    * failed evaluation fails every waiting model. */
  private final class LogregRounds(private var live: Int,
      evaluate: Map[Int, Array[Double]] => Map[Int, (Double, Array[Double])]) {
    private val pending = mutable.Map.empty[Int, Array[Double]]
    private val results = mutable.Map.empty[Int, (Double, Array[Double])]
    private var failure: Option[Throwable] = None

    def evaluate(m: Int, x: Array[Double]): (Double, Array[Double]) = synchronized {
      pending(m) = x
      runIfComplete()
      while (!results.contains(m) && failure.isEmpty) blocking(wait())
      failure.foreach(e => throw e)
      results.remove(m).get
    }

    def done(): Unit = synchronized { live -= 1; runIfComplete() }

    private def runIfComplete(): Unit =
      if (pending.nonEmpty && pending.size == live) {
        val batch = pending.toMap
        pending.clear()
        try results ++= evaluate(batch)
        catch { case NonFatal(e) => failure = Some(e) }
        notifyAll()
      }
  }

  /** M10: feature concatenation [emb ‖ feat]
    * (src/combined_embedding_features_comprations.py:218).
    */
  def concatFeatures(df: DataFrame, aCol: String, bCol: String,
      outCol: String = "combined"): DataFrame =
    df.withColumn(outCol, concat(col(aCol), col(bCol)))
}
