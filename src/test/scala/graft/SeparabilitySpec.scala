package graft

import graft.ml.MlOps
import graft.pipelines.DeepfakeAnalysis
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.evaluation.MulticlassClassificationEvaluator
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The separability score's fused CV fitter against MLlib's own
  * `LogisticRegression`, model for model, and the job shape it buys. */
class SeparabilitySpec extends SparkSpec {
  import spark.implicits._

  /** 3 overlapping classes × 40 rows; space `a` (5-d) separates them
    * better than space `b` (3-d). */
  private lazy val fixture: DataFrame = {
    val rng = new scala.util.Random(11)
    val rows = for (c <- 0 until 3; i <- 0 until 40) yield {
      val a = Array.tabulate(5)(j => (if (j == c) 1.5 else 0.0) + rng.nextGaussian())
      val b = Array.tabulate(3)(j => (if (j == c) 0.6 else 0.1 * j) + rng.nextGaussian())
      (c * 1000L + i, Seq("adm", "biggan", "wukong")(c), c.toDouble, c % 2 * 1.0, a.toSeq, b.toSeq)
    }
    rows.toDF("id", "group", "y", "y2", "a", "b").cache()
  }

  private def mllib(df: DataFrame, vecCol: String, labelCol: String, k: Int,
      maxIter: Int) = {
    val folded = MlOps.withFold(df, "id", k)
      .select(array_to_vector(col(vecCol)).as("v"), col(labelCol).as("l"), col("fold"))
    (0 until k).map { f =>
      val m = new LogisticRegression().setFeaturesCol("v").setLabelCol("l")
        .setMaxIter(maxIter).setRegParam(1e-4)
        .fit(folded.filter(col("fold") =!= f))
      val acc = new MulticlassClassificationEvaluator().setLabelCol("l")
        .setMetricName("accuracy").evaluate(m.transform(folded.filter(col("fold") === f)))
      (m, acc)
    }
  }

  private def assertClose(got: Array[Double], want: Array[Double], what: String): Unit = {
    val scale = math.max(want.map(math.abs).max, 1e-12)
    val err = got.zip(want).map { case (x, y) => math.abs(x - y) }.max
    assert(err <= 1e-6 * scale, s"$what: max |diff| $err vs scale $scale\n" +
      s"got  ${got.toSeq}\nwant ${want.toSeq}")
  }

  test("fused CV fits equal MLlib LogisticRegression model for model: 3 classes, 2 spaces, 3 folds, and binomial") {
    val maxIter = 30
    def check(labelCol: String, spaces: Seq[String]): Unit = {
      val fused = MlOps.logregCvModels(fixture, spaces, labelCol, "id", 3, maxIter)
      assert(fused.map(m => (m.space, m.fold)) ==
        (for (s <- spaces.indices; f <- 0 until 3) yield (s, f)))
      spaces.zipWithIndex.foreach { case (space, s) =>
        mllib(fixture, space, labelCol, 3, maxIter).zipWithIndex.foreach { case ((m, acc), f) =>
          val mine = fused(s * 3 + f)
          val what = s"$labelCol/$space/fold $f"
          assert(mine.accuracy == acc, what)
          val sets = mine.intercept.length
          assert(m.coefficientMatrix.numRows == sets, what)
          assertClose(mine.coef.flatten,
            Array.tabulate(sets, m.numFeatures)((c, j) => m.coefficientMatrix(c, j)).flatten,
            s"$what coefficients")
          assertClose(mine.intercept, m.interceptVector.toArray, s"$what intercepts")
        }
      }
    }
    check("y", Seq("a", "b"))
    check("y2", Seq("a"))
    // a string label is indexed alphabetically: the same classes as y
    assert(MlOps.logregCvAccuracies(fixture, Seq("a", "b"), "group", "id", 3, maxIter) ==
      MlOps.logregCvAccuracies(fixture, Seq("a", "b"), "y", "id", 3, maxIter))
  }

  test("the separability step starts at most 2·maxIter + 4 jobs, the same on every run") {
    val maxIter = 12
    val jobs = new JobCounter(spark.sparkContext)
    try {
      val counts = Seq.fill(2) {
        val before = jobs.settle()
        MlOps.logregCvAccuracy(fixture, "a", "y", "id", k = 3, maxIter = maxIter)
        jobs.settle() - before
      }
      assert(counts.head == counts(1), s"jobs per fit differ: $counts")
      assert(counts.head <= 2 * maxIter + 4,
        s"${counts.head} jobs for a 3-fold CV at maxIter $maxIter")
    } finally spark.sparkContext.removeSparkListener(jobs)
  }

  test("compareSpaces returns its per-group relations collected: reading them starts no job") {
    val a = fixture.select(col("group"), col("id"), col("a").as("v"))
    val b = fixture.select(col("group"), col("id"), col("b").as("v"))
    val out = DeepfakeAnalysis.compareSpaces(a, b, "v", "id", "group",
      maxPerGroup = 30, cvFolds = 2, lrMaxIter = 5)
    val jobs = new JobCounter(spark.sparkContext)
    try {
      val before = jobs.settle()
      val counts = out.alignedCounts.collect()
      val cka = out.ckaPerGroup.collect()
      assert(jobs.settle() - before == 0)
      assert(counts.map(r => r.getString(0) -> r.getLong(1)).toSeq ==
        Seq("adm" -> 30L, "biggan" -> 30L, "wukong" -> 30L))
      assert(cka.map(_.getString(0)).toSeq == Seq("adm", "biggan", "wukong"))
    } finally spark.sparkContext.removeSparkListener(jobs)
  }
}
