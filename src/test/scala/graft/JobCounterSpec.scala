package graft

/** [[JobCounter.settle]] brackets a caller's jobs without disturbing the
  * caller: its sentinel runs under its own description, and the caller's
  * description is back in place when it returns. */
class JobCounterSpec extends SparkSpec {

  test("a job description set before settle survives it, and its jobs count") {
    val sc = spark.sparkContext
    val jobs = new JobCounter(sc)
    sc.setJobDescription("caller's work")
    try {
      val before = jobs.settle()
      assert(sc.getLocalProperty("spark.job.description") == "caller's work")
      sc.parallelize(1 to 3, 1).count()
      assert(jobs.settle() - before == 1)
      assert(sc.getLocalProperty("spark.job.description") == "caller's work")
    } finally {
      sc.setJobDescription(null)
      sc.removeSparkListener(jobs)
    }
  }
}
