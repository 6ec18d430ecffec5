package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

import scala.collection.mutable

class ParSpec extends SparkSpec {

  test("a forked branch's jobs carry the caller's job group and description") {
    val sc = spark.sparkContext
    val seen = mutable.ArrayBuffer.empty[(String, String)]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = seen.synchronized {
        seen += (e.properties.getProperty("spark.jobGroup.id") ->
          e.properties.getProperty("spark.job.description"))
      }
    }
    val jobs = new JobCounter(sc)
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup("par-spec-caller", "forked work", interruptOnCancel = false)
      val branches = try (1 to 3).map(i => Par.fork(sc.parallelize(1 to i, 1).count()))
        finally sc.clearJobGroup()
      assert(branches.map(Par.join) == Seq(1L, 2L, 3L))
      // a caller without a group: its branch carries none, whatever group
      // the pool thread ran under before
      assert(Par.join(Par.fork(sc.parallelize(1 to 4, 1).count())) == 4L)
      jobs.settle()
      val got = seen.synchronized(seen.toList)
      assert(got.count(_ == ("par-spec-caller" -> "forked work")) == 3, got)
      assert(got.count(_._1 == null) == got.size - 3, got)
    } finally {
      sc.removeSparkListener(listener)
      sc.removeSparkListener(jobs)
    }
  }
}
