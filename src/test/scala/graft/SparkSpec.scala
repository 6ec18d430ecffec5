package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all specs. Mirrors the harness configs
  * (UTC, small shuffle partition count) so spec results match Verify runs.
  */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  val sf001 = "/root/testdata/sf0.001"
  val sf01 = "/root/testdata/sf0.01"
  val sf1 = "/root/testdata/sf0.1"

  /** The Spark jobs started while `f` runs, counted by [[JobCounter]]. */
  protected def jobsDuring(f: => Unit): Long = {
    val jobs = new JobCounter(spark.sparkContext)
    try { val before = jobs.settle(); f; jobs.settle() - before }
    finally spark.sparkContext.removeSparkListener(jobs)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-spec")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .withExtensions(new graft.expressions.GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    // release the memoized artifacts, and with them every Artifact.scratch
    // directory, when the test JVM exits. Hadoop runs higher priorities
    // first: at 50 this runs before Spark's own hook (40) stops the
    // context, where a plain JVM hook would race it
    org.apache.hadoop.util.ShutdownHookManager.get().addShutdownHook(
      () => SessionMemo.releaseAll(s), 50)
    s
  }
}
