package graft

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Counts the Spark jobs started in `sc` from construction on (it
  * registers itself; `sc.removeSparkListener` ends it). Listener events
  * arrive in order but asynchronously, so [[settle]] runs one marked
  * sentinel job and waits for its start event: by then every job started
  * before it has been counted. With one query running at a time, the
  * difference of two settled reads is exactly that query's jobs.
  */
final class JobCounter(sc: SparkContext) extends SparkListener {
  private val Sentinel = "graft-job-counter-sentinel"
  private val started = new java.util.concurrent.atomic.AtomicLong
  private val sentinels = new java.util.concurrent.Semaphore(0)
  sc.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit =
    if (Option(e.properties)
        .exists(_.getProperty("spark.job.description") == Sentinel))
      sentinels.release()
    else { started.incrementAndGet(); () }

  /** Jobs started so far, sentinels excluded, read once every job started
    * before this call has been delivered. The caller's job description
    * survives the call; a sentinel that never arrives (the counter was
    * removed, or the listener bus is stuck) fails loudly instead of
    * returning a short count. */
  def settle(): Long = {
    val caller = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(Sentinel)
    try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(caller)
    if (!sentinels.tryAcquire(60, java.util.concurrent.TimeUnit.SECONDS))
      throw new IllegalStateException(
        "job counter saw no sentinel job within 60 s: the count would be short")
    started.get
  }
}
