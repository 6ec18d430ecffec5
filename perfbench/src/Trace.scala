package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlanInfo}
import org.apache.spark.sql.execution.ui.{SparkListenerDriverAccumUpdates,
  SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** The per-layer record. Spans are opened by the benchmark around its own
  * calls into each engine module ([[Engine]]); nothing inside the engine
  * is instrumented. A span carries its module name, start and end, its
  * parent span and the id of the operation it belongs to. Each span sets
  * a Spark job group, so the jobs its calls launch are attributed to it;
  * jobs that lost the group (work forked onto a thread pool) are
  * attributed by time to the innermost span open when they started —
  * exact, because one client issues one operation at a time.
  *
  * Spans and listener events are kept in memory and reduced into named
  * metrics once, when the run ends.
  */
object Trace {

  final class Span(val id: Long, val op: Long, val module: String,
      val parent: Long, val start: Long) {
    var end: Long = 0L
    var failed: Boolean = false
    var children: Long = 0L // nanoseconds covered by direct child spans
  }

  private final case class Job(id: Int, startMs: Long, var endMs: Long,
      group: Option[String], stages: Seq[Int])

  private final class StageAgg {
    var tasks = 0L; var failures = 0L
    var runMs = 0L; var cpuNs = 0L
    var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  }

  private val GroupPrefix = "perfbench-span-"

  @volatile private var sc: SparkContext = _
  private var on = false
  private var nextSpan = 0L
  private var op = 0L
  private var stack: List[Span] = Nil
  private val spans = mutable.ArrayBuffer.empty[Span]

  // listener state, written on the listener-bus thread
  private val jobs = mutable.ArrayBuffer.empty[Job]
  private val jobById = mutable.HashMap.empty[Int, Job]
  private val stages = mutable.HashMap.empty[Int, StageAgg]
  private var stagesDone = 0L
  private var catalystNs = 0L
  private var outFiles = 0L
  private var outBytes = 0L
  // nanoTime - currentTimeMillis*1e6: maps listener wall-clock stamps
  // onto the span clock
  private val clockSkew = System.nanoTime() - System.currentTimeMillis() * 1000000L
  // traced segments, (start, end) on the span clock
  private val segments = mutable.ArrayBuffer.empty[(Long, Long)]
  private var segmentStart = 0L

  def enabled: Boolean = on

  /** Start a traced segment: register both listeners and open spans
    * from here on. */
  def start(spark: SparkSession): Unit = {
    sc = spark.sparkContext
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
    on = true
    segmentStart = System.nanoTime()
  }

  /** Close the traced segment once every job it launched has ended, so
    * late listener events are not lost. */
  def stop(spark: SparkSession): Unit = {
    val deadline = System.nanoTime() + 5000000000L
    def open = jobs.synchronized(jobs.count(_.endMs == 0L))
    while (open > 0 && System.nanoTime() < deadline) Thread.sleep(5)
    segments += ((segmentStart, System.nanoTime()))
    on = false
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  /** Runs `f` as one traced segment. */
  def traced[A](spark: SparkSession)(f: => A): A = {
    start(spark)
    try f finally stop(spark)
  }

  /** A new operation: the spans opened until the next call share its id. */
  def nextOp(): Unit = op += 1

  def span[A](module: String)(f: => A): A =
    if (!on) f
    else {
      nextSpan += 1
      val parent = stack.headOption
      val s = new Span(nextSpan, op, module, parent.fold(0L)(_.id), System.nanoTime())
      stack = s :: stack
      sc.setJobGroup(GroupPrefix + s.id, module, interruptOnCancel = false)
      try f
      catch { case e: Throwable => s.failed = true; throw e }
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        parent match {
          case Some(p) =>
            p.children += s.end - s.start
            sc.setJobGroup(GroupPrefix + p.id, p.module, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
        spans.synchronized(spans += s)
      }
    }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.synchronized {
      val g = Option(e.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id")))
      val j = Job(e.jobId, e.time, 0L, g, e.stageIds)
      jobs += j; jobById(e.jobId) = j
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobs.synchronized {
      jobById.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      jobs.synchronized { stagesDone += 1 }
    override def onOtherEvent(e: SparkListenerEvent): Unit = jobs.synchronized {
      e match {
        case s: SparkListenerSQLExecutionStart => writerMetrics(s.sparkPlanInfo)
        case u: SparkListenerSQLAdaptiveExecutionUpdate => writerMetrics(u.sparkPlanInfo)
        case d: SparkListenerDriverAccumUpdates => d.accumUpdates.foreach { case (id, v) =>
          if (fileAccums(id)) outFiles += v
          if (byteAccums(id)) outBytes += v
        }
        case _ => ()
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = jobs.synchronized {
      val a = stages.getOrElseUpdate(e.stageId, new StageAgg)
      a.tasks += 1
      if (e.reason != org.apache.spark.Success) a.failures += 1
      val m = e.taskMetrics
      if (m != null) {
        a.runMs += m.executorRunTime
        a.cpuNs += m.executorCpuTime
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  // accumulator ids of the file writers' "number of written files" and
  // "written output" metrics, learned from the SQL execution events
  private val fileAccums = mutable.HashSet.empty[Long]
  private val byteAccums = mutable.HashSet.empty[Long]
  private def writerMetrics(p: SparkPlanInfo): Unit = {
    p.metrics.foreach { m =>
      if (m.name == "number of written files") fileAccums += m.accumulatorId
      if (m.name == "written output") byteAccums += m.accumulatorId
    }
    p.children.foreach(writerMetrics)
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases
      val ns = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs * 1000000L).sum
      jobs.synchronized { catalystNs += ns }
    }
  }

  /** Every module the benchmark enters, in report order. */
  val Modules: Seq[String] = Seq(
    "sources.ImageIngest", "sources.Embedder",
    "pipelines.DeepfakeAnalysis", "pipelines.CorpusCuration",
    "ml.MlOps", "ml.Reduce2d",
    "operators.VecAgg", "functions.TextOps", "operators.Dedup",
    "operators.InvertedIndex", "operators.SimilaritySearch",
    "operators.HybridRetrieval",
    "streaming.StreamingLexIndex", "streaming.StreamingVecIndex")

  /** Reduce the record to named metrics: per module calls, self time,
    * jobs, task CPU, failures and the median call time; the `spark`
    * layer's totals over the traced segment. */
  def metrics(cores: Int): Seq[(String, Double)] = jobs.synchronized {
    val all = spans.synchronized(spans.toVector)
    val byId = all.map(s => s.id -> s).toMap
    // a job belongs to the span named by its group, else to the innermost
    // span open when it started
    val ordered = all.sortBy(_.start)
    def innermostAt(t: Long): Option[Span] =
      ordered.filter(s => s.start <= t && t <= s.end).sortBy(-_.start).headOption
    var byGroup = 0; var byTime = 0; var unattributed = 0
    val owner: Map[Int, Option[Span]] = jobs.map { j =>
      val t = j.startMs * 1000000L + clockSkew
      // a pooled thread keeps the group it inherited when it was created,
      // so a group whose span was not open when the job started is stale
      val viaGroup = j.group.filter(_.startsWith(GroupPrefix))
        .flatMap(g => byId.get(g.stripPrefix(GroupPrefix).toLong))
        .filter(s => s.start - 2000000L <= t && t <= s.end + 2000000L)
      val s = viaGroup.orElse(innermostAt(t))
      if (viaGroup.isDefined) byGroup += 1
      else if (s.isDefined) byTime += 1
      else unattributed += 1
      j.id -> s
    }.toMap
    val stageOwner: Map[Int, Option[Span]] =
      jobs.flatMap(j => j.stages.map(_ -> owner(j.id))).toMap

    val out = mutable.ArrayBuffer.empty[(String, Double)]
    Modules.foreach { m =>
      val ss = all.filter(_.module == m)
      val durMs = ss.map(s => (s.end - s.start) / 1e6).sorted
      val jobsOf = owner.count(_._2.exists(_.module == m))
      val cpuNs = stages.collect {
        case (sid, a) if stageOwner.get(sid).flatten.exists(_.module == m) => a.cpuNs
      }.sum
      out += s"$m.calls" -> ss.size.toDouble
      out += s"$m.busy_s" -> ss.map(s => s.end - s.start - s.children).sum / 1e9
      out += s"$m.jobs" -> jobsOf.toDouble
      out += s"$m.task_cpu_s" -> cpuNs / 1e9
      out += s"$m.failed" -> ss.count(_.failed).toDouble
      out += s"$m.call_p50_ms" -> (if (durMs.isEmpty) 0.0 else Stats.median(durMs))
    }

    val wallNs = segments.map { case (a, b) => b - a }.sum.max(1L)
    val agg = stages.values
    val runMs = agg.map(_.runMs).sum
    // driver gap: traced wall time not covered by any running job
    val covered = segments.map { case (lo, hi) =>
      val intervals = jobs.filter(_.endMs > 0)
        .map(j => ((j.startMs * 1000000L + clockSkew).max(lo), (j.endMs * 1000000L + clockSkew).min(hi)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var sum = 0L; var curA = -1L; var curB = -1L
      intervals.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) sum += curB - curA; curA = a; curB = b }
        else curB = curB.max(b)
      }
      if (curB > curA) sum += curB - curA
      sum
    }.sum
    val ops = all.map(_.op).distinct.size.max(1)
    out += "spark.jobs" -> jobs.size.toDouble
    out += "spark.jobs_per_op" -> jobs.size.toDouble / ops
    out += "spark.stages" -> stagesDone.toDouble
    out += "spark.tasks" -> agg.map(_.tasks).sum.toDouble
    out += "spark.task_failures" -> agg.map(_.failures).sum.toDouble
    out += "spark.task_run_s" -> runMs / 1e3
    out += "spark.task_cpu_s" -> agg.map(_.cpuNs).sum / 1e9
    out += "spark.core_util" -> (runMs * 1e6) / (wallNs.toDouble * cores)
    out += "spark.driver_gap_s" -> (wallNs - covered) / 1e9
    out += "spark.driver_gap_share" -> (wallNs - covered).toDouble / wallNs
    out += "spark.catalyst_s" -> catalystNs / 1e9
    out += "spark.shuffle_read_bytes" -> agg.map(_.shuffleRead).sum.toDouble
    out += "spark.shuffle_write_bytes" -> agg.map(_.shuffleWrite).sum.toDouble
    out += "spark.spill_bytes" -> agg.map(_.spill).sum.toDouble
    out += "spark.output_files" -> outFiles.toDouble
    out += "spark.output_bytes" -> outBytes.toDouble
    out += "spark.jobs_by_group" -> byGroup.toDouble
    out += "spark.jobs_by_interval" -> byTime.toDouble
    out += "spark.unattributed_jobs" -> unattributed.toDouble
    out += "trace.spans" -> all.size.toDouble
    out += "trace.ops" -> ops.toDouble
    out += "trace.wall_s" -> wallNs / 1e9
    out.toSeq
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of the sorted sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = (lo + 1).min(s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}
