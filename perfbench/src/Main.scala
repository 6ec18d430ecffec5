package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import java.io.File
import scala.collection.mutable

/** Command line: `--workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --cores <n> --recall-floor <r>`.
  *
  * Untraced (`--trace 0`): set up, then run the workload's operation in a
  * closed loop for `--seconds`, checking every output, and report the
  * end-to-end metrics. Traced (`--trace 1`): set up, warm up, then run
  * one fixed list of operations twice — untraced, then with spans and
  * listeners — and report the per-layer record plus the tracing overhead
  * (the traced list's time over the untraced one's, minus one). The fixed
  * list makes the record's counts repeat exactly for one seed.
  *
  * Prints one JSON object on its last stdout line.
  */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double, trace: Boolean,
      work: File, cores: Int, recallFloor: Double)

  def main(args: Array[String]): Unit = {
    val m = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val o = Opts(m("workload"), m("seed").toLong, m("seconds").toDouble, m("trace") == "1",
      new File(m("work")), m("cores").toInt, m("recall-floor").toDouble)
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val spark = Engine.session(o.cores, new File(o.work, "spark").getPath)
    val ctx = new Ctx(spark, o, jvmStartMs)
    val w: Workload = o.workload match {
      case "deepfake_analytics" => new DeepfakeAnalytics(ctx)
      case "retrieval_serving" => new RetrievalServing(ctx)
      case other => throw new IllegalArgumentException(s"unknown workload: $other")
    }
    try {
      ctx.log("session")
      w.setup()
      ctx.setupDone()
      ctx.log("setup done")
      if (o.trace) ctx.traced(w) else w.measure()
      ctx.log("measured")
      w.check()
      ctx.log("checked")
      println(ctx.result(w))
    } finally spark.stop()
  }
}

/** One workload: set-up (inputs, load, warm-up), the timed loop, the
  * fixed operation list of the traced run, and the checks made after
  * timing. */
trait Workload {
  def setup(): Unit
  def measure(): Unit
  /** The traced run's work before its fixed list (a warm-up, or one-off
    * work the workload traces itself). */
  def prepare(): Unit
  /** The traced run's fixed operation list, run untraced and then traced;
    * returns the seconds of the part the two runs share. */
  def fixedOps(traced: Boolean): Double
  def check(): Unit
  def inputHash: String
  /** End-to-end metrics, and the workload's own names for them. */
  def endToEnd: Seq[(String, Double)]
  def report: Seq[(String, Double, String)]
  def layerExtras: Seq[(String, Double)] = Nil
}

/** What every workload shares: the session, the work directory, the
  * clock, the tally of operations attempted and failed. */
final class Ctx(val spark: SparkSession, val o: Main.Opts, jvmStartMs: Long) {
  val work: File = o.work
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  private var setupS = 0.0
  private var overhead = Double.NaN

  def dir(name: String): String = new File(work, name).getPath

  /** A progress line on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit =
    System.err.println(f"perfbench ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%.2f $msg")

  /** Run one operation or check; a throw or a `false` counts as failed. */
  def attempt(name: String)(f: => Boolean): Boolean = {
    attempted += 1
    val error =
      try { if (f) None else Some("check failed") }
      catch { case e: Throwable =>
        Some(s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}") }
    error.foreach { msg => failed += 1; failures += s"$name: $msg" }
    error.isEmpty
  }

  /** Seconds `f` takes. */
  def time(f: => Unit): Double = { val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9 }

  /** Calls `op` until `seconds` have passed, at least once. */
  def loop(op: => Unit): Unit = {
    val end = System.nanoTime() + (o.seconds * 1e9).toLong
    op
    while (System.nanoTime() < end) op
  }

  def setupDone(): Unit = setupS = (System.currentTimeMillis() - jvmStartMs) / 1e3

  def traced(w: Workload): Unit = {
    w.prepare()
    val plain = w.fixedOps(traced = false)
    val traced = Trace.traced(spark)(w.fixedOps(traced = true))
    overhead = traced / plain - 1.0
  }

  /** VmHWM of this process, in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }

  def result(w: Workload): String = {
    val e2e = Seq("setup_s" -> setupS) ++ w.endToEnd ++ Seq(
      "peak_rss_mb" -> peakRssMb,
      "ok_ratio" -> (if (attempted == 0) 0.0 else 1.0 - failed.toDouble / attempted))
    val layers =
      if (!o.trace) Nil
      else Trace.metrics(o.cores) ++ w.layerExtras ++ Seq("trace.overhead_ratio" -> overhead)
    val named = w.report ++ Seq(("setup_s", setupS, "s"), ("peak_rss_mb", peakRssMb, "MB"),
      ("failed_ratio", if (attempted == 0) 0.0 else failed.toDouble / attempted, "ratio"))
    Json.obj(
      "workload" -> o.workload, "seed" -> o.seed, "input_sha256" -> w.inputHash,
      "spark_version" -> spark.version, "java_version" -> System.getProperty("java.version"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
      "attempted" -> attempted, "failed" -> failed, "failures" -> failures.toSeq,
      "end_to_end" -> Json.obj(e2e: _*),
      "named" -> named.map { case (n, v, u) => Json.obj("name" -> n, "value" -> v, "unit" -> u) },
      "per_layer" -> Json.obj(layers: _*)).json
  }
}

object Json {
  /** An already-encoded JSON value. */
  final case class Raw(json: String)

  def obj(kv: (String, Any)*): Raw =
    Raw(kv.map { case (k, v) => s"${str(k)}:${value(v)}" }.mkString("{", ",", "}"))
  private def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  private def value(v: Any): String = v match {
    case Raw(json) => json
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Long => n.toString
    case n: Int => n.toString
    case b: Boolean => b.toString
    case xs: Seq[_] => xs.map(value).mkString("[", ",", "]")
    case other => str(String.valueOf(other))
  }
}

/** Small helpers for turning generated rows into engine inputs. */
object Frames {
  def docs(spark: SparkSession, ds: Seq[Doc]): DataFrame = {
    import spark.implicits._
    ds.map(d => (d.id, d.text)).toDF("doc_id", "text")
  }
  def vecs(spark: SparkSession, vs: Seq[Vec]): DataFrame = {
    import spark.implicits._
    vs.map(v => (v.id, v.embedding.toSeq)).toDF("vec_id", "embedding")
  }
  def ids(spark: SparkSession, xs: Seq[Long]): DataFrame = {
    import spark.implicits._
    xs.toDF("doc_id")
  }
  /** Writes `df` as parquet and reads it back: the engine gets files. */
  def stored(df: DataFrame, path: String, files: Int = 4): DataFrame = {
    df.repartition(files).write.mode("overwrite").parquet(path)
    df.sparkSession.read.parquet(path)
  }
  /** Bytes and files under a directory. */
  def du(path: String): (Long, Long) = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.flatMap(walk) else Seq(f)
    val fs = walk(new File(path))
    (fs.map(_.length()).sum, fs.size.toLong)
  }
  def rm(path: String): Unit = {
    def del(f: File): Unit = {
      if (f.isDirectory) Option(f.listFiles()).toSeq.flatten.foreach(del)
      f.delete()
    }
    del(new File(path))
  }
}
