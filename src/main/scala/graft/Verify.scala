package graft
import org.apache.spark.sql.SparkSession
import graft.queries.Artifact
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {

  /** Run one gate and dump its result parquet. A THROWING gate must be as
    * loud as a failed build: round 11's broken lifecycle gate simply
    * vanished from the correctness record because the old code only logged
    * to stderr and wrote nothing. Now a failure writes a one-row
    * `__verify_error` parquet in the gate's slot — the driver's DuckDB
    * compare then reports an explicit rows/schema/hash FAIL instead of a
    * silent gap — and the error is returned for the failure manifest.
    * An artifact read that the gate, or a build it triggered, does not
    * declare in `needs` is returned the same way (the result is still
    * written): a missing declaration would otherwise only show as a build
    * the bench stops billing.
    */
  def writeResult(spark: SparkSession, sfDir: String, outDir: String,
      name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
      needs: Seq[Artifact[_]] = Nil): Option[String] = {
    val (failed, undeclared) = Artifact.watch(needs) {
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        None
      } catch { case e: Throwable =>
        val msg = (s"${e.getClass.getSimpleName}: ${e.getMessage}").take(500)
        System.err.println(s"[verify] $name FAILED: $msg")
        import spark.implicits._
        try Seq(msg).toDF("__verify_error").coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/$name")
        catch { case _: Throwable => () }
        Some(msg)
      }
    }
    val unread = Option.when(undeclared.nonEmpty)(
      "undeclared artifact read: " + undeclared.mkString(", "))
    (failed ++ unread).reduceOption(_ + "; " + _)
  }

  /** Failure manifest beside the result dirs — empty object when green,
    * so its very presence proves the loud-failure path ran. */
  def writeFailures(outDir: String, failures: Iterable[(String, String)]): Unit = {
    val json = failures
      .map { case (k, v) => s"${jq(k)}: ${jq(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/verify_failures.json"), json)
  }

  private[graft] def jq(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query-name filter (local iteration)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // bucketed-table queries write managed tables; keep them out of the repo
      .config("spark.sql.warehouse.dir",
        Files.createTempDirectory("graft-verify-warehouse").toString)
      .withExtensions(new graft.expressions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val failures = SparkEntry.all
      .filter(q => only.forall(_.contains(q.name)))
      .flatMap { q =>
        writeResult(spark, sfDir, outDir, q.name, q.fn, q.needs).map(q.name -> _)
      }
    writeFailures(outDir, failures)
    // jq escapes backslash, quote, and ALL control chars (<0x20) — a tab
    // or CR in builder-authored SQL would otherwise make the driver's
    // json.load fail and silently zero the round's correctness.
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${jq(k)}: ${jq(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    SessionMemo.releaseAll(spark)
    spark.stop()
  }
}
