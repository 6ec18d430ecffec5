package graft.tools

import graft.SparkEntry
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ExplainMode
import scala.util.matching.Regex

/** Plan-inspection aid: prints the formatted physical plan for the named
  * queries (or a default headline set) so scan pushdown / broadcast choice /
  * shuffle count can be reviewed per SURVEY.md §4.3. Not part of the driver
  * contract — local tooling.
  *
  * The printed plans are NORMALIZED ([[normalize]]): expression ids,
  * exchange `plan_id`s, RDD ids, JVM object identity hashes, lambda
  * class names and `file:` locations vary between runs and hosts, so two
  * dumps of the same plan diff clean and a before/after diff shows only
  * real plan changes:
  *
  *   runMain graft.tools.ExplainDump <sfDir> q1,q2,... > plans.txt
  */
object ExplainDump {
  // (volatile pattern, its stable stand-in), applied in order
  private val rules: Seq[(Regex, Regex.Match => String)] = Seq(
    "#\\d+".r -> (_ => "#"),
    "plan_id=\\d+".r -> (_ => "plan_id="),
    "RDD\\[\\d+\\]".r -> (_ => "RDD[]"),
    "\\$Lambda(\\$\\d+)?/0x[0-9a-f]+".r -> (_ => "$Lambda"),
    "(?<=[\\w$\\]])@[0-9a-f]+\\b".r -> (_ => "@"),
    "file:[^,\\]\\s]*".r -> (m => "file:" +
      m.matched.stripPrefix("file:").split('/').last.replaceAll("\\d{6,}", "")))

  /** Strip the run-volatile parts of an `explain` string: `#123` → `#`,
    * `plan_id=45` → `plan_id=`, `MapPartitionsRDD[7]` → `MapPartitionsRDD[]`,
    * `Foo$$Lambda$12/0x7f…` → `Foo$$Lambda`, `[D@1b2c3d` → `[D@`, and
    * `file:/a/b/c.parquet` → `file:c.parquet` (the last path component,
    * with the random digits of temp-directory names dropped).
    */
  def normalize(plan: String): String =
    rules.foldLeft(plan) { case (s, (re, stable)) =>
      re.replaceAllIn(s, m => Regex.quoteReplacement(stable(m)))
    }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args(1).split(",").toSeq
      else Seq("p6_filter_project", "j1_region_customer_rollup",
        "j2_top_orders_by_revenue", "a2_pricing_summary",
        "v_centroid_cosine_matrix", "vx_fast_centroid_cosine",
        "j_range_ship_within_30d", "tx_dedup_minhash_pairs",
        "t_sample_bottomk_per_source", "vx_semdedup_quantized",
        "t_dsir_select_topk", "stat_moments_quantity")
    val spark = SparkSession.builder()
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new graft.expressions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n===== $n =====")
      println(normalize(SparkEntry.queries(n)(spark, sfDir)
        .queryExecution.explainString(ExplainMode.fromString("formatted"))))
    }
    spark.stop()
  }
}
