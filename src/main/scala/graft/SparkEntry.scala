package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Query names are keyed to the SURVEY.md §2 operator inventory.
  */
object SparkEntry {

  private val packs: Seq[QueryPack] = Seq(
    RelationalQueries,
    AdvancedQueries,
    EventQueries,
    VectorQueries,
    TextQueries,
    EngineQueries,
    ScaleJoinQueries,
    MultimodalQueries)

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's core question — pairwise similarity structure of the
    * generator-group embedding space (SURVEY.md §7.1).
    */
  def entry(spark: SparkSession): DataFrame =
    VectorQueries.queries("v_centroid_cosine_matrix")(spark, "/root/testdata/sf0.001")

  /** Every declared query in pack order, with its oracle and `needs`. */
  def all: Seq[OracleQuery] = packs.flatMap(_.all)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    packs.flatMap(_.queries).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    packs.flatMap(_.oracle).toMap
}
