package graft.queries

import graft.Tables
import graft.operators.SkewJoin
import graft.sources.Bucketing
import org.apache.spark.sql.functions._

/** The scale-join strategies (SURVEY.md §4.3) driven through the verify
  * gate every round, not only through specs (round-1 verdict item 10).
  * Both are semantically plain equi-joins — so both get FULL DuckDB
  * oracles — but execute with the physical shapes the 100 TB path needs:
  * salting for a priori key skew, bucketing for amortized shuffle-free
  * fact-fact joins.
  */
object ScaleJoinQueries extends QueryPack {

  import Exact._

  // ---- salted skew join: lineitem (large, salted on l_suppkey) against
  //      supplier (small, exploded saltFactor×). Result identical to the
  //      plain join — the oracle checks exactly that ----
  private val saltedSupplierRevenue = OracleQuery(
    "jx_salted_supplier_revenue",
    (s, d) => {
      val li = Tables.lineitem(s, d)
        .select(col("l_suppkey").as("suppkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
      val sup = Tables.supplier(s, d)
        .select(col("s_suppkey").as("suppkey"), col("s_name"))
      SkewJoin.saltedEquiJoin(li, sup, "suppkey", saltFactor = 8)
        .groupBy(col("s_name"))
        .agg(count(lit(1)).as("n_items"), dsum(col("rev")).as("revenue"))
        .orderBy(col("s_name"))
    },
    Some(s"""SELECT s_name, COUNT(*) AS n_items,
      ${DSUM("l_extendedprice * (1.0 - l_discount)")} AS revenue
    FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
    GROUP BY s_name ORDER BY s_name"""))

  // ---- bucketed co-located join: lineitem + orders both bucketed on the
  //      order key (written ONCE per corpus dir; the write is the amortized
  //      shuffle), then a zero-exchange sort-merge join. JoinOpsSpec pins
  //      the no-Exchange plan; this entry pins the RESULT against DuckDB ----
  // memoized per (session, corpus dir) via SessionMemo: the bucketed tables
  // live in one session's catalog/warehouse, and a second session in the
  // same JVM (Verify then Bench in-process, test suites) must never be
  // handed table names its catalog has never seen. Exposed as
  // `bucketedTables` so Bench can pay the one-time write OUTSIDE the
  // timed region — the steady-state number is the zero-exchange join, the
  // write is the amortized layout cost (same split as the IVF build/probe).
  lazy val bucketedTables: Artifact[(String, String)] =
    Artifact("bucketed_tables") { (s, d) =>
      val suffix = math.abs(d.hashCode).toString
      val lt = s"li_bucketed_$suffix"
      val ot = s"o_bucketed_$suffix"
      Bucketing.writeBucketed(
        Tables.lineitem(s, d).select(col("l_orderkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev")),
        lt, "l_orderkey")
      Bucketing.writeBucketed(
        Tables.orders(s, d).select(col("o_orderkey").as("l_orderkey"),
          col("o_orderpriority")),
        ot, "l_orderkey")
      (lt, ot)
    }(_ => ())
  private val bucketedOrderRevenue = OracleQuery(
    "jx_bucketed_order_revenue",
    (s, d) => {
      val (liTable, oTable) = bucketedTables(s, d)
      Bucketing.coLocatedJoin(s, liTable, oTable, "l_orderkey")
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("n_items"), dsum(col("rev")).as("revenue"))
        .orderBy(col("o_orderpriority"))
    },
    Some(s"""SELECT o_orderpriority, COUNT(*) AS n_items,
      ${DSUM("l_extendedprice * (1.0 - l_discount)")} AS revenue
    FROM lineitem JOIN orders ON l_orderkey = o_orderkey
    GROUP BY o_orderpriority ORDER BY o_orderpriority"""),
    needs = Seq(bucketedTables))

  // ---- bloom-filtered semi-join: lineitems of high-balance suppliers,
  //      large side membership-pruned map-side before the exact semi-join.
  //      Output identical to the plain semi-join by construction, so the
  //      oracle is the plain SQL form ----
  private val bloomSemi = OracleQuery(
    "jx_bloom_semi_lineitems",
    (s, d) =>
      SkewJoin.bloomSemiJoin(
          Tables.lineitem(s, d).select(col("l_orderkey"), col("l_suppkey"),
            col("l_linenumber")),
          Tables.supplier(s, d).filter(col("s_acctbal") > 5000)
            .select(col("s_suppkey").as("l_suppkey")),
          "l_suppkey")
        .groupBy(col("l_suppkey"))
        .agg(count(lit(1)).as("n_items"))
        .orderBy(col("l_suppkey")),
    Some("""SELECT l_suppkey, COUNT(*) AS n_items
    FROM lineitem SEMI JOIN (
      SELECT s_suppkey FROM supplier WHERE s_acctbal > 5000
    ) ON l_suppkey = s_suppkey
    GROUP BY l_suppkey ORDER BY l_suppkey"""))

  // ---- dynamic partition pruning: the 100 TB date-partitioned-fact shape.
  //      The fact table is laid out partitioned by ship month (the
  //      amortized write, memoized like the bucketed tables); the query
  //      joins it to a SELECTIVE month dim derived at runtime (order months
  //      of one quarter — unknowable at compile time, so a static partition
  //      filter cannot exist). Catalyst's DPP inserts the dim's month set
  //      as a runtime partition filter on the fact scan: 3 of ~80 month
  //      partitions are read, the rest never open — THE mechanism that
  //      turns a full-corpus scan into a quarter scan on a 1000-executor
  //      cluster. PlanSpec pins `dynamicpruning` in the scan's partition
  //      filters; the oracle pins the result against the plain join ----
  lazy val dppTable: Artifact[String] =
    Artifact("dpp_table") { (s, d) =>
      val t = s"li_bymonth_${math.abs(d.hashCode)}"
      Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount"),
          date_format(col("l_shipdate"), "yyyy-MM").as("ship_month"))
        .write.mode("overwrite").format("parquet")
        .partitionBy("ship_month").saveAsTable(t)
      t
    }(_ => ())
  private val dppPruned = OracleQuery(
    "jx_dpp_partition_pruned",
    (s, d) => {
      val fact = s.table(dppTable(s, d))
      val months = Tables.orders(s, d)
        .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp") &&
          col("o_orderdate") < lit("1997-04-01").cast("timestamp"))
        .select(date_format(col("o_orderdate"), "yyyy-MM").as("ship_month"))
        .distinct()
      fact.join(months, "ship_month")
        .groupBy(col("ship_month"))
        .agg(count(lit(1)).as("n_items"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"))
        .orderBy(col("ship_month"))
    },
    Some(s"""SELECT m AS ship_month, COUNT(*) AS n_items,
      ${DSUM("l_extendedprice * (1.0 - l_discount)")} AS revenue
    FROM lineitem JOIN (
      SELECT DISTINCT strftime(o_orderdate, '%Y-%m') AS m FROM orders
      WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        AND o_orderdate < TIMESTAMP '1997-04-01 00:00:00')
      ON strftime(l_shipdate, '%Y-%m') = m
    GROUP BY 1 ORDER BY 1"""),
    needs = Seq(dppTable))

  // ---- key-skew profile: the measurement that picks the salt factor for
  //      the join above — top-10 heaviest lineitem supplier keys with row
  //      share and skew-vs-mean, exact-double arithmetic → full oracle ----
  private val keySkewProfile = OracleQuery(
    "jx_key_skew_profile",
    (s, d) =>
      SkewJoin.keyProfile(
        Tables.lineitem(s, d).select(col("l_suppkey")), "l_suppkey", topK = 10),
    Some("""WITH c AS (
      SELECT l_suppkey, COUNT(*) AS n FROM lineitem GROUP BY 1
    ), t AS (
      SELECT CAST(SUM(n) AS DOUBLE) AS tot, COUNT(*) AS n_keys FROM c
    )
    SELECT l_suppkey, n,
      CAST(floor(CAST(n AS DOUBLE) * 1000000.0 / tot) AS BIGINT) AS share_ppm,
      CAST(floor(CAST(n AS DOUBLE) * n_keys * 100.0 / tot) AS BIGINT) AS skew_x100
    FROM c, t ORDER BY n DESC, l_suppkey LIMIT 10"""))

  // ---- Z-order layout spans: lay lineitem on the Morton curve of
  //      (l_orderkey, l_partkey) and report per-file key spans — the
  //      multi-key locality that makes parquet min/max skipping work on
  //      BOTH keys. FULL oracle since round 6: rank buckets come from the
  //      EXACT scale-safe NTILE (GlobalRank.withNtile over a unique total
  //      order — SQL twin is plain NTILE) instead of the GK sketch, file
  //      membership from an exact equi-depth cut of the z-value order
  //      instead of sampled repartitionByRange, and the Morton interleave
  //      is pure integer bit math DuckDB replays ladder-step-for-step.
  //      The sampled production layout() path (approxQuantile bounds +
  //      repartitionByRange) stays pinned by ZOrderSpec (bit-exact
  //      kernel, ≥2× pruning, frozen-meta append parity) ----
  private def SPREAD16(e: String): String = {
    val steps = Seq(
      (8, 71777214294589695L), (4, 1085102592571150095L),
      (2, 3689348814741910323L), (1, 6148914691236517205L))
    steps.foldLeft(s"(($e) & 65535)") { case (acc, (sh, mask)) =>
      s"((($acc | ($acc << $sh)) & $mask))"
    }
  }
  /** The laid-out relation (three chained exact NTILEs + Morton
    * interleave), memoized per (session, sfDir): a Z-order layout is a
    * build-once TABLE artifact at 100 TB — you lay the table out, then
    * every subsequent scan benefits — so the gate times the span REPORT
    * over the laid-out relation (the recurring read), not the layout
    * build, same artifact split as the IVF/BM25/eigen builds. The build
    * is forced here (count) so its three checkpoint materializations are
    * charged to build time.
    */
  lazy val zorderLayout: Artifact[org.apache.spark.sql.DataFrame] =
    Artifact("zorder_layout") { (s, d) =>
      // three CHAINED exact ntiles on CHECKPOINTED sorts: each ntile's
      // shuffle materializes once and feeds both its count pass and its
      // tile output, so the chain stops re-executing predecessors'
      // shuffles through the lineage — the round-6 2x gate regression,
      // folded back. Rank-based tie splitting is load-bearing here: the
      // testdata's (l_orderkey, l_linenumber) pairs are 24% duplicated,
      // so the value-compare boundary form (withNtileByBoundaries) would
      // break the exact NTILE counts (same closed form otherwise; oracle
      // hash unchanged)
      val li = Tables.lineitem(s, d)
        .select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"))
      val ta = graft.operators.GlobalRank.withNtileCheckpointed(li, 64, "__ba",
        col("l_orderkey"), col("l_linenumber"))
      val tb = graft.operators.GlobalRank.withNtileCheckpointed(ta, 64, "__bb",
        col("l_partkey"), col("l_orderkey"), col("l_linenumber"))
      val withZ = tb.withColumn("__zv", graft.sources.ZOrder.interleave(
        (col("__ba") - 1).cast("long"), (col("__bb") - 1).cast("long")))
      val laid = graft.operators.GlobalRank.withNtileCheckpointed(withZ, 16,
        "file_id", col("__zv"), col("l_orderkey"), col("l_linenumber"))
      laid.count()
      laid
    }(_ => ())

  private val zorderSpans = OracleQuery(
    "jx_zorder_layout_spans",
    (s, d) => {
      zorderLayout(s, d)
        .groupBy(col("file_id"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("l_orderkey")).as("ok_min"), max(col("l_orderkey")).as("ok_max"),
          min(col("l_partkey")).as("pk_min"), max(col("l_partkey")).as("pk_max"))
        .orderBy(col("file_id"))
    },
    Some(s"""WITH t AS (
      SELECT l_orderkey, l_partkey, l_linenumber,
        NTILE(64) OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS ba,
        NTILE(64) OVER (ORDER BY l_partkey, l_orderkey, l_linenumber) - 1 AS bb
      FROM lineitem
    ), z AS (
      SELECT l_orderkey, l_partkey, l_linenumber,
        (${SPREAD16("ba")} | (${SPREAD16("bb")} << 1)) AS zv
      FROM t
    ), f AS (
      SELECT l_orderkey, l_partkey,
        NTILE(16) OVER (ORDER BY zv, l_orderkey, l_linenumber) AS file_id
      FROM z
    )
    SELECT CAST(file_id AS INT) AS file_id, COUNT(*) AS n_rows,
      MIN(l_orderkey) AS ok_min, MAX(l_orderkey) AS ok_max,
      MIN(l_partkey) AS pk_min, MAX(l_partkey) AS pk_max
    FROM f GROUP BY file_id ORDER BY file_id"""),
    needs = Seq(zorderLayout))

  // ---- exact edit-distance similarity join (Ed-Join, q-gram prefix
  //      filter): all customer-name pairs within levenshtein 1 — the
  //      serial-number-drift typo cluster a record-linkage pass hunts.
  //      Both engines ship the same exact levenshtein, so the naive
  //      DuckDB cross join is a FULL oracle proving the filter chain
  //      lossless end-to-end (the Spark side never builds the cross
  //      product — PlanSpec pins no CartesianProduct). Input bounded to
  //      the first 1500 keys so the oracle's n² verify stays replayable
  //      at every SF; the operator itself is the scale path ----
  private val edJoinTypos = OracleQuery(
    "jx_edjoin_customer_typos",
    (s, d) => {
      val c = Tables.customer(s, d).filter(col("c_custkey") < 1500)
        .select(col("c_custkey"), col("c_name"))
      graft.operators.EdJoin.edJoin(c, tau = 1,
          idCol = "c_custkey", strCol = "c_name")
        .orderBy(col("id_a"), col("id_b"))
    },
    Some("""SELECT a.c_custkey AS id_a, b.c_custkey AS id_b,
      CAST(levenshtein(a.c_name, b.c_name) AS BIGINT) AS dist
    FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
    WHERE a.c_custkey < 1500 AND b.c_custkey < 1500
      AND levenshtein(a.c_name, b.c_name) <= 1
    ORDER BY id_a, id_b"""))

  // ---- fuzzy-key canonicalize: the ed-join composed into the dedup
  //      stack — typo-cluster pairs feed the same large/small-star
  //      labeling every other dedup family member uses, and DuckDB
  //      replays BOTH halves independently (naive levenshtein join +
  //      recursive reachability closure + min label), proving the fuzzy
  //      record-linkage path exact end-to-end. Slice bounded to 400 keys
  //      so the oracle's transitive closure stays replayable ----
  private val edJoinCanonical = OracleQuery(
    "jx_edjoin_canonical",
    (s, d) => {
      val c = Tables.customer(s, d).filter(col("c_custkey") < 400)
        .select(col("c_custkey"), col("c_name"))
      val pairs = graft.operators.EdJoin.edJoin(c, tau = 1,
          idCol = "c_custkey", strCol = "c_name")
        .select(col("id_a"), col("id_b"))
      graft.operators.Dedup.canonicalize(pairs).orderBy(col("doc_id"))
    },
    Some("""WITH RECURSIVE pr AS (
      SELECT a.c_custkey AS ia, b.c_custkey AS ib
      FROM customer a JOIN customer b ON a.c_custkey < b.c_custkey
      WHERE a.c_custkey < 400 AND b.c_custkey < 400
        AND levenshtein(a.c_name, b.c_name) <= 1
    ), e AS (
      SELECT ia AS a, ib AS b FROM pr
      UNION
      SELECT ib, ia FROM pr
    ), reach(a, b) AS (
      SELECT a, a FROM e
      UNION
      SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a
    )
    SELECT a AS doc_id, MIN(b) AS canonical_id, MIN(b) = a AS keep
    FROM reach GROUP BY a ORDER BY doc_id"""))

  // ---- small-file compaction planning (sources/Compaction): the
  //      OPTIMIZE-style maintenance plan over a synthetic per-(ship-month,
  //      orderkey-slice) file listing derived from lineitem — sequential
  //      greedy close-on-overflow bins per partition, the SeqPack greedy
  //      fold on file metadata, replayed by the same recursive-CTE shape.
  //      The real-parquet listing/execution path (_metadata file sizes) is
  //      CompactionSpec's end-to-end test ----
  private def fileListing(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables.lineitem(s, d).groupBy(
        date_format(col("l_shipdate"), "yyyy-MM").as("part"),
        (col("l_orderkey") % 200).as("file_id"))
      .agg((count(lit(1)) * 100L).cast("long").as("bytes"))
  private val FILES_CTE = """files AS (
      SELECT strftime(l_shipdate, '%Y-%m') AS part,
        l_orderkey % 200 AS file_id,
        CAST(COUNT(*) * 100 AS BIGINT) AS bytes
      FROM lineitem GROUP BY 1, 2
    ), ord AS (
      SELECT part, file_id, bytes,
        ROW_NUMBER() OVER (PARTITION BY part ORDER BY file_id) AS rn
      FROM files
    ), fill AS (
      SELECT part, rn, file_id, bytes, bytes AS used, CAST(0 AS BIGINT) AS bin
      FROM ord WHERE rn = 1
      UNION ALL
      SELECT o.part, o.rn, o.file_id, o.bytes,
        CASE WHEN f.used > 0 AND f.used + o.bytes > 4000
             THEN o.bytes ELSE f.used + o.bytes END,
        CASE WHEN f.used > 0 AND f.used + o.bytes > 4000
             THEN f.bin + 1 ELSE f.bin END
      FROM fill f JOIN ord o ON o.part = f.part AND o.rn = f.rn + 1
    )"""
  private val compactionPlan = OracleQuery(
    "jx_compaction_plan",
    (s, d) => graft.sources.Compaction
      .planCompaction(fileListing(s, d), targetBytes = 4000L)
      .orderBy(col("part"), col("file_id")),
    Some(s"""WITH RECURSIVE $FILES_CTE
    SELECT part, file_id, bytes, bin FROM fill ORDER BY part, file_id"""))
  private val compactionReport = OracleQuery(
    "jx_compaction_report",
    (s, d) => graft.sources.Compaction
      .compactionReport(graft.sources.Compaction
        .planCompaction(fileListing(s, d), targetBytes = 4000L),
        targetBytes = 4000L)
      .orderBy(col("part")),
    Some(s"""WITH RECURSIVE $FILES_CTE
    SELECT part, CAST(COUNT(*) AS BIGINT) AS n_files,
      CAST(SUM(bytes) AS BIGINT) AS total_bytes,
      CAST(MAX(bin) + 1 AS BIGINT) AS n_bins,
      CAST(SUM(CASE WHEN bytes < 2000 THEN 1 ELSE 0 END) AS BIGINT)
        AS n_small_files,
      CAST(COUNT(*) - MAX(bin) - 1 AS BIGINT) AS files_saved
    FROM fill GROUP BY part ORDER BY part"""))

  override val all: Seq[OracleQuery] =
    Seq(saltedSupplierRevenue, bucketedOrderRevenue, keySkewProfile, bloomSemi,
      zorderSpans, dppPruned, edJoinTypos, edJoinCanonical,
      compactionPlan, compactionReport)
}
