package graft

import graft.ml.MlOps
import org.apache.spark.sql.functions._

/** Semantics checks for the rows-only (no-oracle) engine queries. */
class EngineQueriesSpec extends SparkSpec {
  import spark.implicits._

  test("vx_cka_group_matrix: diagonal 1, range [0,1], upper triangle only") {
    val m = SparkEntry.queries("vx_cka_group_matrix")(spark, sf001).collect()
    assert(m.nonEmpty)
    m.foreach { r =>
      val (l1, l2, cka) = (r.getInt(0), r.getInt(1), r.getDouble(2))
      assert(l1 <= l2)
      assert(cka >= -1e-9 && cka <= 1.0 + 1e-9, s"cka($l1,$l2)=$cka")
      if (l1 == l2) assert(math.abs(cka - 1.0) < 1e-9, s"diagonal($l1)=$cka")
    }
  }

  test("vx_cka_matrix_quantized tracks the float CKA operator") {
    // the oracle twin quantizes to 64 levels over 16 dims / 40 rows, so it
    // won't match the float path exactly — but it must tell the same story:
    // diagonal ≈ 1, off-diagonals in [0,1], and within a coarse tolerance
    // of VecAgg.cka computed over the SAME sample (ties the oracle-verified
    // SQL algebra to the production aggregate)
    val q = SparkEntry.queries("vx_cka_matrix_quantized")(spark, sf001)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(q.nonEmpty)
    q.foreach { case ((l1, l2), cka) =>
      assert(cka >= -1e-9 && cka <= 1.0 + 1e-9, s"cka($l1,$l2)=$cka")
      if (l1 == l2) assert(math.abs(cka - 1.0) < 1e-9)
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("label")).orderBy(col("vec_id"))
    val ranked = Tables.embeddings(spark, sf001)
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 40)
      .select(col("label"), col("rn"), slice(col("embedding"), 1, 16).as("v"))
    val float = ranked.as("a").join(ranked.as("b"),
        col("a.rn") === col("b.rn") && col("a.label") <= col("b.label"))
      .groupBy(col("a.label").as("l1"), col("b.label").as("l2"))
      .agg(graft.operators.VecAgg.cka(col("a.v"), col("b.v")).as("cka"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    q.foreach { case (k2, v) =>
      assert(math.abs(v - float(k2)) < 0.05,
        s"quantized CKA $k2: $v vs float ${float(k2)}")
    }
  }

  test("agg_approx_percentiles tracks exact quantiles within the rank-error bound") {
    val approx = SparkEntry.queries("agg_approx_percentiles")(spark, sf01)
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(1), r.getDouble(2), r.getDouble(3)))).toMap
    // exact quantiles per group, computed independently driver-side
    val grouped = Tables.orders(spark, sf01)
      .select(col("o_orderstatus"), col("o_totalprice"))
      .collect().map(r => (r.getString(0), r.getDouble(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    // accuracy 10000 → rank error ε ≤ 1e-4: the sketch's answer must lie
    // between the exact values at ranks (p−ε)n and (p+ε)n
    approx.foreach { case (status, (p50, p90, p99)) =>
      val vs = grouped(status)
      val n = vs.length
      def bounds(p: Double): (Double, Double) = {
        val lo = math.max(0, math.ceil((p - 1e-3) * n).toInt - 1)
        val hi = math.min(n - 1, math.floor((p + 1e-3) * n).toInt)
        (vs(lo), vs(hi))
      }
      Seq((0.5, p50), (0.9, p90), (0.99, p99)).foreach { case (p, got) =>
        val (lo, hi) = bounds(p)
        assert(got >= lo && got <= hi,
          s"$status p$p=$got outside [$lo, $hi] (n=$n)")
      }
    }
  }

  test("agg_hll_distinct approximates exact distinct within rsd bounds") {
    val approx = SparkEntry.queries("agg_hll_distinct")(spark, sf01).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val exact = Tables.lineitem(spark, sf01)
      .groupBy(col("l_returnflag"))
      .agg(countDistinct(col("l_partkey")).as("p"), countDistinct(col("l_suppkey")).as("s"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // the query configures rsd = 0.02; |approx − exact|/exact ≤ 3σ = 0.06
    // (exact counts themselves are oracle-verified via agg_distinct_counts)
    exact.foreach { case (flag, (p, s2)) =>
      val (ap, as2) = approx(flag)
      assert(math.abs(ap - p).toDouble / p <= 0.06, s"$flag parts: $ap vs $p")
      assert(math.abs(as2 - s2).toDouble / s2 <= 0.06, s"$flag supps: $as2 vs $s2")
    }
  }

  test("agg_hll_sketch_union: merged daily sketches track exact distinct; union = single pass") {
    val row = SparkEntry.queries("agg_hll_sketch_union")(spark, sf01).head()
    val (unionEst, nEvents) = (row.getLong(0), row.getLong(1))
    val exactUsers = Tables.events(spark, sf01)
      .select(countDistinct(col("user_id"))).head().getLong(0)
    val total = Tables.events(spark, sf01).count()
    assert(nEvents == total)
    // DataSketches HLL_4 at default lgK=12: rse ~ 1.04/sqrt(2^12) ≈ 1.6%;
    // allow 3σ
    assert(math.abs(unionEst - exactUsers).toDouble / exactUsers <= 0.05,
      s"union est $unionEst vs exact $exactUsers")
    // merging per-day sketches must estimate the same as one global sketch
    // over the raw column (mergeability = the artifact property)
    val direct = Tables.events(spark, sf01)
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))))
      .head().getLong(0)
    assert(unionEst == direct, s"union $unionEst != direct $direct")
  }

  test("vx_fast_centroid_cosine agrees with the oracle long form") {
    val fast = SparkEntry.queries("vx_fast_centroid_cosine")(spark, sf001)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    val oracle = SparkEntry.queries("v_centroid_cosine_matrix")(spark, sf001)
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> r.getDouble(2)).toMap
    assert(fast.keySet == oracle.keySet)
    // long form quantizes elements at 1e-6, fused form at 1e-4 (so its
    // DuckDB oracle stays exact-integer through sf0.1) — both approximate
    // the same true cosine; the bound reflects the coarser 1e-4 step
    oracle.foreach { case (k, v) =>
      assert(math.abs(fast(k) - v) < 1e-2, s"$k: fast=${fast(k)} oracle=$v")
    }
  }

  test("vx_dedup_embedding_canonical: valid component structure, min-id keepers") {
    val out = SparkEntry.queries("vx_dedup_embedding_canonical")(spark, sf001).collect()
    assert(out.nonEmpty, "embedding dedup found no near-dup components")
    out.foreach { r =>
      val (id, canon, keep) = (r.getLong(0), r.getLong(1), r.getBoolean(2))
      assert(canon <= id, s"canonical $canon > member $id")
      assert(keep == (id == canon), s"keep flag wrong for $id -> $canon")
    }
    // every canonical id is itself a member row (component closure)
    val ids = out.map(_.getLong(0)).toSet
    assert(out.map(_.getLong(1)).toSet.subsetOf(ids))
  }

  test("cluster-balanced sample: per-cell quota, no overlap, prefix-stable") {
    val out = SparkEntry.queries("vx_cluster_balanced_sample")(spark, sf001)
      .collect()
    assert(out.nonEmpty)
    val byCell = out.groupBy(_.getAs[Int]("cell"))
    byCell.foreach { case (cell, rows) =>
      val n = rows.head.getAs[Long]("cluster_n")
      // quota = min(25, cluster size), ranks are exactly 1..quota
      assert(rows.length == math.min(25L, n).toInt, s"cell $cell quota")
      assert(rows.map(_.getAs[Long]("rk")).sorted.toSeq ==
        (1L to rows.length).toSeq)
    }
    // a vec appears in exactly one cell's sample
    val ids = out.map(_.getAs[Long]("vec_id"))
    assert(ids.distinct.length == ids.length)
  }

  test("GBT CV harness runs and beats chance on separable blobs") {
    val rng = new scala.util.Random(5)
    def blob(c: Double, label: Int, from: Int) =
      (0 until 40).map { i =>
        (from + i.toLong, label,
          Array.tabulate(4)(_ => (c + rng.nextGaussian() * 0.1).toFloat).toSeq)
      }
    val df = (blob(0.0, 0, 0) ++ blob(3.0, 1, 1000)).toDF("id", "y", "embedding")
    val acc = MlOps.gbtCvAccuracy(df, "embedding", "y", "id", k = 2, maxIter = 5)
    assert(acc > 0.9, s"gbt acc = $acc")
  }

  test("vx_ann_delete_parity starts the same jobs on every evaluation: each serve tombstones a fresh artifact") {
    // sf0.01, not the sf0.001 corpus EntrySpec evaluates every query on:
    // this session's memoized artifact must be fresh here
    val q = SparkEntry.all.find(_.name == "vx_ann_delete_parity").get
    Bench.builds(Seq(q)).foreach(_(spark, sf01))
    val jobs = new JobCounter(spark.sparkContext)
    try {
      val counts = Seq.fill(2) {
        val before = jobs.settle()
        val out = q.fn(spark, sf01).collect()
          .map(r => (r.getLong(0), r.getLong(1))).toSeq
        assert(out == Seq((0L, 0L)), s"delete parity mismatches: $out")
        jobs.settle() - before
      }
      assert(counts.head == counts(1),
        s"jobs per evaluation differ: $counts — a later evaluation is not " +
          "pricing the tombstoned probe and the compact")
    } finally spark.sparkContext.removeSparkListener(jobs)
  }
}
