package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.SimilaritySearch

/** Round-19 profiler: stage-level wall-clock attribution inside the
  * bench head gates (guide §1.1 — decide where the time goes before touching
  * anything), plus the noise-immune per-gate Spark-job counter (`jobs`).
  * NOT part of the engine's query surface — committed under graft.tools so
  * every number claimed in OPTIMIZATION_r19.md is reproducible.
  */
object R19Probe {

  private def t[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"R19PROBE $name ${(System.nanoTime() - t0) / 1e9}%.3f s")
    r
  }

  def main(args: Array[String]): Unit = {
    val d = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-r19probe").toString)
      .withExtensions(new graft.expressions.GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.read.parquet(s"$d/lineitem.parquet").limit(1).count()

    val which = args.headOption.getOrElse("retrain")
    which match {
      case "retrain" => retrain(spark, d)
      case "jobs" => jobs(spark, d, args.drop(1))
      case "lexsave" => lexsave(spark, d)
      case "lifecycle" => lifecycle(spark, d)
      case "hybrid" => hybrid(spark, d)
      case "rag" => rag(spark, d)
      case "assign" => assign(spark, d)
      case other => println(s"unknown probe: $other")
    }
    spark.stop()
  }

  /** A/B the r19 native nearest-center/probe-cell expressions against the
    * replaced Scala-closure UDFs at the ×100 assignment scale (same
    * embeddings replication scheme as ScaleBench.generate — id-shifted,
    * rotation-perturbed copies), same binary, noop sink (guide §1.4). The
    * closure bodies below are verbatim copies of the r18 UDFs.
    */
  private def assign(s: SparkSession, d: String): Unit = {
    import org.apache.spark.sql.expressions.UserDefinedFunction
    val factor = sys.env.getOrElse("SPARK_GRAFT_ASSIGN_FACTOR", "100").toInt
    val base = s.read.parquet(s"$d/embeddings.parquet")
      .select(col("vec_id"), col("embedding"))
    val dim = base.selectExpr("size(embedding)").head().getInt(0)
    val emb = (0 until factor).map { k =>
      val shifted = base.withColumn("vec_id",
        col("vec_id") + lit(k.toLong * 10000000L))
      val r = k % dim
      val sgn = if ((k / dim) % 2 == 1) -1.0f else 1.0f
      val rotated =
        if (r == 0) shifted
        else shifted.withColumn("embedding",
          expr(s"concat(slice(embedding, ${r + 1}, 1000000), slice(embedding, 1, $r))"))
      if (sgn == 1.0f) rotated
      else rotated.withColumn("embedding", expr("transform(embedding, x -> -x)"))
    }.reduce(_ unionByName _).repartition(32).persist()
    val n = emb.count()
    val (nlist, nprobe) = SimilaritySearch.ivfScaleParams(n)
    println(s"R19PROBE assign corpus n=$n dim=$dim nlist=$nlist nprobe=$nprobe")
    val centers = t("train") {
      SimilaritySearch.buildIvfIndex(emb, nlist, persist = false).centers
    }
    def sqDistRef(v: Seq[Float], ctr: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < ctr.length) { val dl = v(i) - ctr(i); acc += dl * dl; i += 1 }
      acc
    }
    val oldAssign: UserDefinedFunction = udf { (v: Seq[Float]) =>
      var best = 0; var bestD = Double.MaxValue
      var c2 = 0
      while (c2 < centers.length) {
        val sd = sqDistRef(v, centers(c2))
        if (sd < bestD) { bestD = sd; best = c2 }
        c2 += 1
      }
      best
    }
    val oldProbe: UserDefinedFunction = udf { (v: Seq[Float]) =>
      centers.indices.map(c2 => (c2, sqDistRef(v, centers(c2))))
        .sortBy(_._2).take(nprobe).map(_._1).toArray
    }
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    (1 to 2).foreach { r =>
      t(s"assignUdfOld$r") {
        noop(emb.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("tv"),
          oldAssign(col("embedding")).as("cell")))
      }
      t(s"assignNative$r") {
        noop(SimilaritySearch.assignToCells(emb, centers, "vec_id",
          "embedding"))
      }
      // probe-cell selection with the corpus AS the query batch — the
      // per-row probe cost isolated from the candidate join
      t(s"probeUdfOld$r") {
        noop(emb.select(col("vec_id"),
          explode(oldProbe(col("embedding"))).as("cell")))
      }
      t(s"probeNative$r") {
        noop(emb.select(col("vec_id"),
          explode(SimilaritySearch.probeCells(centers, nprobe)(
            col("embedding"))).as("cell")))
      }
    }
    // the int8/PQ per-row quantizers, old tuple-closures vs native
    val oldQuant: UserDefinedFunction = udf { (v: Seq[Float]) =>
      var maxAbs = 0.0f
      v.foreach(x => if (math.abs(x) > maxAbs) maxAbs = math.abs(x))
      val scale = if (maxAbs == 0f) 1.0f else maxAbs / 127.0f
      val bytes = new Array[Byte](v.length)
      var n2 = 0.0
      var i = 0
      while (i < v.length) {
        val qi = math.max(-127, math.min(127, math.round(v(i) / scale)))
        bytes(i) = qi.toByte
        n2 += (qi.toDouble * scale) * (qi.toDouble * scale)
        i += 1
      }
      (scale, math.sqrt(n2), bytes)
    }
    val book = SimilaritySearch.trainPqCodebook(emb, m = 8, ksub = 64)
    val bc = book.centers; val m = book.m; val dsub = book.dsub
    val oldEncode: UserDefinedFunction = udf { (v: Seq[Float]) =>
      val codes = new Array[Byte](m)
      var n2 = 0.0
      var sub = 0
      while (sub < m) {
        val ctr = bc(sub)
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < ctr.length) {
          var s = 0.0; var i = 0
          while (i < dsub) { val dl = v(sub * dsub + i) - ctr(c)(i); s += dl * dl; i += 1 }
          if (s < bestD) { bestD = s; best = c }
          c += 1
        }
        codes(sub) = best.toByte
        var i = 0
        while (i < dsub) { n2 += ctr(best)(i).toDouble * ctr(best)(i); i += 1 }
        sub += 1
      }
      (codes, math.sqrt(n2))
    }
    (1 to 2).foreach { r =>
      t(s"quantUdfOld$r") {
        noop(emb.select(col("vec_id"), oldQuant(col("embedding")).as("q"))
          .select(col("vec_id"), col("q._1"), col("q._2"), col("q._3")))
      }
      t(s"quantNative$r") {
        noop(SimilaritySearch.quantizeInt8(emb))
      }
      t(s"encodeUdfOld$r") {
        noop(emb.select(col("vec_id"), oldEncode(col("embedding")).as("e"))
          .select(col("vec_id"), col("e._1"), col("e._2")))
      }
      t(s"encodeNative$r") {
        noop(SimilaritySearch.encodePq(book, emb))
      }
    }
    // ADC scoring, old closure vs native, over one shared candidate
    // relation (the per-candidate inner loop of the PQ serving path)
    val pqIdx = t("buildPq") {
      val p = SimilaritySearch.buildIvfPqIndex(emb, nlist, persist = true)
      p.assigned.count() // settle the cache so neither A/B draw pays it
      p
    }
    val queries = emb.filter(col("vec_id") < 50)
    val mV = pqIdx.book.m
    val oldAdc: UserDefinedFunction =
      udf { (codes: Array[Byte], rnorm: Double, lut: Seq[Float], qnorm: Double) =>
        var dot = 0.0
        var sub = 0
        val ks = lut.length / mV
        while (sub < mV) {
          dot += lut(sub * ks + (codes(sub) & 0xFF)); sub += 1
        }
        dot / (qnorm * rnorm + 1e-12)
      }
    (1 to 3).foreach { r =>
      t(s"pqProbeNative$r") {
        noop(SimilaritySearch.ivfProbePq(pqIdx, queries, k = 10,
          nprobe = nprobe))
      }
      // same probe with the scoring projection swapped back to the closure:
      // rebuild the candidate relation exactly as ivfProbePqOver does
      t(s"pqProbeOldAdc$r") {
        val book = pqIdx.book
        val bc = book.centers; val dsub = book.dsub
        val stride = bc.map(_.length).max
        val lutAndNorm = udf { (v: Seq[Float]) =>
          val lut = new Array[Float](mV * stride)
          var sub = 0
          while (sub < mV) {
            val ctr = bc(sub)
            var c = 0
            while (c < ctr.length) {
              var s = 0.0; var i = 0
              while (i < dsub) { s += v(sub * dsub + i).toDouble * ctr(c)(i); i += 1 }
              lut(sub * stride + c) = s.toFloat
              c += 1
            }
            sub += 1
          }
          var n2 = 0.0; var i = 0
          while (i < v.length) { n2 += v(i).toDouble * v(i); i += 1 }
          (lut, math.sqrt(n2))
        }
        val q = queries
          .select(col("vec_id").as("query_id"),
            lutAndNorm(col("embedding")).as("__l"),
            explode(SimilaritySearch.probeCells(pqIdx.centers, nprobe)(
              col("embedding"))).as("cell"))
          .select(col("query_id"), col("__l._1").as("lut"),
            col("__l._2").as("qnorm"), col("cell"))
        val cand = pqIdx.assigned.join(q, Seq("cell"))
          .filter(col("query_id") =!= col("neighbor_id"))
        val scored = cand.select(col("query_id"), col("neighbor_id"),
          oldAdc(col("codes"), col("rnorm"), col("lut"), col("qnorm"))
            .as("cosine"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("query_id"))
          .orderBy(col("cosine").desc, col("neighbor_id"))
        noop(scored.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 10))
      }
    }
    pqIdx.unpersist()
    emb.unpersist()
  }

  /** Isolate the lex-index postings save at a scale where the writer has
    * real parallelism (id-shifted ×N document replication, the assign
    * probe's scheme): the build's groupBy leaves the posting relation
    * hash-partitioned on (doc_id, term), so every write task holds every
    * nonempty bucket — the save writes tasks × buckets files unless the
    * rows are clustered on (bucket, salt) first (the IVF writers' r19
    * fix, extended to the lex writers). Reports wall-clock and the file
    * count, min of 2.
    */
  private def lexsave(s: SparkSession, d: String): Unit = {
    val factor = sys.env.getOrElse("SPARK_GRAFT_LEX_FACTOR", "30").toInt
    val base = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val docs = (0 until factor).map { k =>
      base.withColumn("doc_id", col("doc_id") + lit(k.toLong * 10000000L))
    }.reduce(_ unionByName _).repartition(32).persist()
    val n = docs.count()
    println(s"R19PROBE lexsave corpus n=$n")
    val idx = graft.operators.InvertedIndex.build(docs)
    idx.postings.persist().count() // isolate the WRITE from the build
    (1 to 2).foreach { r =>
      val dir = java.nio.file.Files
        .createTempDirectory("graft-r19probe-lexsave").toString
      t(s"save$r")(graft.operators.InvertedIndex.save(idx, dir))
      val files = java.nio.file.Files.walk(java.nio.file.Paths.get(dir, "postings"))
        .filter(p => p.toString.endsWith(".parquet")).count()
      println(s"R19PROBE lexsave run$r postings_files=$files")
    }
    idx.postings.unpersist()
    docs.unpersist()
  }

  /** Count Spark JOBS per named gate — the noise-immune twin of the
    * wall-clock split: driver-orchestrated lifecycle gates are job-launch
    * bound at gate scale (r18 scaling block), so the job count IS the
    * cost model the orchestration optimizations move, and it is exactly
    * reproducible on any host at any load.
    */
  private def jobs(s: SparkSession, d: String, names: Seq[String]): Unit = {
    val counter = new java.util.concurrent.atomic.AtomicLong
    s.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          counter.incrementAndGet(); ()
        }
      })
    val which = if (names.nonEmpty) names
      else Seq("vx_ann_retrain_dist_parity", "vx_stream_ann_epoch_parity",
        "vx_ann_rebalance_parity", "vx_ann_retrain_parity")
    which.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      (1 to 2).foreach { r =>
        val before = counter.get()
        val t0 = System.nanoTime()
        fn(s, d).count()
        val secs = (System.nanoTime() - t0) / 1e9
        println(f"R19PROBE jobs $name run$r jobs=${counter.get() - before} wall=$secs%.3f s")
      }
    }
  }

  /** vx_ann_retrain_parity stage split. */
  private def retrain(s: SparkSession, d: String): Unit = {
    val emb = Tables.embeddings(s, d)
      .select(col("vec_id"), col("embedding"))
    val q = emb.filter(col("vec_id") < 10)
    val dir = java.nio.file.Files
      .createTempDirectory("graft-r19probe-retrain").toString
    t("total") {
      val built = t("build75") {
        SimilaritySearch.buildIvfIndex(emb.filter(col("vec_id") % 4 =!= 3),
          nlist = 8, persist = false)
      }
      t("save")(SimilaritySearch.saveIvfIndex(built, dir))
      t("append")(SimilaritySearch.appendToIvfIndex(s, dir,
        emb.filter(col("vec_id") % 4 === 3)))
      t("delete")(SimilaritySearch.deleteFromAnnIndex(s, dir, Seq(11L, 13L)))
      t("retrain")(SimilaritySearch.retrainIvf(s, dir))
      val re = t("load")(SimilaritySearch.loadIvfIndex(s, dir, persist = false))
      val fresh = t("freshBuild") {
        SimilaritySearch.buildIvfIndex(
          emb.filter(!col("vec_id").isin(11L, 13L)), nlist = 8,
          persist = false)
      }
      t("probeRe")(SimilaritySearch.ivfProbe(re, q, k = 5, nprobe = 3).collect())
      t("probeFresh")(SimilaritySearch.ivfProbe(fresh, q, k = 5, nprobe = 3).collect())
    }
  }

  /** vx_hybrid_rrf_batch_parity stage split. */
  private def hybrid(s: SparkSession, d: String): Unit = {
    import s.implicits._
    graft.queries.EngineQueries.prepareIvfIndex(s, d)
    val idx = t("prepareLexIndex")(
      graft.queries.TextQueries.prepareLexIndex(s, d))
    (1 to 2).foreach { round =>
      val rare = t(s"rareCollect$round") {
        idx.termDf.orderBy(col("df"), col("term")).limit(3)
          .collect().map(_.getAs[String]("term")).toSeq
      }
      val freq = t(s"freqCollect$round") {
        idx.termDf.orderBy(col("df").desc, col("term")).limit(3)
          .collect().map(_.getAs[String]("term")).toSeq
      }
      val allowed = Tables.documents(s, d)
        .filter(col("doc_id") % 3 === 0)
        .select(col("doc_id").as("vec_id"))
      val embQ = Tables.embeddings(s, d).select(col("vec_id"),
        transform(col("embedding"),
          v => floor(v.cast("double") * lit(1e4)).cast("float"))
          .as("embedding"))
      val qterms = (rare.map((0L, _)) ++ freq.map((1L, _)))
        .toDF("query_id", "term")
      val qvecs = embQ.filter(col("vec_id") < 2)
        .select(col("vec_id").as("query_id"), col("embedding"))
      val dense = graft.queries.EngineQueries.prepareIvfIndex(s, d)
      val sel = Some(1.0 / 3.0)
      val batch = t(s"batchLeg$round") {
        val b = graft.operators.HybridRetrieval.rrfTopKByQueryAmong(
          idx, qterms, dense, qvecs, k = 10, allowed, legK = 50,
          selectivity = sel)
        b.count(); b
      }
      val single = t(s"singleLegs$round") {
        val sgl = Seq(0L -> rare, 1L -> freq).map { case (qid, terms) =>
          graft.operators.HybridRetrieval.rrfTopKAmong(idx, terms, dense,
              embQ.filter(col("vec_id") === qid), k = 10, allowed,
              legK = 50, selectivity = sel)
            .select(lit(qid).as("query_id"), col("doc_id"), col("rrf"))
        }.reduce(_ unionByName _)
        sgl.count(); sgl
      }
      t(s"parityJoin$round") {
        batch.as("a").join(single.as("b"),
            col("a.query_id") === col("b.query_id") &&
              col("a.doc_id") === col("b.doc_id"), "full_outer")
          .agg(count(lit(1))).collect()
      }
    }
  }

  /** tx_rag_pipeline stage split. */
  private def rag(s: SparkSession, d: String): Unit = {
    import graft.queries.TextQueries
    t("prepareRagArtifacts") {
      TextQueries.prepareRagEmb(s, d); TextQueries.prepareRagIndex(s, d)
    }
    (1 to 2).foreach { round =>
      t(s"gate$round") {
        graft.SparkEntry.queries("tx_rag_pipeline")(s, d).count()
      }
    }
    (1 to 2).foreach { round =>
      t(s"gateIvf$round") {
        graft.SparkEntry.queries("tx_rag_pipeline_ivf")(s, d).count()
      }
    }
  }

  /** mx_deepfake_lifecycle stage split. */
  private def lifecycle(s: SparkSession, d: String): Unit = {
    t("total") {
      val emb = Tables.embeddings(s, d)
      val a = emb.select(col("label"), col("vec_id"),
        slice(col("embedding"), 1, 32).as("v"))
      val b = emb.select(col("label"), col("vec_id"),
        slice(col("embedding"), 33, 32).as("v"))
      t("nAligned")(a.join(b, Seq("label", "vec_id")).count())
      val cmp = t("compareSpaces") {
        graft.pipelines.DeepfakeAnalysis.compareSpaces(
          a, b, "v", "vec_id", "label", maxPerGroup = 30, cvFolds = 2,
          lrMaxIter = 30)
      }
      t("nSampled")(cmp.alignedCounts.agg(coalesce(sum(col("n")), lit(0L)))
        .head().getLong(0))
      t("nCosinePairs") {
        emb.groupBy(col("label"))
          .agg(graft.operators.VecAgg.meanVec(col("embedding")).as("c"))
          .as("x").select(col("label").as("l1"), col("c").as("ca"))
          .crossJoin(emb.groupBy(col("label"))
            .agg(graft.operators.VecAgg.meanVec(col("embedding")).as("c"))
            .as("y").select(col("label").as("l2"), col("c").as("cb")))
          .filter(col("l1") <= col("l2"))
          .count()
      }
      t("embeddingMap") {
        val map = graft.pipelines.DeepfakeAnalysis.embeddingMap(
          emb, "embedding", "vec_id", "label", method = "pca",
          samplePerGroup = 20)
        map.coords.count()
      }
    }
  }
}
