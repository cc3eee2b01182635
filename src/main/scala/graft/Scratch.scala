package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Scratch perf-experiment main (not part of the judged surface).
  * Round 15: time the build micros (quality train / NN-Descent /
  * graph-index maintain) in the Bench protocol's session shape —
  * the round's optimization targets. */
object Scratch {
  def time[A](label: String, runs: Int = 3)(f: => A): Unit = {
    (1 to runs).foreach { i =>
      val t0 = System.nanoTime()
      f
      println(f"[scratch] $label run$i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val which = if (args.nonEmpty) args.toSet else Set("train", "nnd")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.codegen.cache.maxEntries", "4096")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def noop(df: org.apache.spark.sql.DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    if (which("train"))
      time("tx_quality_train") {
        noop(graft.operators.QualityClassifier.train(
          graft.sources.Tables(spark, sfDir, "documents"),
          graft.operators.QualityClassifier.marginFeatures(col("text")),
          graft.functions.TextFunctions.gateRules(col("text"))
            .map(_._2).reduce(_ && _), iters = 40, lr = 4.0))
      }
    if (which("nnd"))
      time("sim_nndescent_train") {
        noop(graft.operators.NnDescent.knnGraph(
          graft.sources.Tables(spark, sfDir, "embeddings"),
          col("vec_id"), col("embedding"), k = 16, iters = 3, revCap = 16))
      }
    if (which("prefix"))
      for (name <- Seq("dd_prefix_pairs", "dd_lsh_pairs")) {
        val q = Registry.byName(name)
        noop(q.fn(spark, sfDir))
        time(name) { noop(q.fn(spark, sfDir)) }
      }
    if (which("t1")) {
      val names = if (args.length > 1) args.drop(1).toSeq
        else Seq("tx_tfidf", "dd_lsh_pairs")
      for (name <- names) {
        val q = Registry.byName(name)
        noop(q.fn(spark, sfDir))
        time(name) { noop(q.fn(spark, sfDir)) }
      }
    }
    if (which("prefixsum")) {
      val t0 = System.nanoTime()
      val r = Registry.byName("dd_prefix_pairs").fn(spark, sfDir)
        .agg(count(lit(1)).as("n"),
          sum(pmod(xxhash64(col("doc_a"), col("doc_b"),
            round(col("jaccard") * 1e6).cast("long")), lit(1000000007L)))
            .as("h"))
        .head()
      println(f"[scratch] prefixsum: n=${r.getLong(0)} h=${r.getLong(1)}" +
        f" (${(System.nanoTime() - t0) / 1e9}%.3f s)")
    }
    if (which("maint")) {
      // decompose graph_index_maintain: build (untimed) then per-phase
      val base = java.nio.file.Files.createTempDirectory("scr-gi").toString
      graft.operators.GraphIndex.build(
        graft.sources.Tables(spark, sfDir, "embeddings"), base,
        k = 16, iters = 3, revCap = 16)
      val jc = new java.util.concurrent.atomic.AtomicInteger
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            jc.incrementAndGet(); ()
          }
        })
      def phase[A](l: String)(f: => A): A = {
        val j0 = jc.get()
        val t0 = System.nanoTime()
        val r = f
        println(f"[scratch] maint.$l: ${(System.nanoTime() - t0) / 1e9}%.3f s" +
          s" jobs=${jc.get() - j0}")
        r
      }
      for (i <- 1 to 2) {
        val dir = java.nio.file.Files.createTempDirectory(s"scr-gi$i").toString
        phase("copy") {
          val s = java.nio.file.Paths.get(base)
          val d = java.nio.file.Paths.get(dir)
          java.nio.file.Files.walk(s).forEach { p =>
            val t = d.resolve(s.relativize(p))
            if (java.nio.file.Files.isDirectory(p))
              java.nio.file.Files.createDirectories(t)
            else { java.nio.file.Files.copy(p, t); () }
          }
        }
        val batch = graft.sources.Tables(spark, sfDir, "embeddings")
          .filter(col("vec_id") < 256)
          .select((col("vec_id") + 10000000L).as("vec_id"), col("embedding"))
        phase("append") {
          graft.operators.GraphIndex.append(spark, dir, batch)
        }
        phase("compact_relink") {
          graft.operators.GraphIndex.compact(spark, dir, relink = true)
        }
        phase("serve") {
          noop(graft.operators.GraphIndex.searchTopK(spark, dir,
            graft.sources.Tables(spark, sfDir, "embeddings")
              .filter(col("vec_id") < 64),
            k = 10, hops = 2, seedK = 8))
        }
      }
    }
    if (which("nndjobs")) {
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val stages = new java.util.concurrent.atomic.AtomicInteger
      val tasks = new java.util.concurrent.atomic.AtomicInteger
      spark.sparkContext.addSparkListener(
        new org.apache.spark.scheduler.SparkListener {
          override def onJobStart(
              j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
            jobs.incrementAndGet()
            stages.addAndGet(j.stageInfos.size)
            tasks.addAndGet(j.stageInfos.map(_.numTasks).sum)
            ()
          }
        })
      noop(graft.operators.NnDescent.knnGraph(
        graft.sources.Tables(spark, sfDir, "embeddings"),
        col("vec_id"), col("embedding"), k = 16, iters = 3, revCap = 16))
      jobs.set(0); stages.set(0); tasks.set(0)
      val t0 = System.nanoTime()
      noop(graft.operators.NnDescent.knnGraph(
        graft.sources.Tables(spark, sfDir, "embeddings"),
        col("vec_id"), col("embedding"), k = 16, iters = 3, revCap = 16))
      println(f"[scratch] nndjobs warm: ${(System.nanoTime() - t0) / 1e9}%.3f s" +
        s" jobs=${jobs.get} stages=${stages.get} tasks=${tasks.get}")
    }
    if (which("lshprof")) {
      // decompose dd_lsh_pairs at bench scale: upstream signature scan
      // (shared via minhashBands) vs the full candidate query, with
      // job/stage/task counts per warm run
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val stages = new java.util.concurrent.atomic.AtomicInteger
      val tasks = new java.util.concurrent.atomic.AtomicInteger
      // removed after the profiling block (round-15 ADVICE): a leaked
      // counting listener double-counts any other scratch mode's counters
      // run in the same session
      val lshListener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet()
          stages.addAndGet(j.stageInfos.size)
          tasks.addAndGet(j.stageInfos.map(_.numTasks).sum)
          ()
        }
      }
      spark.sparkContext.addSparkListener(lshListener)
      def prof[A](l: String, runs: Int = 3)(f: => A): Unit = {
        f // warm
        (1 to runs).foreach { i =>
          jobs.set(0); stages.set(0); tasks.set(0)
          val t0 = System.nanoTime()
          f
          println(f"[scratch] lshprof.$l run$i: ${(System.nanoTime() - t0) / 1e9}%.3f s" +
            s" jobs=${jobs.get} stages=${stages.get} tasks=${tasks.get}")
        }
      }
      val docs = graft.sources.Tables(spark, sfDir, "documents")
      prof("scan_only") { noop(docs.select(col("doc_id"), col("text"))) }
      prof("fanout_only") {
        noop(graft.operators.Parallelism.fanOut(
          docs.select(col("doc_id"), col("text"))))
      }
      prof("sig_nofan") {
        noop(docs.select(col("doc_id"),
          graft.functions.TextFunctions.minhashSignature(col("text"), 16).as("sig"))
          .filter(col("sig").isNotNull))
      }
      // construction+planning amortized: build the frame ONCE, noop it
      // repeatedly (execution-only timing)
      locally {
        val bands = graft.operators.Dedup.minhashBands(
          docs, col("doc_id"), col("text"), 16, 4)
        prof("bands_prebuilt") { noop(bands) }
        val full = graft.operators.Dedup.lshCandidatePairs(
          docs, col("doc_id"), col("text"), 16, 4)
        prof("full_prebuilt") { noop(full) }
      }
      prof("bands_only") {
        noop(graft.operators.Dedup.minhashBands(
          docs, col("doc_id"), col("text"), 16, 4))
      }
      prof("full") {
        noop(graft.operators.Dedup.lshCandidatePairs(
          docs, col("doc_id"), col("text"), 16, 4))
      }
      spark.sparkContext.removeSparkListener(lshListener)
    }
    if (which("aqesweep")) {
      // sweep every benched query's EXECUTED plan for the round's
      // recurring failure mode: AQE byte-coalescing folding a
      // CPU-per-row stage to one partition (tx_tfidf, bucketPairs).
      // Flags any node running on 1 partition while emitting > minRows.
      import org.apache.spark.sql.execution.SparkPlan
      import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
      val minRows = 20000L
      def sweep(name: String, p: SparkPlan): Unit = {
        val parts =
          try p.outputPartitioning.numPartitions catch { case _: Throwable => -1 }
        val rows = p.metrics.get("numOutputRows").map(_.value).getOrElse(0L)
        if (parts == 1 && rows > minRows &&
            !p.nodeName.contains("Scan") && !p.nodeName.contains("Exchange"))
          println(s"[scratch] aqesweep FLAG $name: ${p.nodeName} " +
            s"partitions=1 rows=$rows")
        p match {
          case a: AdaptiveSparkPlanExec => sweep(name, a.executedPlan)
          case s: QueryStageExec => sweep(name, s.plan)
          case _ => p.children.foreach(sweep(name, _))
        }
      }
      for (q <- Registry.all.filter(q => q.headline || q.headline2)) {
        val df = q.fn(spark, sfDir)
        df.queryExecution.toRdd.foreach(_ => ())
        sweep(q.name, df.queryExecution.executedPlan)
        println(s"[scratch] aqesweep done ${q.name}")
      }
    }
    if (which("gserve")) {
      // decompose graph_index_serve: build once (untimed), then time the
      // full serve and its stages — seeds-only, seeds+hops — with
      // job/stage/task counts, the lshprof protocol
      val dir = java.nio.file.Files.createTempDirectory("scr-gs").toString
      graft.operators.GraphIndex.build(
        graft.sources.Tables(spark, sfDir, "embeddings"), dir,
        k = 16, iters = 3, revCap = 16)
      val jobs = new java.util.concurrent.atomic.AtomicInteger
      val stages = new java.util.concurrent.atomic.AtomicInteger
      val tasks = new java.util.concurrent.atomic.AtomicInteger
      val l = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
          jobs.incrementAndGet()
          stages.addAndGet(j.stageInfos.size)
          tasks.addAndGet(j.stageInfos.map(_.numTasks).sum)
          ()
        }
      }
      spark.sparkContext.addSparkListener(l)
      def prof[A](label: String, runs: Int = 3)(f: => A): Unit = {
        f // warm
        (1 to runs).foreach { i =>
          jobs.set(0); stages.set(0); tasks.set(0)
          val t0 = System.nanoTime()
          f
          println(f"[scratch] gserve.$label run$i: ${(System.nanoTime() - t0) / 1e9}%.3f s" +
            s" jobs=${jobs.get} stages=${stages.get} tasks=${tasks.get}")
        }
      }
      val queries = graft.sources.Tables(spark, sfDir, "embeddings")
        .filter(col("vec_id") < 256)
      val full = graft.operators.GraphIndex.searchTopK(spark, dir, queries,
        k = 10, hops = 2, seedK = 8)
      prof("full_prebuilt") { noop(full) }
      locally { // executed-plan SQLMetrics of the full serve
        full.queryExecution.toRdd.foreach(_ => ())
        PlanMetrics.show(full.queryExecution.executedPlan, partitions = false)
      }
      val h1 = graft.operators.GraphIndex.searchTopK(spark, dir, queries,
        k = 10, hops = 1, seedK = 8)
      prof("hops1_prebuilt") { noop(h1) }
      val h0 = graft.operators.GraphIndex.searchTopK(spark, dir, queries,
        k = 10, hops = 0, seedK = 8)
      prof("hops0_prebuilt") { noop(h0) }
      spark.sparkContext.removeSparkListener(l)
    }
    if (which("nnditer"))
      for (it <- 0 to 3)
        time(s"nnd_iters_$it", runs = 2) {
          noop(graft.operators.NnDescent.knnGraph(
            graft.sources.Tables(spark, sfDir, "embeddings"),
            col("vec_id"), col("embedding"), k = 16, iters = it, revCap = 16))
        }
    if (which("nndfull"))
      time("sim_nndescent_train_full") {
        val emb = graft.sources.Tables(spark, sfDir, "embeddings")
        var knn = graft.operators.NnDescent.knnGraph(
          emb, col("vec_id"), col("embedding"), k = 16, iters = 0, revCap = 16)
        for (_ <- 1 to 3)
          knn = graft.operators.NnDescent.refineRound(
            knn, emb, col("vec_id"), col("embedding"), k = 16, revCap = 16)
        noop(knn)
      }
    spark.stop()
  }
}
