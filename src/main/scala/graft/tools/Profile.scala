package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.core.Td
import graft.pipeline.{Dedup, TextAnalysis}

/** The one dev profiling entry point (query timing, stage timing, plan
  * dumps) — consolidated from the former ProfileQuery/Profile/CompProfile/
  * Explain mains so the tool surface can't drift.
  *
  * Usage (env: SPARK_GRAFT_SF_DIR, SPARK_GRAFT_CPUS, SPARK_GRAFT_REPS):
  *   sbt "runMain graft.tools.Profile query q_dedup_recall q_b3_filter"
  *   sbt "runMain graft.tools.Profile explain q_b5_multi_join"
  *   sbt "runMain graft.tools.Profile stages"      # dedup pipeline stages
  *   sbt "runMain graft.tools.Profile components"  # LSH pairs → components
  */
object Profile {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try args.toList match {
      case "query" :: names if names.nonEmpty => names.foreach(query(spark, sfDir, reps, _))
      case "jobs" :: names if names.nonEmpty => names.foreach(jobProbe(spark, sfDir, _))
      case "explain" :: names if names.nonEmpty => names.foreach(explain(spark, sfDir, _))
      case "stages" :: _ => stages(spark, sfDir)
      case "components" :: _ => components(spark, sfDir)
      case "incr" :: _ => incrPhases(spark, sfDir)
      case other =>
        System.err.println(
          s"""usage: Profile query <name>... | jobs <name>... | explain <name>... | stages | components | incr
             |got: ${other.mkString(" ")}""".stripMargin)
        sys.exit(2)
    } finally spark.stop()
  }

  private def dropState(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  /** Phase attribution for the q_incr_* family (guide §1: measure before
    * touching): store build vs base batch compute vs incremental refresh,
    * with per-phase wall time AND Spark job counts — the fixture-scale
    * gates are job-count-bound, so the job tally is the cost model. */
  private def incrPhases(spark: SparkSession, sfDir: String): Unit = {
    val jobs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      })
    def phase[A](name: String)(f: => A): A = {
      val j0 = jobs.get(); val t0 = System.nanoTime()
      val r = f
      println(f"[incr] $name%-32s ${(System.nanoTime() - t0) / 1e9}%7.2fs " +
        f"jobs=${jobs.get() - j0}")
      r
    }
    // --- q_incr_scc decomposition ---
    val (baseRels, muts) = phase("scc: store build")(
      graft.queries.StoreQueries.buildSccGraphStore(spark, sfDir))
    val baseScc = phase("scc: base Scc.components")(
      { val df = graft.graph.Scc.components(
          baseRels.select(col("source_id").as("src"),
            col("target_id").as("dst"))); df.count(); df })
    phase("scc: refreshScc")(
      graft.graph.IncrementalAnalytics.refreshScc(baseScc, baseRels, muts)
        .orderBy(col("node")).count())
    dropState(spark)
    // --- q_incr_kcore decomposition (shares the builder with 5 gates) ---
    val (baseTwins2, baseRels2, muts2) = phase("kcore: store build")(
      graft.queries.StoreQueries.buildIncrementalGraphStore(spark, sfDir))
    val core2 = phase("kcore: base peel k=2")(
      { val df = graft.graph.KCore.kcore(baseRels2, "source_id",
          "target_id", 2); df.count(); df })
    phase("kcore: refresh k=2")(
      graft.graph.IncrementalAnalytics.refreshKcore(core2, baseRels2,
        muts2, 2).count())
    val core3 = phase("kcore: base peel k=3")(
      { val df = graft.graph.KCore.kcore(baseRels2, "source_id",
          "target_id", 3); df.count(); df })
    phase("kcore: refresh k=3")(
      graft.graph.IncrementalAnalytics.refreshKcore(core3, baseRels2,
        muts2, 3).count())
    dropState(spark)
    // --- q_incr_ktruss decomposition ---
    val (_, baseRels3, muts3) = phase("ktruss: store build")(
      graft.queries.StoreQueries.buildIncrementalGraphStore(spark, sfDir))
    val truss3 = phase("ktruss: base peel k=3")(
      { val df = graft.graph.KTruss.peel(
          baseRels3.select(col("source_id").as("src"),
            col("target_id").as("dst")), 3, rounds = 4); df.count(); df })
    phase("ktruss: refresh k=3")(
      graft.graph.IncrementalAnalytics.refreshKtruss(truss3, baseRels3,
        muts3, 3, rounds = 4).count())
    val _ = baseTwins2
  }

  /** Scheduling-cost decomposition of one gate (guide §1/§2.2): run once
    * untimed (JIT + page cache), then once with a listener tallying Spark
    * jobs, stages, TASKS and summed task wall time. Job-count-bound gates
    * show tasks ≫ work: a 25-node fixture gate launching 3000 tasks at 32
    * shuffle partitions is the anti-scaling pathology the r19 verdict
    * flagged (c8 faster than c32). Prints per-gate totals plus the top
    * task-count stages so the fix can target the loop that spawns them. */
  private def jobProbe(spark: SparkSession, sfDir: String,
      name: String): Unit = {
    val fn = graft.SparkEntry.queries(name)
    fn(spark, sfDir).count() // warm: JIT, page cache, broadcast paths
    dropState(spark)
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    val byCount = new java.util.concurrent.ConcurrentHashMap[Int, Integer]()
    // per-stage task-time attribution: stageId -> (name, numTasks, ms)
    val stageMs = new java.util.concurrent.ConcurrentHashMap[Int, java.lang.Long]()
    val stageMeta = new java.util.concurrent.ConcurrentHashMap[Int, (String, Int)]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
      override def onStageCompleted(
          sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        stages.incrementAndGet()
        tasks.addAndGet(sc.stageInfo.numTasks)
        val m = sc.stageInfo.taskMetrics
        val split = if (m == null) "" else
          f" run=${m.executorRunTime / 1000.0}%.2f cpu=${m.executorCpuTime / 1e9}%.2f " +
            f"deser=${m.executorDeserializeTime / 1000.0}%.2f gc=${m.jvmGCTime / 1000.0}%.2f " +
            f"serR=${m.resultSerializationTime / 1000.0}%.2f"
        stageMeta.put(sc.stageInfo.stageId,
          (sc.stageInfo.name.takeWhile(_ != '\n').take(60) + split,
            sc.stageInfo.numTasks))
        byCount.merge(sc.stageInfo.numTasks, Integer.valueOf(1),
          (a, b) => Integer.valueOf(a.intValue() + b.intValue()))
      }
      override def onTaskEnd(
          te: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (te.taskInfo != null) {
          taskMs.addAndGet(te.taskInfo.duration)
          stageMs.merge(te.stageId, java.lang.Long.valueOf(te.taskInfo.duration),
            (a, b) => java.lang.Long.valueOf(a.longValue() + b.longValue()))
        }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    fn(spark, sfDir).count()
    val wall = (System.nanoTime() - t0) / 1e9
    // brief settle so late stage/task events on the listener bus land
    Thread.sleep(300L)
    spark.sparkContext.removeSparkListener(listener)
    dropState(spark)
    val hist = {
      val it = byCount.entrySet().iterator()
      val b = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
      while (it.hasNext) { val e = it.next(); b += ((e.getKey, e.getValue.intValue())) }
      b.sortBy(-_._1).take(8).map { case (n, c) => s"${n}t x$c" }.mkString(", ")
    }
    println(f"[jobs] $name%-28s wall=$wall%6.2fs jobs=${jobs.get}%4d " +
      f"stages=${stages.get}%4d tasks=${tasks.get}%5d " +
      f"taskTime=${taskMs.get / 1000.0}%7.2fs  stageHist: $hist")
    val top = {
      val it = stageMs.entrySet().iterator()
      val b = scala.collection.mutable.ArrayBuffer.empty[(Int, Long)]
      while (it.hasNext) { val e = it.next(); b += ((e.getKey, e.getValue.longValue())) }
      b.sortBy(-_._2).take(6)
    }
    top.foreach { case (sid, ms) =>
      val (nm, nt) = stageMeta.getOrDefault(sid, ("?", -1))
      println(f"[jobs]   stage $sid%5d ${ms / 1000.0}%7.2fs ${nt}%4dt  $nm")
    }
  }

  /** Best-of-N timing of one SparkEntry query, without the full Bench. */
  private def query(spark: SparkSession, sfDir: String, reps: Int,
      name: String): Unit = {
    val fn = graft.SparkEntry.queries(name)
    val times = (1 to reps).map { _ =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val t = (System.nanoTime() - t0) / 1e9
      dropState(spark)
      t
    }
    println(f"[profile] $name best=${times.min}%.3f " +
      s"all=${times.map(t => f"$t%.2f").mkString(",")}")
  }

  /** Formatted physical plan of one SparkEntry query. */
  private def explain(spark: SparkSession, sfDir: String, name: String): Unit = {
    println(s"========== $name ==========")
    graft.SparkEntry.queries(name)(spark, sfDir).explain("formatted")
  }

  private def timed[A](name: String)(f: => A): A = {
    val t0 = System.nanoTime()
    val r = f
    println(f"[profile] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2fs")
    r
  }

  /** Stage-level timing of the dedup pipeline building blocks. */
  private def stages(spark: SparkSession, sfDir: String): Unit = {
    val docs = Td.documents(spark, sfDir)
    def count(name: String)(df: => org.apache.spark.sql.DataFrame): Unit =
      timed(name)(println(s"  rows=${df.count()}"))
    count("docs scan")(docs)
    count("tokens explode")(docs.select(explode(TextAnalysis.tokens(col("text")))))
    count("shingleSet explode")(
      docs.select(explode(TextAnalysis.shingleSet(col("text"), 3))))
    count("shingleIds (md5+conv)")(Dedup.shingleIds(docs, "doc_id", "text", 3))
    count("minhash sigs 64 (wide)")(
      Dedup.minhashSignatures(docs, "doc_id", "text", 3, 64))
    count("simhash")(Dedup.simhash(docs, "doc_id", "text", 3))
    count("jaccard pairs e2e")(
      Dedup.shingleJaccardPairs(docs, "doc_id", "text", 3, 0.5, 100))
    count("minhash pairs e2e")(
      Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 64, 16, 0.5))
    dropState(spark)
    count("minhash pairs COLD")(
      Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 64, 16, 0.5))
  }

  /** LSH pairs → connected components, stage-timed. */
  private def components(spark: SparkSession, sfDir: String): Unit = {
    val docs = Td.documents(spark, sfDir)
    val pairs = timed("pairs (minhash)") {
      val p = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 64, 16, 0.5)
        .persist()
      println(s"  n_pairs = ${p.count()}")
      p
    }
    timed("components")(
      println(s"  rows = ${Dedup.components(pairs).count()}"))
  }
}
