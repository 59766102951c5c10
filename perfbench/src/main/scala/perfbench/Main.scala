package perfbench

import org.apache.spark.sql.SparkSession

/** Live heap after a full collection, tracked at phase boundaries. */
final class Heap {
  private var peakBytes = 0L
  def sample(): Unit = {
    System.gc()
    val used = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
    peakBytes = math.max(peakBytes, used)
  }
  def peakMb: Double = peakBytes / 1048576.0
}

/** Entry point: one workload, one seed, one run.
  *
  * {{{
  * Main --workload serve_read|serve_write_cdc|graph_refresh --seed N
  *      --seconds S --trace 0|1 --work DIR --src DIR
  * }}}
  *
  * Prints the full record as one JSON line, then the result line last. Exits 1 when any output was wrong, 2 when the run
  * could not complete (then no result line is printed). */
object Main {

  val Workloads = Seq("serve_read", "serve_write_cdc", "graph_refresh")

  /** Set-ups per run; `setup_s` is their median. */
  val SetupRepeats = 3

  final case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean,
      work: String, src: String)

  def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val a = Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", need("work"), m.getOrElse("src", "src/main/scala"))
    require(Workloads.contains(a.workload), s"unknown workload ${a.workload}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    a
  }

  def session(work: String, workload: String): SparkSession = {
    // graph_refresh leaves one core to the driver thread, the collector
    // and the JIT, so they do not contend with its tasks
    val cores = if (workload == "graph_refresh") math.max(1, Host.nproc - 1) else Host.nproc
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    new java.io.File(a.work).mkdirs()
    val loadBefore = graft.BenchNoise.loadPerCore()
    val spark = session(a.work, a.workload)
    spark.sparkContext.setLogLevel("WARN")
    val code =
      try {
        val ctx = new Ctx(spark, a.work, a.seed)
        val out = new Outcome
        val heap = new Heap
        a.workload match {
          case "graph_refresh" => GraphWorkload.run(ctx, out, a.seconds, a.trace, heap)
          case w => Serve.run(ctx, out, w, a.seconds, a.trace, heap)
        }
        out.metric("peak_heap_mb", heap.peakMb, "MB")
        val attempted = out.attempted.sum
        out.metric("failed_frac", out.failed.sum.toDouble / math.max(attempted, 1L), "ratio")
        val (canary, canaryMs) = Ctx.timedMs(graft.BenchNoise.canarySec(spark))
        log(f"host canary ${canaryMs / 1000}%.1f s")
        out.put("host", Host.record(spark, a.seed, a.src, loadBefore, canary))
        emit(a, out)
        if (out.failed.sum == 0 && attempted > 0) 0 else 1
      } catch {
        case e: Throwable =>
          e.printStackTrace()
          2
      } finally spark.stop()
    sys.exit(code)
  }

  private def emit(a: Args, out: Outcome): Unit = {
    val wanted = if (a.trace) Metrics.PerLayer else Metrics.EndToEnd
    val metrics = wanted.map { case (name, unit) =>
      val v = out.metrics.get(name).map(_._1).getOrElse {
        if (a.trace) 0.0 else throw new IllegalStateException(s"metric $name was not measured")
      }
      name -> Outcome.obj(Seq("value" -> Outcome.num(v), "unit" -> Outcome.str(unit)))
    }
    val correct = out.failed.sum == 0 && out.attempted.sum > 0
    val all = out.metrics.map { case (k, (v, u)) =>
      k -> Outcome.obj(Seq("value" -> Outcome.num(v), "unit" -> Outcome.str(u)))
    }
    val record = Outcome.obj(Seq(
      "workload" -> Outcome.str(a.workload), "seed" -> a.seed.toString,
      "seconds" -> a.seconds.toString, "trace" -> (if (a.trace) "1" else "0"),
      "failures" -> out.failures.map(Outcome.str).mkString("[", ",", "]"),
      "all_metrics" -> Outcome.obj(all)) ++ out.record)
    val recFile = new java.io.File(a.work, "record.json")
    java.nio.file.Files.write(recFile.toPath, record.getBytes("UTF-8"))
    println(s"perfbench-record $record")
    println(Outcome.obj(Seq("correct" -> correct.toString,
      "attempted" -> out.attempted.sum.toString, "failed" -> out.failed.sum.toString,
      "metrics" -> Outcome.obj(metrics))))
  }
}
