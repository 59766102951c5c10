package perfbench

import org.apache.spark.sql.SparkSession

/** The host record every result carries, so figures from different
  * sessions can be told apart: cores, the engine's own host-speed canary,
  * load before and after, the seed, the source revision, and the
  * effective value of every engine knob. */
object Host {

  def nproc: Int = Runtime.getRuntime.availableProcessors

  /** Every `spark.graft.*` conf key and `SPARK_GRAFT_*` environment
    * variable the engine's sources mention, with the value in effect for
    * this run ("default" when unset). */
  def knobs(spark: SparkSession, srcRoot: String): (Seq[(String, String)], Seq[(String, String)]) = {
    val dir = java.nio.file.Paths.get(srcRoot)
    val text =
      if (!java.nio.file.Files.isDirectory(dir)) ""
      else {
        val walk = java.nio.file.Files.walk(dir)
        try walk.filter(_.toString.endsWith(".scala")).toArray.map(p =>
          new String(java.nio.file.Files.readAllBytes(p.asInstanceOf[java.nio.file.Path]),
            "UTF-8")).mkString("\n")
        finally walk.close()
      }
    val confKeys = "\"(spark\\.graft\\.[A-Za-z0-9_.]+)\"".r.findAllMatchIn(text)
      .map(_.group(1)).toSeq.distinct.sorted
    val envKeys = "\\b(SPARK_GRAFT_[A-Z0-9_]+)\\b".r.findAllMatchIn(text)
      .map(_.group(1)).toSeq.distinct.sorted
    (confKeys.map(k => k -> spark.conf.getOption(k).getOrElse("default")),
      envKeys.map(k => k -> sys.env.getOrElse(k, "default")))
  }

  def record(spark: SparkSession, seed: Long, srcRoot: String, loadBefore: Double,
      canarySec: Double): String = {
    val (conf, env) = knobs(spark, srcRoot)
    def kv(xs: Seq[(String, String)]) = Outcome.obj(xs.map { case (k, v) => k -> Outcome.str(v) })
    Outcome.obj(Seq(
      "nproc" -> nproc.toString,
      "canary_sec" -> Outcome.num(canarySec),
      "load_per_core_before" -> Outcome.num(loadBefore),
      "load_per_core_after" -> Outcome.num(graft.BenchNoise.loadPerCore()),
      "seed" -> seed.toString,
      "commit" -> Outcome.str(sys.env.getOrElse("PERFBENCH_COMMIT", "unknown")),
      "java" -> Outcome.str(System.getProperty("java.version")),
      "spark" -> Outcome.str(spark.version),
      "conf_knobs" -> kv(conf),
      "env_knobs" -> kv(env)))
  }
}
