package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // Freeing a local checkpoint on purpose (core.Blocks.free) warns on
    // every call; the same rule as src/test/resources/log4j2.properties.
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.rdd.MapPartitionsRDD", org.apache.logging.log4j.Level.ERROR)
    new java.io.File(outDir).mkdirs()
    // A query that throws must surface as a FAIL row in the driver's
    // compare, never as a silent absence (r8/r9 shipped all-green
    // artifacts while 10 queries errored).
    val failures = scala.collection.mutable.LinkedHashMap.empty[String, String]
    // Builder-side iteration aid: SPARK_GRAFT_ONLY=q_a,q_b restricts the
    // dump to named queries. The driver never sets it, so the full-run
    // manifest contract is unchanged there.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter(kv => names(kv._1))
      case None => SparkEntry.queries
    }
    selected.foreach { case (name, fn) =>
      Verify.writeQueryOutput(spark, sfDir, outDir, name, fn)
        .foreach(failures(name) = _)
      // Inter-query hygiene (same rationale as Bench): queries are
      // independent, so orphaned persist/checkpoint blocks from the
      // finished query only crowd the session.
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // Under SPARK_GRAFT_ONLY the oracle map shrinks with the run too, so
    // check.py compares exactly the queries this run executed.
    val oracleDump =
      if (only.isDefined) SparkEntry.oracleSql.filter(kv => selected.contains(kv._1))
      else SparkEntry.oracleSql
    val json = oracleDump
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // Loud-failure manifest: every EXECUTED query name plus per-query
    // error text, so any compare (or human) can detect a shrunken run by
    // diffing |manifest| against |green rows|. Under SPARK_GRAFT_ONLY the
    // manifest lists only the selected queries AND stale outputs of
    // unselected queries are deleted — otherwise a prior full run's
    // parquet would validate green for queries this run never executed,
    // masking regressions during builder iteration.
    if (only.isDefined) {
      val keep = selected.keySet
      SparkEntry.queries.keys.filterNot(keep).foreach { name =>
        val dir = new java.io.File(outDir, s"$name.parquet")
        if (dir.exists()) {
          def rm(f: java.io.File): Unit = {
            Option(f.listFiles()).foreach(_.foreach(rm)); f.delete(); ()
          }
          rm(dir)
        }
      }
    }
    val manifest = selected.keys.map(q).mkString("[", ",", "]")
    Files.writeString(Paths.get(s"$outDir/manifest.json"), manifest)
    val errJson = failures.map { case (k, v) => s"${q(k)}: ${q(v)}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/errors.json"), errJson)
    if (failures.nonEmpty)
      System.err.println(
        s"[verify] ${failures.size}/${SparkEntry.queries.size} queries FAILED: " +
          failures.keys.mkString(", "))
    spark.stop()
  }

  /** Run one registered query and write its parquet output; on ANY
    * exception write a one-row `_verify_error` parquet in its place and
    * return the message. The marker makes a broken query a visible FAIL
    * row in the driver's compare (present → compared → schema mismatch)
    * instead of a silent absence. */
  def writeQueryOutput(spark: SparkSession, sfDir: String, outDir: String,
      name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame)
      : Option[String] =
    try {
      fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      None
    } catch { case e: Throwable =>
      val msg = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(500)}"
      System.err.println(s"[verify] $name FAILED: $msg")
      try {
        import spark.implicits._
        Seq(msg).toDF("_verify_error").coalesce(1)
          .write.mode("overwrite").parquet(s"$outDir/$name")
      } catch { case e2: Throwable =>
        System.err.println(s"[verify] $name error-marker write failed: ${e2.getMessage}")
      }
      Some(msg)
    }
}
