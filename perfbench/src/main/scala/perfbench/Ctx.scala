package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.LogicalRDD

/** What every workload shares: the session, the run's scratch directory
  * inside the checkout, the seed, and the tracing switch. Tracing is off
  * for the measured end-to-end segments and on for the traced ones. */
final class Ctx(val spark: SparkSession, val work: String, val seed: Long) {
  val counter = new JobCounter
  @volatile private var tracerNow = new Tracer(spark.sparkContext, enabled = false)

  def span[T](name: String)(body: => T): T = tracerNow.span(name)(body)

  private var tracedFromNs = 0L

  /** Start a traced segment: fresh spans, fresh counters, listener on. */
  def traceOn(): Unit = {
    tracerNow = new Tracer(spark.sparkContext, enabled = true)
    counter.reset()
    spark.sparkContext.addSparkListener(counter)
    tracedFromNs = System.nanoTime()
  }

  /** End a traced segment; returns its per-span aggregates and the share
    * of its wall time spent in tracing code (listener callbacks plus span
    * bookkeeping), in percent. */
  def traceOff(): (Map[String, SpanStats], Double) = {
    val wallNs = System.nanoTime() - tracedFromNs
    org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
    spark.sparkContext.removeSparkListener(counter)
    val out = SpanStats.of(tracerNow, counter)
    val overheadPct = (counter.busyNs.sum + tracerNow.overheadNs.sum) * 100.0 / wallNs
    tracerNow = new Tracer(spark.sparkContext, enabled = false)
    (out, overheadPct)
  }

  def dir(name: String): String = {
    val d = new java.io.File(work, name)
    d.mkdirs()
    d.getAbsolutePath
  }

  /** Persisted or checkpointed RDDs the context still has registered. */
  def persistentRdds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** RDD ids a frame's plan reads from (its own checkpoint blocks). */
  def rddsOf(df: DataFrame): Set[Int] =
    df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd.id }.toSet
}

object Ctx {
  def timedMs[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = f
    (a, (System.nanoTime() - t0) / 1e6)
  }

  def deleteTree(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(x => java.nio.file.Files.deleteIfExists(x): Unit)
      finally walk.close()
    }
  }
}
