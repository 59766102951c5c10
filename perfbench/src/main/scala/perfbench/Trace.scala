package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import scala.jdk.CollectionConverters._
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One finished span: a named interval around a call into one layer. */
final case class Span(id: Long, name: String, startNs: Long, endNs: Long) {
  def ms: Double = (endNs - startNs) / 1e6
}

/** Spans recorded from the benchmark's own code around each layer call.
  * A disabled tracer runs the body and records nothing. While a span is
  * open its thread carries the Spark job tag `pb-<id>`, so the
  * [[JobCounter]] can charge jobs to the span that started them (nested
  * spans both see a job started inside the inner one). */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  /** Time spent in span bookkeeping itself (part of the tracing overhead). */
  val overheadNs = new LongAdder

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val b0 = System.nanoTime()
      val id = ids.incrementAndGet()
      sc.addJobTag(s"pb-$id")
      val t0 = System.nanoTime()
      overheadNs.add(t0 - b0)
      try body
      finally {
        val t1 = System.nanoTime()
        sc.removeJobTag(s"pb-$id")
        done.add(Span(id, name, t0, t1))
        overheadNs.add(System.nanoTime() - t1)
      }
    }

  def spans: Seq[Span] = done.asScala.toSeq
}

/** Spark listener totals plus per-span job counts (from job tags).
  * `busyNs` is the time its own callbacks take: part of the tracing
  * overhead. */
final class JobCounter extends SparkListener {
  val jobs, stages, tasks, busyNs = new LongAdder
  val taskRunMs, taskCpuNs, gcMs, shuffleBytes, spillBytes, schedDelayMs = new LongAdder
  private val jobsBySpan = new java.util.concurrent.ConcurrentHashMap[Long, LongAdder]()

  private def timed(f: => Unit): Unit = {
    val t0 = System.nanoTime()
    f
    busyNs.add(System.nanoTime() - t0)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    jobs.increment()
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .toSeq.flatMap(_.split(","))
      .filter(_.startsWith("pb-"))
      .foreach(t => jobsBySpan.computeIfAbsent(t.drop(3).toLong, _ => new LongAdder).increment())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed(stages.increment())

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    tasks.increment()
    val m = e.taskMetrics
    if (m != null) {
      taskRunMs.add(m.executorRunTime)
      taskCpuNs.add(m.executorCpuTime)
      gcMs.add(m.jvmGCTime)
      shuffleBytes.add(m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
      spillBytes.add(m.memoryBytesSpilled + m.diskBytesSpilled)
      val info = e.taskInfo
      if (info != null && info.finished) schedDelayMs.add(math.max(0L,
        info.duration - m.executorRunTime - m.executorDeserializeTime -
          m.resultSerializationTime - info.gettingResultTime))
    }
  }

  /** Jobs started while the given span was open (directly or nested). */
  def jobsOf(spanId: Long): Long = Option(jobsBySpan.get(spanId)).map(_.sum).getOrElse(0L)

  def reset(): Unit = {
    Seq(jobs, stages, tasks, busyNs, taskRunMs, taskCpuNs, gcMs, shuffleBytes, spillBytes,
      schedDelayMs).foreach(_.reset())
    jobsBySpan.clear()
  }
}

/** Per-span-name aggregates a traced run reports. */
final case class SpanStats(count: Int, p50Ms: Double, jobsPerCall: Double)

object SpanStats {
  def of(tracer: Tracer, counter: JobCounter): Map[String, SpanStats] =
    tracer.spans.groupBy(_.name).map { case (name, ss) =>
      name -> SpanStats(ss.size, Stats.median(ss.map(_.ms)),
        Stats.mean(ss.map(s => counter.jobsOf(s.id).toDouble)))
    }
}
