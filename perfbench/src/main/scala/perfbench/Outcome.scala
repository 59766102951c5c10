package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.LongAdder
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** Everything one run reports: operation counts, failures with their
  * first messages, metrics by name, and free-form record fields. */
final class Outcome {
  val attempted = new LongAdder
  val failed = new LongAdder
  private val messages = new ConcurrentLinkedQueue[String]()
  val metrics = mutable.LinkedHashMap[String, (Double, String)]()
  val record = mutable.LinkedHashMap[String, String]()

  def ok(): Unit = attempted.increment()

  /** Count one failed, refused or wrong operation. */
  def fail(msg: String): Unit = {
    attempted.increment()
    failed.increment()
    if (messages.size < 20) messages.add(msg)
  }

  /** Record one checked result: counts it, and a failure when `good` is false. */
  def check(good: Boolean, msg: => String): Unit = if (good) ok() else fail(msg)

  def failures: Seq[String] = messages.asScala.toSeq

  def metric(name: String, value: Double, unit: String): Unit =
    synchronized(metrics(name) = (value, unit))

  def put(key: String, json: String): Unit = synchronized(record(key) = json)
}

object Outcome {
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.math.BigDecimal.valueOf(d).toPlainString

  def str(s: String): String = graft.json.Json.render(graft.json.Json.text(s))

  def obj(fields: Iterable[(String, String)]): String =
    fields.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
