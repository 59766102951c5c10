package perfbench

import com.fasterxml.jackson.databind.JsonNode
import graft.json.Json

/** The identity of one acknowledged write, and of the EventNotification
  * it must produce: CloudEvent type, subject, and the unique tag the
  * write carried. */
final case class WriteKey(eventType: String, subject: String, tag: String)

/** Outcome of matching acked writes against the events a sink holds. */
final case class Reconciled(matched: Map[WriteKey, Long], missing: Seq[WriteKey],
    duplicated: Seq[WriteKey], unexpected: Seq[WriteKey]) {
  def problems: Int = missing.size + duplicated.size + unexpected.size
}

object Reconcile {

  val TwinUpdate = "Konnektr.Graph.Twin.Update"
  val RelCreate = "Konnektr.Graph.Relationship.Create"
  val RelDelete = "Konnektr.Graph.Relationship.Delete"

  /** Every acked write must match exactly one event; every event must
    * match an acked write. `events` carry the drain batch that emitted
    * them, which `matched` reports per write. */
  def reconcile(acked: Seq[WriteKey], events: Seq[(WriteKey, Long)]): Reconciled = {
    val byKey = events.groupBy(_._1)
    val ackedSet = acked.toSet
    val matched = acked.flatMap(k => byKey.get(k).collect { case Seq((_, b)) => k -> b }).toMap
    Reconciled(matched,
      missing = acked.filterNot(byKey.contains),
      duplicated = acked.filter(k => byKey.get(k).exists(_.size > 1)),
      unexpected = byKey.keys.filterNot(ackedSet).toSeq)
  }

  /** The write key an EventNotification encodes: a twin update carries
    * the tag in its `/writeTag` patch op, a relationship create or delete
    * in the relationship document's `tag` property. */
  def keyOf(eventType: String, subject: String, data: String): WriteKey = {
    val d = Json.parse(data)
    val tag = eventType match {
      case TwinUpdate =>
        Option(d.get("patch")).toSeq.flatMap(p => (0 until p.size()).map(p.get))
          .collectFirst { case op: JsonNode if op.path("path").asText() == "/writeTag" =>
            op.path("value").asText() }
          .getOrElse("")
      case _ => d.path("tag").asText("")
    }
    WriteKey(eventType, subject, tag)
  }
}
