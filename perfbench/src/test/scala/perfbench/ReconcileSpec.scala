package perfbench

import org.scalatest.funsuite.AnyFunSuite

class ReconcileSpec extends AnyFunSuite {

  private val a = WriteKey(Reconcile.TwinUpdate, "d1", "w0-1")
  private val b = WriteKey(Reconcile.RelCreate, "d1/relationships/m_w0-2", "w0-2")
  private val c = WriteKey(Reconcile.RelDelete, "d1/relationships/m_w0-2", "w0-2")

  test("every acked write matched to exactly one event") {
    val r = Reconcile.reconcile(Seq(a, b, c), Seq(a -> 1L, b -> 1L, c -> 2L))
    assert(r.problems == 0)
    assert(r.matched == Map(a -> 1L, b -> 1L, c -> 2L))
  }

  test("a dropped event is caught") {
    val r = Reconcile.reconcile(Seq(a, b, c), Seq(a -> 1L, c -> 2L))
    assert(r.missing == Seq(b) && r.problems == 1 && !r.matched.contains(b))
  }

  test("a duplicated event is caught") {
    val r = Reconcile.reconcile(Seq(a, b), Seq(a -> 1L, b -> 1L, b -> 3L))
    assert(r.duplicated == Seq(b) && r.problems == 1 && !r.matched.contains(b))
  }

  test("an event no acked write explains is caught") {
    val r = Reconcile.reconcile(Seq(a), Seq(a -> 1L, b -> 1L))
    assert(r.unexpected == Seq(b) && r.problems == 1)
  }

  test("write keys are read back from EventNotification payloads") {
    val patch = """{"modelId":"dtmi:bench:Device;1","patch":[""" +
      """{"op":"replace","path":"/temperature","value":20.5},""" +
      """{"op":"replace","path":"/writeTag","value":"w0-1"}]}"""
    assert(Reconcile.keyOf(Reconcile.TwinUpdate, "d1", patch) == a)
    val rel = """{"$relationshipId":"m_w0-2","$sourceId":"d1","$targetId":"r1",""" +
      """"$relationshipName":"monitors","tag":"w0-2"}"""
    assert(Reconcile.keyOf(Reconcile.RelCreate, "d1/relationships/m_w0-2", rel) == b)
    assert(Reconcile.keyOf(Reconcile.RelDelete, "d1/relationships/m_w0-2", rel) == c)
  }
}
