package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("the same seed gives an identical graph") {
    assert(Gen.build(7, Shape.Serve).hash == Gen.build(7, Shape.Serve).hash)
    assert(Gen.build(7, Shape.Analytics).hash == Gen.build(7, Shape.Analytics).hash)
  }

  test("a different seed gives a different graph") {
    assert(Gen.build(7, Shape.Serve).hash != Gen.build(8, Shape.Serve).hash)
    assert(Gen.build(7, Shape.Analytics).hash != Gen.build(8, Shape.Analytics).hash)
  }

  test("hierarchy, lateral edges and spare groups have the documented shape") {
    val g = Gen.build(3, Shape.Analytics)
    val twins = g.twins.map(_.id).toSet
    assert(g.twins.size == twins.size, "twin ids are unique")
    assert(g.rels.map(r => (r.src, r.rid)).distinct.size == g.rels.size)
    assert(g.rels.forall(r => twins(r.src) && twins(r.dst)), "no dangling endpoints")
    val sh = Shape.Analytics
    val placed = sh.sites * sh.buildings * sh.floors * sh.rooms * sh.devices
    assert(g.ofModel(Gen.Sensor).size + g.ofModel(Gen.Device).size ==
      placed + sh.spareGroups * Gen.SpareGroupSize)
    assert(g.rels.count(_.name == "contains") == g.twins.size - sh.spareGroups * Gen.SpareGroupSize -
      sh.sites)
    assert(g.rels.size > 90000 && g.rels.size < 100000, s"${g.rels.size} edges")
    // feeds never leave a site
    assert(g.rels.filter(r => r.name == "feeds" && !r.src.startsWith("x"))
      .forall(r => r.src.takeWhile(_ != 'b') == r.dst.takeWhile(_ != 'b')))
  }

  test("every generated document validates against the generated models") {
    val store = new graft.store.TwinStore(() => Gen.Stamp)
    store.createModels(Gen.models)
    val g = Gen.build(5, Shape.Serve)
    g.twins.foreach(t => store.createOrReplaceTwin(t.id, Gen.twinDoc(t), false, None))
    g.rels.foreach(r => store.createOrReplaceRelationship(r.src, r.rid, Gen.relDoc(r), false))
    assert(store.twinIds.size == g.twins.size)
    assert(Gen.descendants(Gen.Asset) == Set(Gen.Asset, Gen.Device, Gen.Sensor))
  }
}
