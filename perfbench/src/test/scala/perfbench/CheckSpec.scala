package perfbench

import org.scalatest.funsuite.AnyFunSuite

class CheckSpec extends AnyFunSuite {

  private val cyc = Seq("a" -> "b", "b" -> "c", "c" -> "a", "c" -> "d", "d" -> "e", "e" -> "d",
    "f" -> "g")

  test("components label each node with the smallest member") {
    val c = Check.components(Seq("z"), cyc)
    assert(c("a") == "a" && c("e") == "a" && c("g") == "f" && c("z") == "z")
  }

  test("strongly connected components follow edge direction") {
    val s = Check.scc(cyc)
    assert(Seq("a", "b", "c").map(s) == Seq("a", "a", "a"))
    assert(s("d") == "d" && s("e") == "d" && s("f") == "f" && s("g") == "g")
  }

  test("k-core peels to the dense part") {
    val clique = for (x <- 1 to 4; y <- 1 to 4 if x < y) yield (s"n$x", s"n$y")
    val tail = Seq("n1" -> "t1", "t1" -> "t2")
    assert(Check.kcore(clique ++ tail, 3) == (1 to 4).map(i => s"n$i").toSet)
    assert(Check.kcore(tail, 2).isEmpty)
  }

  test("reachability keeps the minimal depth and the hop bound") {
    val r = Check.reachability(cyc, Seq("a"), 3)
    assert(r(("a", "b")) == 1 && r(("a", "c")) == 2 && r(("a", "a")) == 3 && r(("a", "d")) == 3)
    assert(!r.contains(("a", "e")))
  }

  test("integer PageRank and label propagation follow their documented rules") {
    val pr = Check.pagerank(Seq("a" -> "b", "b" -> "a"), 1)
    assert(pr == Map("a" -> 1000000L, "b" -> 1000000L))
    val lab = Check.labelPropagation(Seq("a" -> "b"), 1)
    assert(lab("a") == Check.stableId("b") && lab("b") == Check.stableId("a"))
    assert(Check.stableId("x") == java.lang.Long.parseLong("9dd4e461268c803", 16))
  }
}
