package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** FW-BW-Trim strongly connected components, verified against an
  * in-test Floyd-Warshall mutual-reachability oracle on every fixture —
  * including a seeded pseudo-random digraph — plus convergence-guard
  * and trim-path behavior. */
class SccSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def edges(rows: (String, String)*): DataFrame = {
    val s = spark; import s.implicits._
    rows.toDF("src", "dst")
  }

  private def run(g: DataFrame, maxOuter: Int = 50): Map[String, String] =
    Scc.components(g, maxOuter = maxOuter).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap

  /** Brute-force SCC labels: mutual reachability via boolean closure,
    * label = min member id. */
  private def oracle(rows: Seq[(String, String)]): Map[String, String] = {
    val nodes = rows.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val idx = nodes.zipWithIndex.toMap
    val n = nodes.size
    val reach = Array.fill(n, n)(false)
    for (i <- 0 until n) reach(i)(i) = true
    for ((a, b) <- rows) reach(idx(a))(idx(b)) = true
    for (k <- 0 until n; i <- 0 until n if reach(i)(k);
         j <- 0 until n if reach(k)(j)) reach(i)(j) = true
    nodes.map { v =>
      val i = idx(v)
      val scc = nodes.filter(u => reach(i)(idx(u)) && reach(idx(u))(i)).min
      v -> scc
    }.toMap
  }

  private def check(rows: (String, String)*): Unit =
    assert(run(edges(rows: _*)) == oracle(rows))

  test("two rings joined one-way stay separate SCCs") {
    check(("a1", "a2"), ("a2", "a3"), ("a3", "a1"),
      ("b1", "b2"), ("b2", "b3"), ("b3", "b1"),
      ("a1", "b1"))
  }

  test("bidirectional bridge merges two rings into one SCC") {
    check(("a1", "a2"), ("a2", "a3"), ("a3", "a1"),
      ("b1", "b2"), ("b2", "b3"), ("b3", "b1"),
      ("a1", "b1"), ("b2", "a2"))
  }

  test("pure DAG path resolves entirely through trimming as singletons") {
    // chain p1 -> p2 -> ... -> p6: without trim this is one coloring
    // pass per node; with trim it resolves with zero FW-BW passes
    check(("p1", "p2"), ("p2", "p3"), ("p3", "p4"),
      ("p4", "p5"), ("p5", "p6"))
  }

  test("DAG path needs no FW-BW pass (maxOuter=1 suffices via trim)") {
    val g = edges(("p1", "p2"), ("p2", "p3"), ("p3", "p4"), ("p4", "p5"))
    val got = Scc.components(g, maxOuter = 1).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    assert(got == Map("p1" -> "p1", "p2" -> "p2", "p3" -> "p3",
      "p4" -> "p4", "p5" -> "p5"))
  }

  test("self-loop is a singleton SCC but survives trimming") {
    check(("s", "s"), ("s", "t"), ("t", "u"))
  }

  test("DAG tail hanging off a cycle trims away, cycle colors") {
    check(("c1", "c2"), ("c2", "c3"), ("c3", "c1"),
      ("c2", "t1"), ("t1", "t2"))
  }

  test("nested structure: cycle reaching a cycle reaching a sink") {
    check(("x1", "x2"), ("x2", "x1"),
      ("x2", "y1"), ("y1", "y2"), ("y2", "y3"), ("y3", "y1"),
      ("y3", "z"))
  }

  test("seeded pseudo-random digraph matches the closure oracle") {
    // deterministic edge set: md5-free arithmetic hash over (i,j)
    val n = 18
    val rows = for {
      i <- 0 until n; j <- 0 until n if i != j
      h = (i * 31 + j * 17 + (i * j) % 13) % 7
      if h == 0
    } yield (f"n$i%02d", f"n$j%02d")
    check(rows: _*)
  }

  test("non-convergence within maxOuter throws instead of truncating") {
    // two separate 2-cycles chained: needs >=1 FW-BW pass after trim;
    // with maxOuter=0 the guard must fire
    val g = edges(("a", "b"), ("b", "a"), ("a", "c"), ("c", "d"), ("d", "c"))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val ex = intercept[IllegalStateException](Scc.components(g, maxOuter = 0))
    assert(ex.getMessage.contains("did not converge"))
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "the throw left the pass's checkpoints persisted")
  }

  test("empty edge set yields empty labeling") {
    val s = spark; import s.implicits._
    val g = Seq.empty[(String, String)].toDF("src", "dst")
    assert(Scc.components(g).count() == 0)
  }
}
