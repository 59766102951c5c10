package graft.graph

import java.security.MessageDigest
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Fixed-priority Luby MIS: independence + maximality invariants, and
  * exact equality with the sequential greedy over the same (md5, id)
  * priority order — the lexicographically-first MIS, which the
  * round-parallel algorithm provably computes when priorities are fixed. */
class MisSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def edges(rows: (String, String)*): DataFrame = {
    val s = spark; import s.implicits._
    rows.toDF("src", "dst")
  }

  private def run(g: DataFrame): Set[String] =
    Mis.independentSet(g).collect().map(_.getString(0)).toSet

  private def md5hex(s: String): String =
    MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString

  /** Sequential greedy by (md5, id): the lexicographically-first MIS. */
  private def oracle(rows: Seq[(String, String)]): Set[String] = {
    val adj = rows.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .filter(p => p._1 != p._2).distinct
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    val order = adj.keys.toSeq.sortBy(n => (md5hex(n), n))
    val selected = scala.collection.mutable.Set.empty[String]
    for (v <- order if !adj(v).exists(selected)) selected += v
    selected.toSet
  }

  private def checkInvariants(rows: Seq[(String, String)],
      mis: Set[String]): Unit = {
    val adj = rows.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .filter(p => p._1 != p._2).distinct
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    rows.foreach { case (a, b) =>
      if (a != b) assert(!(mis(a) && mis(b)), s"edge ($a,$b) inside the set")
    }
    adj.keys.foreach { v =>
      assert(mis(v) || adj(v).exists(mis),
        s"$v could be added — not maximal")
    }
  }

  test("ring: matches greedy, independent and maximal") {
    val g = (0 until 12).map(i => (f"n$i%02d", f"n${(i + 1) % 12}%02d"))
    val got = run(edges(g: _*))
    assert(got == oracle(g))
    checkInvariants(g, got)
  }

  test("star: either the hub alone or all leaves") {
    val g = Seq(("h", "x1"), ("h", "x2"), ("h", "x3"), ("h", "x4"))
    val got = run(edges(g: _*))
    assert(got == oracle(g))
    checkInvariants(g, got)
    assert(got == Set("h") || got == Set("x1", "x2", "x3", "x4"))
  }

  test("seeded pseudo-random graph matches greedy") {
    val n = 20
    val g = for {
      i <- 0 until n; j <- (i + 1) until n
      if (i * 19 + j * 31 + i * j) % 6 == 0
    } yield (f"n$i%02d", f"n$j%02d")
    val got = run(edges(g: _*))
    assert(got == oracle(g))
    checkInvariants(g, got)
  }

  test("near-dup survivor use: no two survivors adjacent, maximal count") {
    // pair graph of "duplicate clusters": path a-b-c plus pair (d,e)
    val g = Seq(("a", "b"), ("b", "c"), ("d", "e"))
    val got = run(edges(g: _*))
    checkInvariants(g, got)
    // a path of 3 always keeps 2 distinct docs unless b wins (then 1);
    // either way the pair keeps exactly 1
    assert(got.count(Set("d", "e")) == 1)
  }

  test("non-convergence within maxRounds throws and frees the round checkpoints") {
    // a path needs more than one Luby round: the minimum-priority node
    // wins first, its neighbors drop, and the rest repeats
    val g = edges((1 until 12).map(i => (s"v$i", s"v${i + 1}")): _*)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val ex = intercept[IllegalStateException](Mis.independentSet(g, maxRounds = 1))
    assert(ex.getMessage.contains("did not converge"))
    assert(spark.sparkContext.getPersistentRDDs.keySet == before,
      "the throw left the round checkpoints persisted")
  }
}
