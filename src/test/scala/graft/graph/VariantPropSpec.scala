package graft.graph

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Rendering-parity contract between the two property-extraction routes
  * (r17): [[TwinGraph.propVariant]] must return the same STRING as
  * [[TwinGraph.prop]] (get_json_object) for every scalar/array shape a
  * twin document can hold — the planner defaults to the variant route
  * (one parse_json per row per operator instead of one full re-parse per
  * referenced property), so any rendering divergence would silently
  * change query results, not just plans. Whole-OBJECT extraction is the
  * one documented divergence (variant orders fields by name). */
class VariantPropSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("variant extraction matches get_json_object on scalars and arrays") {
    import spark.implicits._
    val doc = """{"s":"hello","n":1.5,"i":3,"b":true,"f":false,"nul":null,
      |"arr":[1,"x",true,null],"nested":{"deep":{"leaf":"v"}},
      |"e":1e30,"small":1e-12,"d":9900.25,"neg":-0.5,
      |"big":12345678901234567890,"zero":0,"empty":"",
      |"uni":"café ☃","esc":"a\"b\\c",
      |"$metadata":{"$model":"dtmi:x;1"},"sp ace":{"do.t":2}}"""
      .stripMargin.replace("\n", "")
    val df = Seq(doc).toDF("properties")
    val paths: Seq[Seq[String]] = Seq(
      Seq("s"), Seq("n"), Seq("i"), Seq("b"), Seq("f"), Seq("nul"),
      Seq("arr"), Seq("nested", "deep", "leaf"), Seq("e"), Seq("small"),
      Seq("d"), Seq("neg"), Seq("big"), Seq("zero"), Seq("empty"),
      Seq("uni"), Seq("esc"), Seq("$metadata", "$model"),
      Seq("sp ace", "do.t"), Seq("missing"), Seq("nested", "missing"))
    val row = df.select(
      (paths.map(p => TwinGraph.prop(col("properties"), p)) ++
        paths.map(p => TwinGraph.propVariant(col("properties"), p))): _*)
      .collect()(0)
    paths.zipWithIndex.foreach { case (p, i) =>
      val g = row.get(i)
      val v = row.get(i + paths.size)
      assert(g == v, s"path $p: get_json_object=[$g] variant=[$v]")
    }
  }

  test("object-valued extraction echoes raw text verbatim (fallback)") {
    import spark.implicits._
    // keys deliberately NOT name-sorted, spacing irregular, numbers in
    // shapes variant would re-render (1e30, trailing zeros) — the '{'
    // fallback must hand these to get_json_object untouched, so the
    // variant route can never change user-visible object output
    val doc = """{"obj":{"z":1e30, "a": 2.50,"m":{"k":[1,{"q":7}]}},
      |"arrobj":[{"b":2},{"a":1}],
      |"strbrace":"starts {mid} ends","plain":"x"}"""
      .stripMargin.replace("\n", "")
    val df = Seq(doc).toDF("properties")
    val paths: Seq[Seq[String]] = Seq(
      Seq("obj"), Seq("obj", "m"), Seq("arrobj"), Seq("strbrace"),
      Seq("plain"))
    val row = df.select(
      (paths.map(p => TwinGraph.prop(col("properties"), p)) ++
        paths.map(p => TwinGraph.propVariant(col("properties"), p))): _*)
      .collect()(0)
    paths.zipWithIndex.foreach { case (p, i) =>
      assert(row.get(i) == row.get(i + paths.size),
        s"path $p: get_json_object=[${row.get(i)}] " +
          s"variant=[${row.get(i + paths.size)}]")
    }
  }

  test("typed casts behave identically through both routes") {
    import spark.implicits._
    val df = Seq("""{"d":9900.25,"s":"abc","i":42}""").toDF("properties")
    def both(path: String, t: String) = df.select(
      TwinGraph.prop(col("properties"), Seq(path)).try_cast(t),
      TwinGraph.propVariant(col("properties"), Seq(path)).try_cast(t))
      .collect()(0)
    val d = both("d", "double"); assert(d.get(0) == d.get(1))
    val s = both("s", "double"); assert(s.isNullAt(0) && s.isNullAt(1))
    val i = both("i", "long"); assert(i.get(0) == i.get(1))
  }

  test("variant type introspection matches the JSON-string kernel (IS_*)") {
    import spark.implicits._
    import graft.functions.JsonFunctions
    // every shape the C8-C12 checks can meet, incl. the "1" vs 1
    // distinction, beyond-long integers and scientific doubles
    val doc = """{"s":"x","sn":"1.5","n":1.5,"i":3,"b":true,"f":false,
      |"nul":null,"o":{"a":1},"arr":[1,2],"big":12345678901234567890,
      |"e":1e30,"neg":-7}""".stripMargin.replace("\n", "")
    val df = Seq(doc, "not json at all").toDF("properties")
    val fields: Seq[Seq[String]] = Seq(
      Seq("s"), Seq("sn"), Seq("n"), Seq("i"), Seq("b"), Seq("f"),
      Seq("nul"), Seq("o"), Seq("arr"), Seq("big"), Seq("e"), Seq("neg"),
      Seq("o", "a"), Seq("missing"), Seq("o", "missing"))
    val rows = df.select(
      (fields.map(p => JsonFunctions.json_type_of(col("properties"),
        p.mkString("."))) ++
        fields.map(p => JsonFunctions.variantTypeOf(
          try_parse_json(col("properties")), p))): _*).collect()
    rows.foreach { r =>
      fields.zipWithIndex.foreach { case (p, i) =>
        assert(r.get(i) == r.get(i + fields.size),
          s"path $p: json_type_of=[${r.get(i)}] " +
            s"variantTypeOf=[${r.get(i + fields.size)}]")
      }
    }
  }

  test("malformed documents answer null through both routes") {
    import spark.implicits._
    val df = Seq("not json at all", """{"a": [unterminated""", "")
      .toDF("properties")
    val rows = df.select(
      TwinGraph.prop(col("properties"), Seq("a")),
      TwinGraph.propVariant(col("properties"), Seq("a"))).collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) && r.isNullAt(1), s"expected null/null, got $r")
    }
  }
}
