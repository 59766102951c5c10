package graft

import org.scalatest.funsuite.AnyFunSuite

/** Every `spark.graft.*` conf key and `SPARK_GRAFT_*` variable the main
  * sources read is documented in the README's "Configuration knobs"
  * table, and the table names nothing the sources no longer read. The
  * source patterns are the ones the benchmark's host record counts knobs
  * with. */
class KnobInventorySpec extends AnyFunSuite {

  private val ConfKey = "\"(spark\\.graft\\.[A-Za-z0-9_.]+)\"".r
  private val EnvVar = "\\b(SPARK_GRAFT_[A-Z0-9_]+)\\b".r
  private val DocConfKey = "`(spark\\.graft\\.[A-Za-z0-9_.]+)`".r

  private def read(p: java.nio.file.Path): String =
    new String(java.nio.file.Files.readAllBytes(p), "UTF-8")

  test("the README knob table lists exactly the knobs src/main/scala reads") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"no $root under the working dir")
    val walk = java.nio.file.Files.walk(root)
    val text =
      try walk.filter(_.toString.endsWith(".scala")).toArray
        .map(p => read(p.asInstanceOf[java.nio.file.Path])).mkString("\n")
      finally walk.close()
    val inCode = ConfKey.findAllMatchIn(text).map(_.group(1)).toSet ++
      EnvVar.findAllMatchIn(text).map(_.group(1)).toSet

    val readme = read(java.nio.file.Paths.get("README.md"))
    val start = readme.indexOf("## Configuration knobs")
    assert(start >= 0, "README has no \"## Configuration knobs\" section")
    val end = readme.indexOf("\n## ", start + 1)
    val rows = readme.substring(start, if (end < 0) readme.length else end)
      .linesIterator.filter(_.startsWith("| `")).map(_.split('|')(1)).toSeq
    val inDocs = rows.flatMap(c =>
      DocConfKey.findAllMatchIn(c).map(_.group(1)) ++
        EnvVar.findAllMatchIn(c).map(_.group(1))).toSet

    assert((inCode -- inDocs).isEmpty,
      s"read in src/main/scala but missing from the README table: ${(inCode -- inDocs).toSeq.sorted}")
    assert((inDocs -- inCode).isEmpty,
      s"in the README table but no longer read: ${(inDocs -- inCode).toSeq.sorted}")
  }
}
