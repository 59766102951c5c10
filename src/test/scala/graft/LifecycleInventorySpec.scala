package graft

import org.scalatest.funsuite.AnyFunSuite

/** Repository inventories the design depends on: the change log stays a
  * readable text file, the graph fixpoints keep their checkpoints in a
  * `Blocks` scope instead of hand-placed releases, CDC delivery runs
  * through one sink driver, and driver-side parquet writes go through one
  * primitive. */
class LifecycleInventorySpec extends AnyFunSuite {

  private def read(p: java.nio.file.Path): String =
    new String(java.nio.file.Files.readAllBytes(p), "UTF-8")

  test("CHANGES.md stays under 1 MB with no line over 20,000 characters") {
    val p = java.nio.file.Paths.get("CHANGES.md")
    assert(java.nio.file.Files.size(p) < (1L << 20), "CHANGES.md is 1 MB or more")
    val longest = read(p).linesIterator.map(_.length).maxOption.getOrElse(0)
    assert(longest <= 20000, s"a CHANGES.md line has $longest characters")
  }

  test("hand-placed Blocks.free calls in graph/ and pipeline/Dedup.scala stay at 1") {
    val graph = java.nio.file.Paths.get("src/main/scala/graft/graph")
    val walk = java.nio.file.Files.walk(graph)
    val files =
      try walk.filter(_.toString.endsWith(".scala")).toArray
        .map(_.asInstanceOf[java.nio.file.Path]).toSeq
      finally walk.close()
    val sites = (files :+ java.nio.file.Paths.get(
        "src/main/scala/graft/pipeline/Dedup.scala"))
      .map(p => p.getFileName -> "Blocks\\.free\\b".r.findAllMatchIn(read(p)).size)
      .filter(_._2 > 0)
    // the one left is the StateCommit park: folded state reads a committed
    // batch disowns, freed by the next batch's commit
    assert(sites.map(_._2).sum <= 1, s"Blocks.free sites: $sites")
  }

  test("streaming/EventPipeline.scala holds one foreachBatch and no run*Route entry point") {
    val src = read(java.nio.file.Paths.get("src/main/scala/graft/streaming/EventPipeline.scala"))
    val batches = "\\.foreachBatch\\b".r.findAllMatchIn(src).size
    assert(batches == 1, s"$batches foreachBatch sites; runSink should own the only one")
    val routes = "def run\\w*Route\\w*".r.findAllIn(src).toSeq
    assert(routes.isEmpty, s"per-route entry points are back: $routes")
  }

  test("ExampleParquetWriter appears only in core/LocalParquet.scala") {
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get("src/main/scala"))
    val files =
      try walk.filter(_.toString.endsWith(".scala")).toArray
        .map(_.asInstanceOf[java.nio.file.Path]).toSeq
      finally walk.close()
    val sites = files.filter(p => read(p).contains("ExampleParquetWriter"))
      .map(p => java.nio.file.Paths.get("src/main/scala").relativize(p).toString
        .replace(java.io.File.separatorChar, '/'))
    assert(sites == Seq("graft/core/LocalParquet.scala"),
      s"driver-side parquet writers: $sites")
  }
}
