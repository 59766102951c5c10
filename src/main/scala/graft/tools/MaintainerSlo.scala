package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.graph.{GraphViews, IncrementalAnalytics, PageRank, TwinGraph}

/** Steady-state SLO measurement for the incremental maintainer family —
  * the way a platform operator would watch the always-on replication
  * consumer (reference `AgeDigitalTwinsReplication.cs:194-573`): N
  * consecutive mutation batches folded through
  * [[IncrementalAnalytics.maintainComponentsStream]] and
  * [[IncrementalAnalytics.maintainStream]] with the PageRank maintainer
  * over a real tree, recording per-batch trigger latency (from the
  * streaming progress events of ONE long-lived AvailableNow query slicing
  * one file per trigger) and the files/versions retained on disk after every commit.
  *
  * What bounded-drift means here: per-batch latency must not grow with
  * batch index (state is version-pruned and leaf-compacted each commit,
  * so batch 50 folds against the same-shaped state as batch 5), and the
  * at-rest file count must stay bounded (two retained versions ×
  * compacted leaves), not accumulate.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=target/sf1 SPARK_GRAFT_SLO_BATCHES=50 \
  *     sbt "runMain graft.tools.MaintainerSlo"
  * Prints one JSON line per maintainer with per-batch ms and file counts.
  */
object MaintainerSlo {

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val batches = sys.env.getOrElse("SPARK_GRAFT_SLO_BATCHES", "50").toInt
    val mutsPerBatch = sys.env.getOrElse("SPARK_GRAFT_SLO_MUTS", "200").toInt
    val iterations = 5
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      // recentProgress is a ring buffer (default 100 entries); the
      // early-median window lat.slice(2,12) needs batch 2..11 to still be
      // present after the run, so retain every batch's progress event
      .config("spark.sql.streaming.numRecentProgressUpdates",
        math.max(batches * 2 + 16, 100))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try run(spark, sfDir, batches, mutsPerBatch, iterations)
    finally spark.stop()
  }

  private def run(spark: SparkSession, sfDir: String, batches: Int,
      mutsPerBatch: Int, iterations: Int): Unit = {
    val g = GraphViews.graph(spark, sfDir)
    val rels = g.relationships.select(col("relationship_id"),
      col("source_id"), col("target_id"), col("relationship_name"))
      .localCheckpoint(true)
    val dir = java.nio.file.Files.createTempDirectory("graft-slo").toString
    val mutDir = s"$dir/mutations"

    // Mutation batches, two feed shapes:
    //
    //   hub (default): batch i CREATEs mutsPerBatch/2 fresh edges between
    //   existing customer twins and nations, and DELETEs batch i-1's
    //   creates — the churn shape of a real CDC feed against the live
    //   graph. For WCC this is the WORST case by construction: the place
    //   graph is one giant component, so every batch's dirty cone IS the
    //   whole state and per-batch cost is bounded by the recompute, not
    //   the commit encoding (the r19 bytes_per_version evidence: even
    //   pure delta versions carry ~full-state bytes on this feed).
    //
    //   scatter (SPARK_GRAFT_SLO_SCATTER=1): the same create/delete churn
    //   but between FRESH synthetic twin pairs — each edge is its own
    //   2-node component, so the dirty cone stays O(batch) while the
    //   carried state stays O(graph). This is the leg the maintainer
    //   family's "work ∝ mutation cone" contract actually binds on: a
    //   constant trickle of point mutations against ever-larger state.
    //   The r18 full-rewrite design paid O(state) commit bytes per batch
    //   here; the merge-on-read deltas pay O(batch).
    val scatter = sys.env.get("SPARK_GRAFT_SLO_SCATTER").contains("1")
    val custIds =
      if (scatter) Array.empty[String]
      else g.twins.filter(col("model_id") === "dtmi:graft:Customer;1")
        .select("dt_id").limit(batches * mutsPerBatch).collect()
        .map(_.getString(0))
    val nationIds =
      if (scatter) Array.empty[String]
      else g.twins.filter(col("model_id") === "dtmi:graft:Nation;1")
        .select("dt_id").collect().map(_.getString(0))
    require(scatter || custIds.length >= batches * mutsPerBatch / 2,
      s"need ${batches * mutsPerBatch / 2} customers, got ${custIds.length}")
    import spark.implicits._
    val perHalf = mutsPerBatch / 2
    var seq = 0L
    for (b <- 0 until batches) {
      def doc(rid: String, src: String, tgt: String) =
        s"""{"$$relationshipId":"$rid","$$sourceId":"$src",""" +
          s""""$$targetId":"$tgt","$$relationshipName":"slo_link"}"""
      def ends(b: Int, j: Int): (String, String) =
        if (scatter) (s"sloA_${b}_$j", s"sloB_${b}_$j")
        else (custIds(b * perHalf + j), nationIds(j % nationIds.length))
      val creates = (0 until perHalf).map { j =>
        val (src, tgt) = ends(b, j)
        seq += 1
        (seq, f"2026-01-01T${b % 24}%02d:00:00Z", "Relationship",
          s"slo_${b}_$j", "RelationshipCreate", null: String,
          doc(s"slo_${b}_$j", src, tgt))
      }
      val deletes = if (b == 0) Seq.empty else (0 until perHalf).map { j =>
        val (src, tgt) = ends(b - 1, j)
        seq += 1
        (seq, f"2026-01-01T${b % 24}%02d:00:01Z", "Relationship",
          s"slo_${b - 1}_$j", "RelationshipDelete",
          doc(s"slo_${b - 1}_$j", src, tgt), null: String)
      }
      (creates ++ deletes)
        .toDF("seq", "ts", "entity_kind", "entity_id", "event_type",
          "old_json", "new_json")
        .coalesce(1).write.mode("append").parquet(mutDir)
    }

    def measure(name: String, stateDir: String)(
        start: () => org.apache.spark.sql.streaming.StreamingQuery): Unit = {
      val t0 = System.nanoTime()
      val q = start()
      q.awaitTermination()
      val wallSec = (System.nanoTime() - t0) / 1e9
      val progress = q.recentProgress.toSeq.filter(_.numInputRows > 0)
        .sortBy(_.batchId)
      val perBatch = progress
        .map(p => (p.batchId, p.durationMs.get("triggerExecution").toLong))
      // Phase attribution (r17, VERDICT #6): triggerExecution decomposes
      // into the engine phases the progress event reports — whichever
      // one grows with batch index names the plateau's cause (file-source
      // listing rides latestOffset/getBatch; offset/commit WAL rides
      // walCommit/commitOffsets; the maintainer's own work rides
      // addBatch; planning rides queryPlanning).
      val phases = Seq("latestOffset", "getBatch", "queryPlanning",
        "walCommit", "commitOffsets", "addBatch")
      def phaseMs(p: org.apache.spark.sql.streaming.StreamingQueryProgress,
          k: String): Long =
        Option(p.durationMs.get(k)).map(_.toLong).getOrElse(0L)
      def medianL(xs: Seq[Long]): Long =
        if (xs.isEmpty) 0L else xs.sorted.apply(xs.size / 2)
      val phaseDrift = phases.map { k =>
        val vals = progress.map(phaseMs(_, k))
        (k, medianL(vals.slice(2, 12)), medianL(vals.takeRight(10)))
      }
      val fs = new org.apache.hadoop.fs.Path(stateDir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      val versions = fs.listStatus(new org.apache.hadoop.fs.Path(stateDir))
        .map(_.getPath.getName).filter(_.startsWith("v")).sorted.toSeq
      def leafFiles(p: org.apache.hadoop.fs.Path): (Seq[(String, Int)], Long) = {
        val it = fs.listFiles(p, true)
        val counts = scala.collection.mutable.Map[String, Int]()
        var bytes = 0L
        while (it.hasNext) {
          val f = it.next()
          if (f.getPath.getName.endsWith(".parquet")) {
            val leaf = f.getPath.getParent.toString.stripPrefix(s"$stateDir/")
            counts(leaf) = counts.getOrElse(leaf, 0) + 1
            bytes += f.getLen
          }
        }
        (counts.toSeq.sortBy(_._1), bytes)
      }
      val filesAndBytes = versions.map(v =>
        v -> leafFiles(new org.apache.hadoop.fs.Path(s"$stateDir/$v")))
      val files = filesAndBytes.map { case (v, (ls, _)) => (v, ls) }
      // the write-amplification evidence: a chain-delta version's bytes
      // are cone-sized; only compaction versions approach the v0 full
      // size — the r18 design wrote ~v0-bytes EVERY version
      val bytesPerVersion = filesAndBytes.map { case (v, (_, b)) => (v, b) }
      val lat = perBatch.map(_._2)
      def median(xs: Seq[Long]): Long =
        if (xs.isEmpty) 0L else xs.sorted.apply(xs.size / 2)
      val early = median(lat.slice(2, 12))
      val late = median(lat.takeRight(10))
      println(s"""{"maintainer":"$name","batches":${lat.size},""" +
        s""""wall_sec":${f"$wallSec%.1f"},""" +
        s""""median_early_ms":$early,"median_late_ms":$late,""" +
        s""""drift":${f"${late.toDouble / math.max(early, 1)}%.2f"},""" +
        s""""versions":${versions.mkString("[\"", "\",\"", "\"]")},""" +
        s""""files":${files.map { case (v, ls) =>
          s""""$v":{${ls.map { case (l, n) => s""""$l":$n""" }.mkString(",")}}"""
        }.mkString("{", ",", "}")},""" +
        s""""bytes_per_version":${bytesPerVersion.map { case (v, b) =>
          s""""$v":$b""" }.mkString("{", ",", "}")},""" +
        s""""phase_early_late_ms":${phaseDrift.map { case (k, e, l) =>
          s""""$k":[$e,$l]""" }.mkString("{", ",", "}")},""" +
        s""""per_batch_ms":[${lat.mkString(",")}]}""")
    }

    // components maintainer
    val compState = s"$dir/comp-state"
    new java.io.File(compState).mkdirs()
    val baseComp = g.copy(relationships = rels).components()
    IncrementalAnalytics.initComponentsState(compState, baseComp, rels)
    measure("components", compState)(() =>
      IncrementalAnalytics.maintainComponentsStream(spark, mutDir, compState,
        s"$dir/comp-cp", Map("maxFilesPerTrigger" -> "1")))

    // PageRank maintainer (same mutation feed, own state/checkpoint)
    val rankState = s"$dir/rank-state"
    new java.io.File(rankState).mkdirs()
    val hist = PageRank.ranksHistory(rels, iterations)
    IncrementalAnalytics.initState(rankState,
      IncrementalAnalytics.Maintainer.ranks(hist.size), rels, hist)
    measure("ranks", rankState)(() =>
      IncrementalAnalytics.maintainStream(spark, mutDir, rankState,
        s"$dir/rank-cp", IncrementalAnalytics.Maintainer.ranks(iterations),
        Map("maxFilesPerTrigger" -> "1")))

    // best-effort cleanup of the temp tree
    scala.util.Try(org.apache.commons.io.FileUtils
      .deleteDirectory(new java.io.File(dir)))
  }
}
