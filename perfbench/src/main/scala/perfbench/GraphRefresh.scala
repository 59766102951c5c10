package perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.{Blocks, Tables}
import graft.graph._

/** `graph_refresh`: a fixed fixpoint suite over the generated analytics
  * graph ([[Shape.Analytics]]), then seeded mutation batches through the
  * degrees, components and k-core maintainers. Single-threaded; api,
  * store and streaming-events do none of the work. An operation is one
  * fixpoint call or one maintainer's fold of one batch. */
object GraphRefresh {

  val PageRankIterations = 2
  val LpaRounds = 2
  val CoreK = 5
  val VleRels = Seq("contains", "servedBy")
  val VleMaxDepth = 6
  val BatchesPerPass = 1
  val MutationsPerBatch = 40

  val Fixpoints = Seq("pagerank", "wcc", "scc", "kcore", "lpa", "vle")
  val Maintainers = Seq("degrees", "components", "kcore")

  /** Loaded inputs plus the maintainers' at-rest state. */
  final class Loaded(val ctx: Ctx, val g: GenGraph, val root: String) {
    val spark = ctx.spark
    val twins: DataFrame = spark.read.parquet(s"$root/twins")
    val rels: DataFrame = spark.read.parquet(s"$root/rels")
    val mutDir = s"$root/mutations"
    def stateDir(m: String) = s"$root/state-$m"
    def cpDir(m: String) = s"$root/cp-$m"
    val live = mutable.LinkedHashMap[(String, String), Rel]()
    g.rels.foreach(r => live((r.src, r.rid)) = r)
    var seq = 0L
    var batchNo = 0
    val spares: IndexedSeq[String] = g.twins.map(_.id).filter(_.startsWith("x"))
  }

  /** Base-graph results the maintainers start from, computed on the driver
    * by the benchmark (input preparation, not engine work); components and
    * k-core are the expected fixpoint outputs of the same base graph. */
  final class Base(g: GenGraph, exp: Expected) {
    val degrees: Seq[Row] = Check.degrees(g.twins.map(_.id), g.edges).toSeq
      .map { case (n, (o, i)) => Row(n, o, i, o + i) }
    val components: Seq[Row] = exp.wcc.toSeq.map { case (n, c) => Row(n, c) }
    val kcore: Seq[Row] = exp.kcore.toSeq.map(Row(_))
  }

  /** Set-up: write the generated graph as parquet and read it back. */
  def setup(ctx: Ctx, g: GenGraph, root: String): Loaded = {
    val spark = ctx.spark
    val twinRows = g.twins.map(t => Row(t.id, t.model))
    spark.createDataFrame(java.util.Arrays.asList(twinRows: _*), StructType(Seq(
      StructField("dt_id", StringType, nullable = false),
      StructField("model_id", StringType, nullable = false))))
      .write.parquet(s"$root/twins")
    val relRows = g.rels.map(r => Row(r.rid, r.src, r.dst, r.name))
    spark.createDataFrame(java.util.Arrays.asList(relRows: _*), relSchema)
      .write.parquet(s"$root/rels")
    new Loaded(ctx, g, root)
  }

  /** Bootstrap the three maintainers' at-rest state from the base results. */
  def initMaintainers(ld: Loaded, base: Base): Unit = {
    val spark = ld.spark
    def df(rows: Seq[Row], cols: (String, DataType)*) =
      spark.createDataFrame(java.util.Arrays.asList(rows: _*),
        StructType(cols.map { case (n, t) => StructField(n, t) }))
    Maintainers.foreach(m => new java.io.File(ld.stateDir(m)).mkdirs())
    // three independent state directories: bootstrap them side by side
    val inits = Seq(
      () => IncrementalAnalytics.initDegreesState(ld.stateDir("degrees"),
        df(base.degrees, "dt_id" -> StringType, "out_degree" -> LongType,
          "in_degree" -> LongType, "degree" -> LongType), ld.rels),
      () => IncrementalAnalytics.initComponentsState(ld.stateDir("components"),
        df(base.components, "dt_id" -> StringType, "component" -> StringType), ld.rels),
      () => IncrementalAnalytics.initKcoreState(ld.stateDir("kcore"),
        df(base.kcore, "node" -> StringType), ld.rels))
      .map(f => new java.util.concurrent.FutureTask[Unit](() => f()))
    inits.foreach(t => new Thread(t, "maintainer-init").start())
    inits.foreach(_.get())
  }

  private val relSchema = StructType(Seq(
    StructField("relationship_id", StringType, nullable = false),
    StructField("source_id", StringType, nullable = false),
    StructField("target_id", StringType, nullable = false),
    StructField("relationship_name", StringType, nullable = false)))

  /** Expected fixpoint outputs, computed once on the driver, one side
    * thread per algorithm. */
  final class Expected(g: GenGraph) {
    private val edges = g.edges.toSeq
    private def bg[A](f: => A) = GraphWorkload.background("expected-results")(f)
    private val pr = bg(Check.pagerank(edges, PageRankIterations))
    private val cc = bg(Check.components(g.twins.map(_.id), edges))
    private val sc = bg(Check.scc(edges))
    private val kc = bg(Check.kcore(edges, CoreK))
    private val lp = bg(Check.labelPropagation(edges, LpaRounds))
    private val re = bg(Check.reachability(
      g.rels.filter(r => VleRels.contains(r.name)).map(r => (r.src, r.dst)),
      g.ofModel(Gen.Building).map(_.id), VleMaxDepth))
    val pagerank: Map[String, Long] = pr.get()
    val wcc: Map[String, String] = cc.get()
    val scc: Map[String, String] = sc.get()
    val kcore: Set[String] = kc.get()
    val lpa: Map[String, Long] = lp.get()
    val vle: Map[(String, String), Int] = re.get()
  }

  /** Per-run measurements. */
  final class Meter {
    val opMs = mutable.ArrayBuffer[Double]()
    val fixpointMs = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val maintainMs = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
    val batchMs = mutable.ArrayBuffer[Double]()
    var leaked = 0L
    var passes = 0
  }

  /** One pass: the fixpoint suite, then [[BatchesPerPass]] maintainer batches. */
  def pass(ld: Loaded, exp: Expected, out: Outcome, meter: Meter): Unit = {
    fixpoints(ld, exp, out, meter)
    maintain(ld, meter)
    meter.passes += 1
  }

  /** The fixpoint suite over the base edges, each output checked. */
  def fixpoints(ld: Loaded, exp: Expected, out: Outcome, meter: Meter): Unit = {
    val ctx = ld.ctx
    def fixpoint(name: String)(run: => DataFrame)(check: Array[Row] => Option[String]): Unit = {
      val before = ctx.persistentRdds
      val ((df, rows), ms) = Ctx.timedMs(ctx.span(s"graph.$name") {
        val df = run
        (df, df.collect())
      })
      meter.leaked += (ctx.persistentRdds -- before -- ctx.rddsOf(df)).size
      Blocks.free(df)
      meter.fixpointMs.getOrElseUpdate(name, mutable.ArrayBuffer()) += ms
      meter.opMs += ms
      check(rows) match {
        case None => out.ok()
        case Some(err) => out.fail(s"graph.$name: $err")
      }
    }
    def diff[K, V](what: String, got: Map[K, V], want: Map[K, V]): Option[String] =
      if (got == want) None
      else {
        val bad = (got.keySet ++ want.keySet).find(k => got.get(k) != want.get(k))
        Some(s"$what: ${got.size} rows vs ${want.size} expected; first difference at " +
          s"${bad.getOrElse("?")}: got ${bad.flatMap(got.get)} want ${bad.flatMap(want.get)}")
      }

    fixpoint("pagerank")(PageRank.ranks(ld.rels, PageRankIterations)) { rows =>
      diff("pagerank", rows.map(r => r.getString(0) -> r.getLong(1)).toMap, exp.pagerank)
    }
    fixpoint("wcc")(TwinGraph(ld.twins, ld.rels, emptyModels(ld)).components()) { rows =>
      diff("wcc", rows.map(r => r.getString(0) -> r.getString(1)).toMap, exp.wcc)
    }
    fixpoint("scc")(Scc.components(ld.rels.select(col("source_id").as("src"),
        col("target_id").as("dst")))) { rows =>
      diff("scc", rows.map(r => r.getString(0) -> r.getString(1)).toMap, exp.scc)
    }
    fixpoint("kcore")(KCore.kcore(ld.rels, "source_id", "target_id", CoreK)) { rows =>
      diff("kcore", rows.map(r => r.getString(0) -> true).toMap,
        exp.kcore.map(_ -> true).toMap)
    }
    fixpoint("lpa")(LabelPropagation.communities(ld.rels, LpaRounds)) { rows =>
      diff("lpa", rows.map(r => r.getString(0) -> r.getLong(1)).toMap, exp.lpa)
    }
    fixpoint("vle")(Vle.reachability(ld.rels, VleRels, maxIter = VleMaxDepth,
        sourceIds = Some(ld.g.ofModel(Gen.Building).map(_.id)))) { rows =>
      diff("vle", rows.map(r => (r.getString(0), r.getString(1)) -> r.getInt(2)).toMap,
        exp.vle)
    }
  }

  /** [[BatchesPerPass]] mutation batches, each folded by the three maintainers. */
  def maintain(ld: Loaded, meter: Meter): Unit = {
    val ctx = ld.ctx
    for (_ <- 0 until BatchesPerPass) {
      writeBatch(ld)
      var total = 0.0
      Maintainers.foreach { m =>
        val before = ctx.persistentRdds
        val (_, ms) = Ctx.timedMs(ctx.span(s"graph.maintain_$m") {
          val q = m match {
            case "degrees" => IncrementalAnalytics.maintainDegreesStream(ld.spark,
              ld.mutDir, ld.stateDir(m), ld.cpDir(m))
            case "components" => IncrementalAnalytics.maintainComponentsStream(ld.spark,
              ld.mutDir, ld.stateDir(m), ld.cpDir(m))
            case "kcore" => IncrementalAnalytics.maintainKcoreStream(ld.spark,
              ld.mutDir, ld.stateDir(m), ld.cpDir(m), CoreK)
          }
          q.awaitTermination()
          q.exception.foreach(e => throw e)
        })
        meter.leaked += (ctx.persistentRdds -- before).size
        meter.maintainMs.getOrElseUpdate(m, mutable.ArrayBuffer()) += ms
        meter.opMs += ms
        total += ms
      }
      meter.batchMs += total
    }
  }

  private def emptyModels(ld: Loaded): DataFrame =
    ld.spark.createDataFrame(java.util.List.of[Row](), Tables.modelsSchema)

  /** Append the next seeded mutation batch to the journal the maintainers
    * read: half creates of `feeds` edges between spare devices (merging
    * spare groups), half deletes of live spare edges (splitting them), so
    * a batch's dirty cone is a few small components while the carried
    * state is the whole graph. */
  def writeBatch(ld: Loaded): Unit = {
    val rnd = new java.util.Random(ld.ctx.seed * 1000003L + ld.batchNo)
    val spares = ld.spares
    val half = MutationsPerBatch / 2
    val ts = f"2026-01-02T00:${ld.batchNo % 60}%02d:00Z"
    val rows = mutable.ArrayBuffer[Row]()
    val candidates = ld.live.valuesIterator.filter(_.src.startsWith("x")).toIndexedSeq
    val picked = mutable.LinkedHashSet[Rel]()
    while (picked.size < math.min(half, candidates.size))
      picked += candidates(rnd.nextInt(candidates.size))
    for (j <- 0 until half) {
      val a = spares(rnd.nextInt(spares.size))
      var b = spares(rnd.nextInt(spares.size))
      while (b == a) b = spares(rnd.nextInt(spares.size))
      val r = Rel(s"mf_${ld.batchNo}_$j", a, b, "feeds")
      ld.seq += 1
      rows += Row(ld.seq, ts, "Relationship", r.rid, "RelationshipCreate", null, Gen.relDoc(r))
      ld.live((r.src, r.rid)) = r
    }
    picked.foreach { r =>
      ld.seq += 1
      rows += Row(ld.seq, ts, "Relationship", r.rid, "RelationshipDelete", Gen.relDoc(r), null)
      ld.live.remove((r.src, r.rid))
    }
    ld.spark.createDataFrame(java.util.Arrays.asList(rows.toSeq: _*), Tables.mutationsSchema)
      .coalesce(1).write.mode("append").parquet(ld.mutDir)
    ld.batchNo += 1
  }

  /** Maintained state against a full driver-side recompute over the
    * edges left after every batch. Runs after all timing has ended. */
  def checkMaintained(ld: Loaded, out: Outcome): Unit = {
    val spark = ld.spark
    val ids = ld.g.twins.map(_.id)
    val edges = ld.live.valuesIterator.map(r => (r.src, r.dst)).toSeq
    val (wantDeg, wantComp, wantCore) =
      (Check.degrees(ids, edges), Check.components(ids, edges), Check.kcore(edges, CoreK))
    val deg = IncrementalAnalytics.currentDegrees(spark, ld.stateDir("degrees"))
      .select("dt_id", "out_degree", "in_degree").collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    out.check(deg == wantDeg,
      s"maintained degrees differ from a full recompute (${deg.size} rows)")
    val comp = IncrementalAnalytics.currentComponents(spark, ld.stateDir("components"))
      .select("dt_id", "component").collect().map(r => r.getString(0) -> r.getString(1)).toMap
    out.check(comp == wantComp,
      s"maintained components differ from a full recompute (${comp.size} rows)")
    val core = IncrementalAnalytics.currentKcore(spark, ld.stateDir("kcore"))
      .select("node").collect().map(_.getString(0)).toSet
    out.check(core == wantCore,
      s"maintained $CoreK-core differs from a full recompute (${core.size} nodes)")
  }
}

/** Runs `graph_refresh` and reports its metrics. */
object GraphWorkload {
  import GraphRefresh._

  def run(ctx: Ctx, out: Outcome, seconds: Int, trace: Boolean, heap: Heap): Unit = {
    val g = Gen.build(ctx.seed, Shape.Analytics)
    out.put("graph", Outcome.obj(Seq("twins" -> g.twins.size.toString,
      "relationships" -> g.rels.size.toString, "hash" -> Outcome.str(g.hash))))
    // Warm-up, untimed and before anything is timed: one set-up and the
    // fixpoint suite over a small graph of the same shape (its outputs
    // checked too), so Spark's generated code and the JIT-compiled paths
    // exist before the first timed call. The benchmark's own expected
    // fixpoint outputs are computed on side threads meanwhile.
    val expected = background("expected-results")(new Expected(g))
    val (exp, warmMs) = Ctx.timedMs {
      val wg = Gen.build(ctx.seed, Shape.Warmup)
      fixpoints(setup(ctx, wg, ctx.dir("graph-warmup")), new Expected(wg), out, new Meter)
      expected.get()
    }
    out.put("warmup_ms", Outcome.num(warmMs))
    val setups = mutable.ArrayBuffer[Double]()
    var ld: Loaded = null
    for (i <- 0 until Main.SetupRepeats) {
      val root = ctx.dir(s"graph-$i")
      val (l, ms) = Ctx.timedMs(setup(ctx, g, root))
      setups += ms
      if (i < Main.SetupRepeats - 1) Ctx.deleteTree(root) else ld = l
    }
    if (trace) heap.sample()
    out.metric("setup_s", Stats.median(setups) / 1000, "s")
    // Untimed: the maintainers' bootstrap from the base-graph results.
    val (_, prepMs) = Ctx.timedMs(initMaintainers(ld, new Base(g, exp)))
    out.put("preparation_ms", Outcome.num(prepMs))
    Main.log(f"graph_refresh: warm-up ${warmMs / 1000}%.1f s, set-ups " +
      f"${setups.map(_ / 1000).map(x => f"$x%.1f").mkString(",")} s, " +
      f"maintainers' bootstrap ${prepMs / 1000}%.1f s")
    val meter = new Meter
    if (trace) ctx.traceOn()
    val t0 = System.nanoTime()
    do pass(ld, exp, out, meter) while ((System.nanoTime() - t0) / 1e9 < seconds)
    Main.log(f"graph_refresh: ${meter.passes} pass(es) in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    if (trace) heap.sample()
    out.metric("ops_per_s", meter.opMs.size / (meter.opMs.sum / 1000), "1/s")
    out.put(if (trace) "traced" else "untraced", meterJson(meter))
    if (trace) {
      val (spans, overheadPct) = ctx.traceOff()
      def p50(name: String) = spans.get(name).map(_.p50Ms).getOrElse(0.0)
      def jobs(name: String) = spans.get(name).map(_.jobsPerCall).getOrElse(0.0)
      Fixpoints.foreach { op =>
        out.metric(s"graph.${op}_s", p50(s"graph.$op") / 1000, "s")
        out.metric(s"graph.${op}_jobs", jobs(s"graph.$op"), "jobs")
      }
      Maintainers.foreach(m => out.metric(s"graph.maintain_${m}_ms", p50(s"graph.maintain_$m"), "ms"))
      out.metric("graph.maintain_jobs_per_batch",
        Maintainers.map(m => jobs(s"graph.maintain_$m")).sum, "jobs")
      out.metric("analytics_s", Fixpoints.map(op => p50(s"graph.$op")).sum / 1000, "s")
      out.metric("maintain_batch_p50_ms", Stats.median(meter.batchMs), "ms")
      out.metric("core.leaked_rdds", meter.leaked.toDouble, "count")
      out.metric("trace.overhead_pct", overheadPct, "%")
      Metrics.sparkCounters(out, ctx.counter, meter.opMs.size)
    }
    val (_, checkMs) = Ctx.timedMs(checkMaintained(ld, out))
    Main.log(f"graph_refresh: maintained-state check ${checkMs / 1000}%.1f s")
  }

  /** Run the benchmark's own driver-side computation on a side thread. */
  def background[A](name: String)(f: => A): java.util.concurrent.FutureTask[A] = {
    val t = new java.util.concurrent.FutureTask[A](() => f)
    new Thread(t, name).start()
    t
  }

  private def meterJson(m: Meter): String = {
    def list(xs: Iterable[Double]) = xs.map(x => f"$x%.1f").mkString("[", ",", "]")
    Outcome.obj(Seq("passes" -> m.passes.toString, "leaked_rdds" -> m.leaked.toString,
      "batch_ms" -> list(m.batchMs)) ++
      m.fixpointMs.map { case (k, v) => s"${k}_ms" -> list(v) } ++
      m.maintainMs.map { case (k, v) => s"maintain_${k}_ms" -> list(v) })
  }
}
