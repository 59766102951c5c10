package graft.graph

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Delta-encoded versioned state for the incremental maintainers
  * (SURVEY §2.F / the streaming §2.A9 composition).
  *
  * The r18 SLO attributed ~99% of the per-batch floor to `addBatch` — and
  * inside it, the per-commit FULL rewrite of every state table: parquet is
  * immutable, so the previous design rewrote the complete
  * degrees/components/rank tables per micro-batch, a cost bounded by STATE
  * SIZE, not the mutation batch. At 100× state a constant mutation trickle
  * pays 100× per commit, violating the maintainer family's own
  * "work ∝ mutation cone" scale contract at the commit step.
  *
  * Layout (mirrors the public Delta/Iceberg manifest idea, scoped down to
  * the pointer machinery the maintainers already had):
  *
  * {{{
  * stateDir/
  *   LATEST               committed version pointer (atomic move, as before)
  *   STATE.json           {"buckets": K} — fixed at init
  *   v{N}/
  *     MANIFEST.json      per table: bucket -> version that OWNS its files
  *     {table}/__sb={k}/  parquet for the buckets vN rewrote (dirty only)
  *     {table}/delta/     vN's merge-on-read delta (upserts + tombstones)
  * }}}
  *
  * A delta dir holds either Spark-written part files with a `_SUCCESS`, or
  * ONE driver-written `part-local-*` file and no `_SUCCESS` (a
  * driver-local batch, [[writeLocalDelta]]); every reader lists data
  * files the way Spark does, so both read alike.
  *
  * Every state table is hash-partitioned into K buckets by its key column
  * (`pmod(xxhash64(key), K)`). A commit writes ONLY the buckets the batch's
  * dirty cone touched and a manifest mapping every bucket to the version
  * that last rewrote it; clean buckets carry forward by reference. Reads
  * assemble a table by grouping the manifest by owning version — one
  * parquet relation per owner, each pruned to the owned bucket dirs — so
  * both the read and the write side of a point-mutation batch touch
  * O(dirty buckets), never O(state).
  *
  * Crash contract (unchanged from r16): the pointer moves only after the
  * full version (tables + manifest) is on disk; a replayed batch that finds
  * the pointer behind deletes the torn uncommitted version dir and
  * recomputes it deterministically; ahead → skip. Retention becomes
  * manifest-aware: a version dir lives while the committed or predecessor
  * manifest references ANY of its buckets (the predecessor grace keeps
  * in-flight lazy readers alive across one concurrent commit, as before);
  * within a referenced version, bucket dirs nothing references anymore are
  * swept bucket-granularly.
  *
  * An empty bucket writes no directory (Spark's partitioned writer emits
  * dirs only for non-empty partitions); readers treat a manifest-owned but
  * absent bucket dir as empty, which is also how a bucket whose last rows
  * were deleted is represented.
  */
private[graft] object StateStore {

  /** Partition column name — "__sb" (state bucket) because real state
    * tables use short names like `b` (k-truss edges). */
  val BucketCol = "__sb"

  val DefaultBuckets = 16

  def bucketOf(key: Column, k: Int): Column =
    pmod(xxhash64(key), lit(k.toLong)).cast("int")

  /** [[bucketOf]] of one string key, computed on the driver: the same
    * xxhash64 (seed 42) over the key's UTF-8 bytes and the same pmod, so a
    * local fold finds a key's bucket without a Spark job. */
  def bucketOfKey(key: String, k: Int): Int =
    java.lang.Math.floorMod(
      org.apache.spark.sql.catalyst.expressions.XxHash64Function.hash(
        org.apache.spark.unsafe.types.UTF8String.fromString(key),
        org.apache.spark.sql.types.StringType, 42L),
      k.toLong).toInt

  // ---------------- paths + small JSON sidecars ----------------

  private def pointerPath(stateDir: String) =
    java.nio.file.Paths.get(stateDir, "LATEST")

  def writePointer(stateDir: String, v: Long): Unit = {
    // temp-write + atomic move so a reader never sees a torn pointer
    val tmp = java.nio.file.Paths.get(stateDir, s".LATEST.tmp$v")
    java.nio.file.Files.writeString(tmp, v.toString)
    java.nio.file.Files.move(tmp, pointerPath(stateDir),
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE): Unit
  }

  def readPointer(stateDir: String): Long =
    new String(java.nio.file.Files.readAllBytes(pointerPath(stateDir)))
      .trim.toLong

  def writeBucketCount(stateDir: String, k: Int): Unit = {
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(stateDir))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(stateDir, "STATE.json"),
      s"""{"buckets":$k}"""): Unit
  }

  def bucketCount(stateDir: String): Int = {
    val n = graft.json.Json.parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(stateDir, "STATE.json"))))
    n.get("buckets").asInt()
  }

  /** Table schemas (DDL strings), written once at init — the fallback for
    * assembling an EMPTY table when no bucket of it has any file (a state
    * initialized from an empty graph, or one whose rows were all deleted:
    * partitioned writers emit no files for zero rows). */
  def writeSchemas(stateDir: String, m: Map[String, String]): Unit = {
    val node = graft.json.Json.obj()
    m.toSeq.sortBy(_._1).foreach { case (t, ddl) => node.put(t, ddl): Unit }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(stateDir, "SCHEMAS.json"), node.toString): Unit
  }

  /** `table`'s recorded schema. */
  def tableSchema(stateDir: String, table: String)
      : org.apache.spark.sql.types.StructType =
    org.apache.spark.sql.types.StructType.fromDDL(
      readSchema(stateDir, table).getOrElse(
        throw new IllegalStateException(s"no schema recorded for $table")))

  private def readSchema(stateDir: String, table: String): Option[String] = {
    val p = java.nio.file.Paths.get(stateDir, "SCHEMAS.json")
    if (!java.nio.file.Files.exists(p)) None
    else Option(graft.json.Json.parse(
      new String(java.nio.file.Files.readAllBytes(p))).get(table))
      .map(_.asText())
  }

  /** table -> bucket -> owning version. */
  /** One table's state: `buckets` maps every hash bucket to the version
    * owning its COMPACTED files; `chain` lists the versions that appended
    * a merge-on-read delta (upserts + tombstones) since the last
    * compaction, oldest first — latest-wins per key at read time. */
  final case class TableState(buckets: Map[Int, Long], chain: Seq[Long])

  type Manifest = Map[String, TableState]

  private def manifestPath(stateDir: String, v: Long) =
    java.nio.file.Paths.get(stateDir, s"v$v", "MANIFEST.json")

  def writeManifest(stateDir: String, v: Long, m: Manifest): Unit = {
    val body = m.toSeq.sortBy(_._1).map { case (t, ts) =>
      s""""$t":{"buckets":{${ts.buckets.toSeq.sortBy(_._1)
        .map { case (b, o) => s""""$b":$o""" }.mkString(",")}},""" +
        s""""chain":[${ts.chain.mkString(",")}]}"""
    }.mkString("{\"tables\":{", ",", "}}")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(stateDir, s"v$v"))
    java.nio.file.Files.writeString(manifestPath(stateDir, v), body): Unit
  }

  def readManifest(stateDir: String, v: Long): Manifest = {
    val n = graft.json.Json.parse(new String(
      java.nio.file.Files.readAllBytes(manifestPath(stateDir, v))))
    val tables = n.get("tables")
    val out = Map.newBuilder[String, TableState]
    val tIt = tables.fieldNames()
    while (tIt.hasNext) {
      val t = tIt.next()
      val tn = tables.get(t)
      val bs = Map.newBuilder[Int, Long]
      val bNode = tn.get("buckets")
      val bIt = bNode.fieldNames()
      while (bIt.hasNext) {
        val b = bIt.next()
        bs += (b.toInt -> bNode.get(b).asLong())
      }
      val cNode = tn.get("chain")
      val chain = (0 until cNode.size()).map(cNode.get(_).asLong())
      out += (t -> TableState(bs.result(), chain))
    }
    out.result()
  }

  private def bucketDir(stateDir: String, owner: Long, table: String,
      b: Int): String = s"$stateDir/v$owner/$table/$BucketCol=$b"

  // ---------------- read ----------------

  /** Assemble `table` as of version `v`: the compacted bucket base, plus
    * a latest-wins fold of the merge-on-read delta chain when one exists —
    * base rows whose key appears anywhere in the chain are superseded by
    * the chain's newest row for that key (or dropped, if it is a
    * tombstone). Bit-exact with a full rewrite; the fold shuffles only
    * chain rows (cone-sized), the base side is one anti-join scan. */
  def readTable(spark: SparkSession, stateDir: String, v: Long,
      table: String): DataFrame = {
    val ts = readManifest(stateDir, v)(table)
    val base = readBase(spark, stateDir, v, table, ts.buckets.keys.toSeq)
    if (ts.chain.isEmpty) base
    else {
      val keys = tableKeys(stateDir, table)
      val latest = chainLatest(spark, stateDir, table, ts.chain, keys)
      base.join(latest.select(keys.map(col): _*), keys, "left_anti")
        .select(base.columns.map(col): _*) // using-join reorders; restore
        .unionByName(
          latest.filter(!col(TombCol)).select(base.columns.map(col): _*))
    }
  }

  /** [[readTable]] restricted to the rows hashing into `buckets` — the
    * pruned probe a maintainer uses when every key it will look up is
    * known to hash there (touched relationship keys live in their
    * source_id bucket). Chain rows are folded exactly like readTable,
    * restricted to the same buckets. */
  def readTableBuckets(spark: SparkSession, stateDir: String, v: Long,
      table: String, buckets: Seq[Int]): DataFrame = {
    val ts = readManifest(stateDir, v)(table)
    val base = readBase(spark, stateDir, v, table, buckets)
    if (ts.chain.isEmpty) base
    else {
      val keys = tableKeys(stateDir, table)
      val k = bucketCount(stateDir)
      val latest = chainLatest(spark, stateDir, table, ts.chain, keys)
        .filter(bucketOf(col(keys.head), k)
          .isin(buckets.distinct.map(Integer.valueOf): _*))
      base.join(latest.select(keys.map(col): _*), keys, "left_anti")
        .select(base.columns.map(col): _*) // using-join reorders; restore
        .unionByName(
          latest.filter(!col(TombCol)).select(base.columns.map(col): _*))
    }
  }

  /** The newest chain row per key (tombstones kept, flagged). */
  private def chainLatest(spark: SparkSession, stateDir: String,
      table: String, chain: Seq[Long], keys: Seq[String]): DataFrame = {
    val deltas = chain.map { dv =>
      spark.read.parquet(deltaDir(stateDir, dv, table))
        .withColumn("__v", lit(dv))
    }.reduce(_ unionByName _)
    val dataCols = deltas.columns.filter(c => c != "__v")
    deltas.groupBy(keys.map(col): _*)
      .agg(max_by(struct(dataCols.filterNot(keys.contains).map(col): _*),
        col("__v")).as("__l"))
      .select(keys.map(col) ++ dataCols.filterNot(keys.contains)
        .map(c => col(s"__l.$c").as(c)): _*)
  }

  /** The compacted BASE of `table` restricted to `buckets` (chain NOT
    * folded) — what compaction and bucket-pruned probes read. Each owner
    * contributes one parquet relation over exactly its bucket dirs;
    * absent dirs are empty buckets. Leaf-dir paths keep partition
    * discovery off and make the scan physically pruned. */
  def readBase(spark: SparkSession, stateDir: String, v: Long,
      table: String, buckets: Seq[Int]): DataFrame = {
    val frames = ownedBucketDirs(spark, stateDir, v, table, buckets)
      .map(paths => spark.read.parquet(paths: _*))
    if (frames.isEmpty)
      // every named bucket is empty: an empty frame with the table schema
      // read from ANY existing bucket of the table, or the schema sidecar
      // when the whole table is empty everywhere
      emptyLike(spark, stateDir, v, table)
    else frames.reduce(_ unionByName _)
  }

  /** The existing dirs of `buckets` as of `v`, one non-empty group per
    * owning version (absent dirs are empty buckets). */
  private def ownedBucketDirs(spark: SparkSession, stateDir: String, v: Long,
      table: String, buckets: Seq[Int]): Seq[Seq[String]] = {
    val man = readManifest(stateDir, v)(table).buckets
    val fs = new org.apache.hadoop.fs.Path(stateDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    buckets.distinct.sorted.groupBy(man).toSeq.sortBy(_._1)
      .map { case (owner, bs) =>
        bs.map(b => bucketDir(stateDir, owner, table, b))
          .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
      }
      .filter(_.nonEmpty)
  }

  /** The data files of `table`'s `buckets` as of `v` (base only, chain
    * NOT folded), listed on the driver for a local read. */
  def baseFiles(spark: SparkSession, stateDir: String, v: Long,
      table: String, buckets: Seq[Int]): Seq[org.apache.hadoop.fs.Path] = {
    val conf = spark.sparkContext.hadoopConfiguration
    ownedBucketDirs(spark, stateDir, v, table, buckets).flatten.flatMap(d =>
      graft.core.LocalParquet.dataFiles(conf, new org.apache.hadoop.fs.Path(d)))
  }

  /** The data files of `table`'s delta written at version `dv`. */
  def deltaFiles(spark: SparkSession, stateDir: String, dv: Long,
      table: String): Seq[org.apache.hadoop.fs.Path] =
    graft.core.LocalParquet.dataFiles(spark.sparkContext.hadoopConfiguration,
      new org.apache.hadoop.fs.Path(deltaDir(stateDir, dv, table)))

  private def emptyLike(spark: SparkSession, stateDir: String, v: Long,
      table: String): DataFrame = {
    val man = readManifest(stateDir, v)(table).buckets
    val hconf = spark.sparkContext.hadoopConfiguration
    val any = man.toSeq.sortBy(_._1).iterator.map { case (b, o) =>
      bucketDir(stateDir, o, table, b)
    }.find { p =>
      val hp = new org.apache.hadoop.fs.Path(p)
      hp.getFileSystem(hconf).exists(hp)
    }
    any match {
      case Some(p) => spark.read.parquet(p).limit(0)
      case None => readSchema(stateDir, table) match {
        case Some(ddl) => spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](),
          org.apache.spark.sql.types.StructType.fromDDL(ddl))
        case None => throw new IllegalStateException(
          s"state table $table at $stateDir v$v has no bucket files and " +
            "no recorded schema")
      }
    }
  }

  // ---------------- write ----------------

  /** Tombstone flag column of merge-on-read delta files. */
  val TombCol = "__tomb"

  private def deltaDir(stateDir: String, v: Long, table: String): String =
    s"$stateDir/v$v/$table/delta"

  /** Write a FULL table at version `v` (init, or a compaction target):
    * every bucket lands under v — one file per non-empty bucket (the
    * repartition keys the write so each bucket is a single task's
    * output; without it a 32-task upstream fragments every bucket into
    * up to 32 files and compaction pays a job per bucket dir). */
  def writeFull(df: DataFrame, keyCol: Column, k: Int, stateDir: String,
      v: Long, table: String): TableState = {
    df.withColumn(BucketCol, bucketOf(keyCol, k))
      .repartition(col(BucketCol))
      .write.partitionBy(BucketCol).mode("overwrite")
      .parquet(s"$stateDir/v$v/$table")
    TableState((0 until k).map(b => b -> v).toMap, Seq.empty)
  }

  /** Append one merge-on-read DELTA to `table` at version `v`: `upserts`
    * are complete replacement rows, `tombstoneKeys` the keys whose rows
    * vanish (extra tombstones for never-present keys are harmless — the
    * read fold just finds nothing to drop). This is the O(dirty rows)
    * commit the maintainer family's scale contract needs: per-batch
    * write cost no longer touches clean state at all. When the chain
    * reaches `maxChain` the caller compacts instead
    * ([[compactIntoBuckets]]).
    *
    * Returns the delta's row count, decided from the written files'
    * parquet footers, driver-side: probing the lazy inputs with isEmpty
    * first would cost two extra Spark jobs per table per batch, which the
    * sf1 SLO measured as a real share of the per-batch floor across a
    * 6-table maintainer like ranks; the row count feeds the caller's
    * size-triggered compaction. Zero rows removes the empty dir (the
    * caller carries the table). */
  def writeChainDelta(spark: SparkSession, stateDir: String, v: Long,
      table: String, upserts: DataFrame, tombstoneKeys: DataFrame,
      keys: Seq[String]): Long = {
    val schema = tableSchema(stateDir, table)
    val tombs = tombstoneKeys.select(
      schema.fields.map { f =>
        if (keys.contains(f.name)) col(f.name)
        else lit(null).cast(f.dataType).as(f.name)
      }: _*).withColumn(TombCol, lit(true))
    val ups = upserts.select(schema.fieldNames.map(col): _*)
      .withColumn(TombCol, lit(false))
    // cone-sized rows: cap the file count below the compaction
    // threshold so the small-file pass never pays a job for a delta
    val dir = deltaDir(stateDir, v, table)
    ups.unionByName(tombs).coalesce(4)
      .write.mode("overwrite").parquet(dir)
    val rows = parquetRowCount(spark, dir)
    if (rows == 0L) {
      val p = new org.apache.hadoop.fs.Path(dir)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(p, true): Unit
    }
    rows
  }

  /** [[writeChainDelta]] of rows a driver-local fold computed: `rows`
    * hold the table's fields in its recorded order, then the [[TombCol]]
    * flag. One `part-local-0.snappy.parquet` file, written on the driver
    * ([[graft.core.LocalParquet]]) — no Spark job and no `_SUCCESS`. */
  def writeLocalDelta(spark: SparkSession, stateDir: String, v: Long,
      table: String, rows: Seq[org.apache.spark.sql.Row]): Unit = {
    import org.apache.spark.sql.types.{BooleanType, StructField, StructType}
    val schema = StructType(tableSchema(stateDir, table).fields
      .map(_.copy(nullable = true)) :+ StructField(TombCol, BooleanType))
    graft.core.LocalParquet.write(spark.sparkContext.hadoopConfiguration,
      new org.apache.hadoop.fs.Path(deltaDir(stateDir, v, table),
        "part-local-0.snappy.parquet"), schema, rows)
  }

  /** Total base rows of `table` as of version `v` (chain NOT folded) —
    * summed from the owned bucket files' footers, driver metadata IO
    * only. Feeds the size-triggered compaction: a delta that is a large
    * fraction of the base means the cone ≈ the state (the WCC hub-feed
    * shape), where chaining state-sized deltas only bloats every read's
    * fold — folding immediately is the old full-rewrite cost, which is
    * optimal there. The sum stops at the first bucket that takes it past
    * `upTo` (a point delta's test is settled by one bucket's footer, not
    * K listings), so a result over `upTo` is only a lower bound. */
  def baseRowCount(spark: SparkSession, stateDir: String, v: Long,
      table: String, upTo: Long): Long = {
    val it = readManifest(stateDir, v)(table).buckets.toSeq.sortBy(_._1).iterator
    var n = 0L
    while (it.hasNext && n <= upTo) {
      val (b, o) = it.next()
      n += parquetRowCount(spark, bucketDir(stateDir, o, table, b))
    }
    n
  }

  /** Sum of footer row counts under `dir` — driver metadata IO only, no
    * Spark job (the delta dirs this guards hold ≤4 cone-sized files). */
  private def parquetRowCount(spark: SparkSession, dir: String): Long = {
    val path = new org.apache.hadoop.fs.Path(dir)
    val conf = spark.sparkContext.hadoopConfiguration
    val fs = path.getFileSystem(conf)
    if (!fs.exists(path)) return 0L
    val it = fs.listFiles(path, false)
    var n = 0L
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        val key = (f.getPath.toString, f.getLen, f.getModificationTime)
        n += footerRows.synchronized(Option(footerRows.get(key)))
          .map(_.longValue).getOrElse {
            val in = org.apache.parquet.hadoop.util.HadoopInputFile
              .fromStatus(f, conf)
            val r = org.apache.parquet.hadoop.ParquetFileReader.open(in)
            val rows = try r.getRecordCount finally r.close()
            footerRows.synchronized(footerRows.put(key, rows))
            rows
          }
      }
    }
    n
  }

  /** Footer row counts by (file, length, modification time), a bounded
    * LRU: committed bucket files are never rewritten, so the per-commit
    * [[baseRowCount]] opens only footers it has not seen — re-opening
    * all K base footers cost about 0.3 s per table per batch on a 4-core
    * host. */
  private val footerRows =
    new java.util.LinkedHashMap[(String, Long, Long), java.lang.Long](
        256, 0.75f, true) {
      override def removeEldestEntry(e: java.util.Map.Entry[
          (String, Long, Long), java.lang.Long]): Boolean = size() > 4096
    }

  /** Fold `table`'s chain back into its bucketed base at version `v`:
    * rewrite ONLY the buckets containing any chain key (one file per
    * bucket), carry every untouched bucket, clear the chain. Work is
    * proportional to the touched buckets' volume — amortized over the
    * chain's batches, the per-batch compaction share stays
    * dirty-proportional. */
  def compactIntoBuckets(spark: SparkSession, stateDir: String,
      fromV: Long, v: Long, table: String, k: Int,
      prev: TableState): TableState = graft.core.Blocks.scoped { s =>
    val keys = tableKeys(stateDir, table)
    val latest = s.local(chainLatest(spark, stateDir, table, prev.chain, keys))
    val dirty = dirtyBuckets(latest, col(keys.head), k)
    val base = readBase(spark, stateDir, fromV, table, dirty)
    val folded = base
      .join(latest.select(keys.map(col): _*), keys, "left_anti")
      .select(base.columns.map(col): _*) // using-join reorders; restore
      .unionByName(latest.filter(!col(TombCol))
        .select(base.columns.map(col): _*))
    folded.withColumn(BucketCol, bucketOf(col(keys.head), k))
      .repartition(col(BucketCol))
      .write.partitionBy(BucketCol).mode("overwrite")
      .parquet(s"$stateDir/v$v/$table")
    TableState(prev.buckets ++ dirty.map(b => b -> v), Seq.empty)
  }

  /** Collect the distinct bucket ids of a (small, cone-sized) key frame. */
  def dirtyBuckets(keys: DataFrame, keyCol: Column, k: Int): Seq[Int] =
    keys.select(bucketOf(keyCol, k).as(BucketCol)).distinct()
      .collect().map(_.getInt(0)).toSeq.sorted

  // ---------------- key sidecar ----------------

  /** Per-table key columns (identity for the chain fold), written once at
    * init alongside the schemas. */
  def writeKeys(stateDir: String, m: Map[String, Seq[String]]): Unit = {
    val node = graft.json.Json.obj()
    m.toSeq.sortBy(_._1).foreach { case (t, ks) =>
      val arr = node.putArray(t)
      ks.foreach(arr.add)
    }
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(stateDir, "KEYS.json"), node.toString): Unit
  }

  def tableKeys(stateDir: String, table: String): Seq[String] = {
    val n = graft.json.Json.parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(stateDir, "KEYS.json")))).get(table)
    (0 until n.size()).map(n.get(_).asText())
  }

  // ---------------- retention ----------------

  /** Delete the (uncommitted) version dir if a previous crashed attempt
    * left a torn one — called at the top of every batch recompute. */
  def clearVersion(stateDir: String, v: Long): Unit = {
    val p = java.nio.file.Paths.get(stateDir, s"v$v")
    if (java.nio.file.Files.exists(p)) {
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally walk.close()
    }
  }

  /** Manifest-aware retention, run after the pointer commits to
    * `committed`: a bucket dir is live iff the committed manifest — or the
    * predecessor's, the one-commit grace for in-flight lazy readers —
    * still maps that bucket to that version, and a delta dir iff one of
    * those manifests still lists its version in the table's chain. Dead
    * dirs are swept granularly; version dirs left with no live reference
    * (and that are not the committed/grace versions themselves) are
    * removed whole. Best-effort: a crash mid-sweep leaves only transient
    * extra files for the next committed batch's sweep. */
  def prune(stateDir: String, committed: Long): Unit = {
    def tryManifest(v: Long): Manifest =
      try readManifest(stateDir, v) catch { case _: Exception => Map.empty }
    val manifests = Seq(tryManifest(committed), tryManifest(committed - 1))
    val liveBuckets: Set[(Long, String, Int)] = manifests
      .flatMap(_.toSeq)
      .flatMap { case (t, ts) => ts.buckets.map { case (b, o) => (o, t, b) } }
      .toSet
    val liveDeltas: Set[(Long, String)] = manifests
      .flatMap(_.toSeq)
      .flatMap { case (t, ts) => ts.chain.map(dv => (dv, t)) }
      .toSet
    val liveVersions = liveBuckets.map(_._1) ++ liveDeltas.map(_._1)
    val dir = java.nio.file.Paths.get(stateDir)
    val versions = scala.collection.mutable.Buffer.empty[Long]
    val ls = java.nio.file.Files.list(dir)
    try {
      val it = ls.iterator()
      while (it.hasNext) {
        val p = it.next()
        val n = p.getFileName.toString
        if (n.startsWith("v")) n.drop(1).toLongOption.foreach(versions += _)
      }
    } finally ls.close()
    def rmTree(p: java.nio.file.Path): Unit = {
      val walk = java.nio.file.Files.walk(p)
      try walk.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => { java.nio.file.Files.deleteIfExists(f); () })
      finally walk.close()
    }
    versions.filter(_ < committed - 1).foreach { v =>
      val vdir = java.nio.file.Paths.get(stateDir, s"v$v")
      if (!liveVersions.contains(v)) rmTree(vdir)
      else {
        // referenced version: sweep only its dead bucket/delta dirs.
        // Tables can be nested ("hist/i=3"), so find every `__sb=k` and
        // `delta` dir recursively and name the table by the path between
        // the version dir and that component.
        val dead = scala.collection.mutable.Buffer.empty[java.nio.file.Path]
        val walk = java.nio.file.Files.walk(vdir)
        try walk.forEach { p =>
          val n = p.getFileName.toString
          if (java.nio.file.Files.isDirectory(p)) {
            lazy val t = vdir.relativize(p.getParent).toString
              .replace(java.io.File.separatorChar, '/')
            if (n.startsWith(s"$BucketCol=")) {
              val b = n.stripPrefix(s"$BucketCol=").toIntOption
              if (b.exists(bb => !liveBuckets((v, t, bb)))) dead += p
            } else if (n == "delta" && !liveDeltas((v, t))) dead += p
          }
        } finally walk.close()
        dead.foreach(rmTree)
      }
    }
  }
}
