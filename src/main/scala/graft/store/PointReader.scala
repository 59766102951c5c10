package graft.store

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.MessageTypeParser

/** Driver-side point-read path over a pinned snapshot (r17, VERDICT #3):
  * serve `getTwin`/`getRelationship` fault-ins WITHOUT a Spark job.
  *
  * The reference serves light reads at wire speed off PostgreSQL's btree
  * (`performance.mdx:28` targets ~100 req/s); the Spark-job fault-in is
  * flat but scheduler-bound (~77 ms/lookup at sf10 — ~13 req/s). This
  * reader recovers the btree-like path from the columnar layout that
  * [[GraphStore.write]] already produces (files sorted by the key):
  *
  *  - at construction it reads each parquet FOOTER once and caches it
  *    with the file-level [min, max] of the lookup key — O(files) driver
  *    memory, no data pages touched, and no per-lookup footer re-parse
  *    (the dominant fixed cost of a naive ParquetReader per call);
  *  - a lookup prunes to the files whose range covers the key (usually
  *    one, since files are key-sorted), re-opens just the data stream
  *    against the cached footer, and reads with a parquet record filter:
  *    row-group statistics and the column index prune inside the file,
  *    so only the page(s) holding the key are decompressed.
  *
  * The reader is tied to one immutable snapshot directory;
  * [[TableTwinStore]] keys it by snapshot version, so a checkpoint/import
  * that moves the snapshot pointer builds a fresh reader (spec-asserted
  * invalidation). Lookups open independent streams — safe concurrently.
  */
final class PointReader(conf: Configuration, dir: String,
    keyCols: Seq[String], valueCol: String) {

  // min/max are UNSIGNED UTF-8 BYTES, not Strings: parquet's UTF8 stats
  // (and the Spark sort that laid the files out) order by unsigned bytes,
  // and for supplementary-plane characters (U+10000+) that order DISAGREES
  // with Java String's UTF-16 code-unit order (surrogates D800-DFFF sort
  // below E000-FFFF in UTF-16 but encode as 0xF0... > 0xEE... in UTF-8).
  // A String-order file/row-group prune could silently skip a covering
  // file, so every pruning level compares with the same byte cmp().
  private case class FileEntry(path: Path, min: Array[Byte], max: Array[Byte],
      input: HadoopInputFile, footer: ParquetMetadata)

  /** Cached footers + file-level ranges of the PRIMARY key column
    * (keyCols.head), from row-group statistics. Files with no stats are
    * kept with an open range so correctness never depends on them. */
  private val files: Seq[FileEntry] = {
    val fs = new Path(dir).getFileSystem(conf)
    val root = new Path(dir)
    if (!fs.exists(root)) Seq.empty
    else {
      val paths = collection.mutable.ArrayBuffer[Path]()
      val it = fs.listFiles(root, true)
      while (it.hasNext) {
        val f = it.next()
        if (f.getPath.getName.endsWith(".parquet")) paths += f.getPath
      }
      paths.map { p =>
        val input = HadoopInputFile.fromPath(p, conf)
        val reader = ParquetFileReader.open(input)
        try {
          val footer = reader.getFooter
          var min: Array[Byte] = null
          var max: Array[Byte] = null
          val bi = footer.getBlocks.iterator()
          while (bi.hasNext) {
            val b = bi.next()
            val ci = b.getColumns.iterator()
            while (ci.hasNext) {
              val c = ci.next()
              if (c.getPath.toDotString == keyCols.head) {
                val st = c.getStatistics
                if (st != null && st.hasNonNullValue) {
                  val lo = statBytes(st.genericGetMin)
                  val hi = statBytes(st.genericGetMax)
                  if (min == null || cmp(lo, min) < 0) min = lo
                  if (max == null || cmp(hi, max) > 0) max = hi
                }
              }
            }
          }
          FileEntry(p, min, max, input, footer)
        } finally reader.close()
      }.toSeq
    }
  }

  private val projection = MessageTypeParser.parseMessageType(
    s"message point {\n" +
      (keyCols :+ valueCol).map(c => s"  optional binary $c (UTF8);")
        .mkString("\n") + "\n}")

  /** How many files a lookup for `key` must open (probe for specs). */
  def candidateFiles(key: String): Int = {
    val kb = utf8(key)
    files.count(f => f.min == null ||
      (cmp(f.min, kb) <= 0 && cmp(kb, f.max) <= 0))
  }

  /** All `valueCol` strings whose row matches every (keyCol = value)
    * equality. Composite keys filter on all columns; file pruning uses
    * the primary column's footer range. */
  def lookup(keyValues: Seq[String]): Seq[String] = {
    require(keyValues.length == keyCols.length,
      s"expected ${keyCols.length} key values, got ${keyValues.length}")
    read(keyCols.zip(keyValues))
  }

  /** All rows matching the PRIMARY key column alone — the sorted-layout
    * prefix scan (e.g. every relationship of one source). */
  def scanFirst(key0: String): Seq[String] =
    read(Seq(keyCols.head -> key0))

  /** Per-(file, rowGroup) key-column page index, read once and cached:
    * the page-level [min, max] list plus each page's first row index —
    * ~32 B per page on the driver, the btree inner nodes of this layout. */
  private case class PageIndex(mins: Array[Array[Byte]],
      maxs: Array[Array[Byte]], nullPage: Array[Boolean],
      offsets: org.apache.parquet.internal.column.columnindex.OffsetIndex)
  private val pageIndexCache =
    collection.concurrent.TrieMap.empty[(String, Int), Option[PageIndex]]

  private def utf8(s: String): Array[Byte] =
    s.getBytes(java.nio.charset.StandardCharsets.UTF_8)

  /** Statistics value → its UTF-8 byte form (Binary stats pass bytes
    * through; non-binary stats render then encode). */
  private def statBytes(v: Any): Array[Byte] = v match {
    case b: Binary => b.getBytes
    case other => utf8(String.valueOf(other))
  }

  /** Unsigned lexicographic byte compare — the UTF8 binary sort order
    * parquet statistics use. */
  private def cmp(a: Array[Byte], b: Array[Byte]): Int = {
    var i = 0
    val n = math.min(a.length, b.length)
    while (i < n) {
      val d = (a(i) & 0xff) - (b(i) & 0xff)
      if (d != 0) return d
      i += 1
    }
    a.length - b.length
  }


  private def pageIndexFor(fileKey: String, rg: Int,
      reader: ParquetFileReader,
      ccmd: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData)
      : Option[PageIndex] =
    pageIndexCache.getOrElseUpdate((fileKey, rg), {
      val colIdx = reader.readColumnIndex(ccmd)
      val offIdx = reader.readOffsetIndex(ccmd)
      if (colIdx == null || offIdx == null) None
      else {
        def bytes(l: java.util.List[java.nio.ByteBuffer]) =
          (0 until l.size).map { i =>
            val bb = l.get(i).duplicate()
            val a = new Array[Byte](bb.remaining()); bb.get(a); a
          }.toArray
        val nulls = colIdx.getNullPages
        Some(PageIndex(bytes(colIdx.getMinValues),
          bytes(colIdx.getMaxValues),
          (0 until nulls.size).map(nulls.get(_).booleanValue()).toArray,
          offIdx))
      }
    })

  private def keyChunk(block: org.apache.parquet.hadoop.metadata.BlockMetaData)
      : org.apache.parquet.hadoop.metadata.ColumnChunkMetaData = {
    var ccmd: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData = null
    val ci = block.getColumns.iterator()
    while (ci.hasNext) {
      val c = ci.next()
      if (c.getPath.toDotString == keyCols.head) ccmd = c
    }
    ccmd
  }

  /** Pages whose key range covers `key`, summed over candidate files —
    * 1 for a properly key-sorted layout. Probe for specs: the write-path
    * regression this catches produced 32 interleaved sorted runs per
    * file (the partitionBy writer re-sorting by partition column only),
    * which point reads paid as 32 decoded pages per lookup. */
  def pagesCovering(key: String): Int = {
    val kb = utf8(key)
    files.filter(f => f.min == null ||
        (cmp(f.min, kb) <= 0 && cmp(kb, f.max) <= 0))
      .map { fe =>
        val reader = readerFor(fe)
        fe.synchronized {
          (0 until fe.footer.getBlocks.size).map { rg =>
            val ccmd = keyChunk(fe.footer.getBlocks.get(rg))
            if (ccmd == null) 0
            else pageIndexFor(fe.path.toString, rg, reader, ccmd) match {
              case Some(pi) => (0 until pi.offsets.getPageCount).count(p =>
                !pi.nullPage(p) && cmp(pi.mins(p), kb) <= 0 &&
                  cmp(kb, pi.maxs(p)) <= 0)
              case None => 0
            }
          }.sum
        }
      }.sum
  }

  /** Eagerly read every (file, row-group) key-column page index into the
    * driver cache — the btree inner nodes of this layout, pinned up
    * front. An r18 profile (SCALING.md) attributed ~1.8 ms of every COLD lookup
    * to the per-row-group column/offset-index reads; a serving store that
    * preloads them at reader construction pays that once per snapshot
    * instead of once per (lookup × row group). Cost: two small metadata
    * reads per row group, ~32 B/page retained. */
  def preloadPageIndexes(): Unit =
    files.foreach { fe =>
      val reader = readerFor(fe)
      fe.synchronized {
        (0 until fe.footer.getBlocks.size).foreach { rg =>
          val ccmd = keyChunk(fe.footer.getBlocks.get(rg))
          if (ccmd != null)
            pageIndexFor(fe.path.toString, rg, reader, ccmd): Unit
        }
      }
    }

  /** One PERSISTENT open reader per touched file: re-opening per lookup
    * costs ~9 ms in codec-factory/stream setup alone (measured at sf10 —
    * the difference between 76 and 160 lookups/s). Each open skips the
    * footer decode (cached at construction). Access is serialized per
    * file; lookups on different files stay concurrent. [[close]]
    * releases the streams — [[TableTwinStore]] calls it when the
    * snapshot pointer moves.
    *
    * NO record filter rides the open options: an options-level filter
    * makes the reader pre-drop row groups and RE-INDEX the survivors, so
    * footer-based row-group indexes would point past the end. The stats
    * check + page index replace that pruning; the record filter applies
    * at assembly. */
  private val openReaders =
    collection.concurrent.TrieMap.empty[String, ParquetFileReader]
  private def readerFor(fe: FileEntry): ParquetFileReader =
    openReaders.synchronized {
      openReaders.getOrElseUpdate(fe.path.toString, {
        val opts = HadoopReadOptions.builder(conf, fe.path).build()
        val r = ParquetFileReader.open(fe.input, fe.footer, opts,
          fe.input.newStream())
        r.setRequestedSchema(projection)
        r
      })
    }

  /** Release all persistent file streams (idempotent). */
  def close(): Unit = {
    openReaders.synchronized {
      openReaders.values.foreach(r =>
        try r.close() catch { case _: Throwable => () })
      openReaders.clear()
    }
    openKeyReaders.synchronized {
      openKeyReaders.values.foreach(r =>
        try r.close() catch { case _: Throwable => () })
      openKeyReaders.clear()
    }
  }

  // ---------------- sequential key enumeration (delete-job cursor) ----------------

  /** Keys-only projection + its own persistent readers: enumeration must
    * never decode the (heavy) value column, and a reader's requested
    * schema is fixed at open. */
  private val keysProjection = MessageTypeParser.parseMessageType(
    s"message keys {\n" +
      keyCols.map(c => s"  optional binary $c (UTF8);").mkString("\n") +
      "\n}")
  private val openKeyReaders =
    collection.concurrent.TrieMap.empty[String, ParquetFileReader]
  private def keyReaderFor(fe: FileEntry): ParquetFileReader =
    openKeyReaders.synchronized {
      openKeyReaders.getOrElseUpdate(fe.path.toString, {
        val opts = HadoopReadOptions.builder(conf, fe.path).build()
        val r = ParquetFileReader.open(fe.input, fe.footer, opts,
          fe.input.newStream())
        r.setRequestedSchema(keysProjection)
        r
      })
    }
  private val keyColumnIOByFile = collection.concurrent.TrieMap
    .empty[String, org.apache.parquet.io.MessageColumnIO]

  /** Up to `n` keys strictly greater than `after` (componentwise unsigned
    * UTF-8 order over keyCols, [[Key.cmpSeq]]), merged across files, with
    * ZERO Spark jobs — the delete job's per-batch snapshot cursor (r17
    * verdict's one weak component was a full key re-collect per batch).
    * The cached page index skips pages wholly below the cursor, so a full
    * cursor walk decodes each 1024-row key page O(pageRows/n) times and
    * never touches a value page: total work is linear in the corpus, and
    * driver memory per call is O(n × candidate files). */
  def keysAfter(after: Option[Seq[String]], n: Int): Seq[Seq[String]] = {
    if (n <= 0 || files.isEmpty) return Seq.empty
    val afterP: Option[Array[Byte]] = after.map(k => utf8(k.head))
    // a file can hold keys > after unless its max is below the cursor's
    // PRIMARY component (ties on the primary may still win on secondaries)
    val candidates = files
      .filter(f => f.max == null || afterP.forall(a => cmp(a, f.max) <= 0))
      .sortBy(f => if (f.min == null) Array.emptyByteArray else f.min)(
        Ordering.fromLessThan[Array[Byte]]((x, y) => cmp(x, y) < 0))
    val pool = collection.mutable.ArrayBuffer[Seq[String]]()
    for (fe <- candidates) {
      // once the pool already holds n keys all below this file's min, the
      // file (and every later one — min-sorted) cannot contribute
      val skip = pool.size >= n && fe.min != null && {
        val nth = pool.sorted(graft.store.Key.seqOrdering)(n - 1)
        cmp(fe.min, utf8(nth.head)) > 0
      }
      if (!skip) pool ++= fileKeysAfter(fe, after, n)
    }
    pool.sorted(graft.store.Key.seqOrdering).take(n).toSeq
  }

  /** The smallest (up to) `n` keys of one key-sorted file strictly greater
    * than `after`: row groups in order, pages from the first one whose max
    * reaches the cursor, stop at n. */
  private def fileKeysAfter(fe: FileEntry, after: Option[Seq[String]],
      n: Int): Seq[Seq[String]] = {
    val afterP = after.map(k => utf8(k.head))
    val out = collection.mutable.ArrayBuffer[Seq[String]]()
    val reader = keyReaderFor(fe)
    fe.synchronized {
      val columnIO = keyColumnIOByFile.getOrElseUpdate(fe.path.toString,
        new ColumnIOFactory()
          .getColumnIO(keysProjection, fe.footer.getFileMetaData.getSchema))
      val blocks = fe.footer.getBlocks
      var rg = 0
      while (rg < blocks.size && out.size < n) {
        val block = blocks.get(rg)
        val ccmd = keyChunk(block)
        val rgMayHave = ccmd == null || {
          val st = ccmd.getStatistics
          st == null || !st.hasNonNullValue ||
            afterP.forall(a => cmp(a, statBytes(st.genericGetMax)) <= 0)
        }
        if (rgMayHave) {
          val pidx =
            if (ccmd == null) None
            else pageIndexFor(fe.path.toString, rg, reader, ccmd)
          val pageSets: Seq[Seq[Int]] = pidx match {
            case Some(pi) =>
              // pages at or past the cursor, decoded ONE at a time so a
              // small n never pays a whole-row-group decode
              (0 until pi.offsets.getPageCount).filter(p =>
                !pi.nullPage(p) &&
                  afterP.forall(a => cmp(a, pi.maxs(p)) <= 0))
                .map(Seq(_))
            case None => Seq(Seq.empty) // no index: whole row group once
          }
          val it = pageSets.iterator
          while (it.hasNext && out.size < n) {
            val ps = it.next()
            val pages =
              if (ps.isEmpty) reader.readRowGroup(rg)
              else {
                val ranges = org.apache.parquet.internal.filter2
                  .columnindex.RowRanges.create(block.getRowCount,
                    new java.util.PrimitiveIterator.OfInt {
                      private val under = ps.iterator
                      def hasNext = under.hasNext
                      def nextInt() = under.next()
                    }, pidx.get.offsets)
                reader.readFilteredRowGroup(rg, ranges)
              }
            if (pages != null) {
              val rr = columnIO.getRecordReader(pages,
                new GroupRecordConverter(keysProjection))
              val total = pages.getRowCount
              var i = 0L
              while (i < total && out.size < n) {
                val g = rr.read()
                if (g != null &&
                    keyCols.forall(c => g.getFieldRepetitionCount(c) > 0)) {
                  val key = keyCols.map(c => g.getString(c, 0))
                  if (after.forall(a => graft.store.Key.cmpSeq(key, a) > 0))
                    out += key
                }
                i += 1
              }
            }
          }
        }
        rg += 1
      }
    }
    out.toSeq
  }

  private val columnIOByFile = collection.concurrent.TrieMap
    .empty[String, org.apache.parquet.io.MessageColumnIO]

  private def read(pairs: Seq[(String, String)]): Seq[String] = {
    val k0 = pairs.head._2
    val k0b = utf8(k0)
    val candidates = files.filter(f => f.min == null ||
      (cmp(f.min, k0b) <= 0 && cmp(k0b, f.max) <= 0))
    if (candidates.isEmpty) return Seq.empty
    val out = collection.mutable.ArrayBuffer[String]()
    candidates.foreach { fe =>
      val reader = readerFor(fe)
      fe.synchronized {
        // rows are keyCols-sorted within a file (GraphStore.write), so
        // assembly STOPS at the first primary key past the target — on
        // average half the matched page instead of all of it, and later
        // row groups of this file are skipped outright
        var past = false
        val columnIO = columnIOByFile.getOrElseUpdate(fe.path.toString,
          new ColumnIOFactory()
            .getColumnIO(projection, fe.footer.getFileMetaData.getSchema))
        val blocks = fe.footer.getBlocks
        var rg = 0
        while (rg < blocks.size && !past) {
          val block = blocks.get(rg)
          val ccmd = keyChunk(block)
          // row-group pruning by key statistics
          val inRg = ccmd == null || {
            val st = ccmd.getStatistics
            st == null || !st.hasNonNullValue ||
              (cmp(statBytes(st.genericGetMin), k0b) <= 0 &&
                cmp(k0b, statBytes(st.genericGetMax)) <= 0)
          }
          if (inRg) {
            // page-level pruning from the CACHED column index: parquet's
            // built-in column-index filter re-reads the index per call
            // and aligns ranges across all projected columns' page
            // boundaries (measured 45x over-read on a 1.5 M-row group);
            // reading the one matching key page directly decodes ~one
            // page of each projected column instead.
            val pidx =
              if (ccmd == null) None
              else pageIndexFor(fe.path.toString, rg, reader, ccmd)
            val pages = pidx match {
              case Some(pi) =>
                val hit = (0 until pi.offsets.getPageCount).filter { p =>
                  !pi.nullPage(p) &&
                    cmp(pi.mins(p), k0b) <= 0 && cmp(k0b, pi.maxs(p)) <= 0
                }
                if (hit.isEmpty) null
                else {
                  val ranges = org.apache.parquet.internal.filter2
                    .columnindex.RowRanges.create(block.getRowCount,
                      new java.util.PrimitiveIterator.OfInt {
                        private val under = hit.iterator
                        def hasNext = under.hasNext
                        def nextInt() = under.next()
                      }, pi.offsets)
                  reader.readFilteredRowGroup(rg, ranges)
                }
              case None => reader.readRowGroup(rg) // no index: record filter
            }
            if (pages != null) {
              // predicate evaluated HERE, not via a parquet record filter:
              // record-level filtering still assembles every projected
              // column per row, and it hides the key value the sorted
              // early-stop needs
              val rr = columnIO.getRecordReader(pages,
                new GroupRecordConverter(projection))
              val n = pages.getRowCount
              var i = 0L
              while (i < n && !past) {
                val g = rr.read()
                if (g != null &&
                    g.getFieldRepetitionCount(keyCols.head) > 0) {
                  val c = cmp(utf8(g.getString(keyCols.head, 0)), k0b)
                  if (c > 0) past = true
                  else if (c == 0 &&
                      pairs.forall { case (cn, v) =>
                        g.getFieldRepetitionCount(cn) > 0 &&
                          g.getString(cn, 0) == v } &&
                      g.getFieldRepetitionCount(valueCol) > 0)
                    out += g.getString(valueCol, 0)
                }
                i += 1
              }
            }
          }
          rg += 1
        }
      }
    }
    out.toSeq
  }
}
