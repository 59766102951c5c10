package graft.pipeline

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class PipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  import spark.implicits._

  lazy val docs = Seq(
    (0L, "the quick brown fox jumps over the lazy dog today"),
    (1L, "the quick brown fox jumps over the lazy dog today"), // exact dup of 0
    (2L, "the quick brown fox jumps over the lazy cat today"), // near dup of 0
    (3L, "completely different words about spark and scala engines"),
    (4L, "unrelated text mentioning neither animals nor engines at all")
  ).toDF("doc_id", "text")

  test("exact dedup groups identical texts") {
    val out = Dedup.exact(docs, "doc_id", "text").collect()
    assert(out.length == 4)
    val dup = out.find(_.getLong(2) == 2).get
    assert(dup.getLong(1) == 0L, "survivor is min id")
  }

  test("shingle jaccard finds near dups, not unrelated") {
    val pairs = Dedup.shingleJaccardPairs(docs, "doc_id", "text", 3, 0.5, 1000)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(pairs.contains((0L, 1L)), "exact dup pair")
    assert(pairs.contains((0L, 2L)) && pairs.contains((1L, 2L)), "near dup pairs")
    assert(!pairs.exists(p => p._1 == 3L || p._2 == 3L))
  }

  test("benchmark contamination: overlap fractions and decontaminated corpus") {
    // doc 0 IS the benchmark text (full leak), doc 2 shares most shingles,
    // docs 3/4 share none
    val bench = Seq((100L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("bench_id", "text")
    val corpus = docs.filter(col("doc_id") =!= 0L)
    val out = Contamination
      .benchmarkOverlap(corpus, bench, "doc_id", "text", "text", n = 3)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    // doc 1 = the benchmark text verbatim: 8 shingles, all hits
    assert(out(1L) == ((8L, 8L, 10000L)), s"full leak: ${out(1L)}")
    // doc 2 differs in one word: the two windows covering it miss
    assert(out(2L) == ((8L, 6L, 7500L)), s"near leak: ${out(2L)}")
    // unrelated docs: zero hits
    assert(out(3L)._2 == 0L && out(4L)._2 == 0L)
    // decontamination drops only the above-threshold doc
    val kept = Contamination
      .decontaminated(corpus, bench, "doc_id", "text", "text", 3, 0.8)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L, 4L), s"only the verbatim leak removed: $kept")
  }

  test("short docs yield no shingles — unpaired, never matched on fragments") {
    val short = Seq((10L, "one two"), (11L, "one two"), (12L, "one"),
      (13L, "")).toDF("doc_id", "text")
    // <n tokens → empty shingle array (full n-grams only, by design)
    val sets = short.select(col("doc_id"),
      TextAnalysis.shingles(col("text"), 3).as("sh")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(sets.values.forall(_.isEmpty), s"expected no partial shingles: $sets")
    // and so shingle-based dedup never pairs them, even when byte-identical
    val pairs = Dedup.shingleJaccardPairs(short, "doc_id", "text", 3, 0.1, 1000)
    assert(pairs.isEmpty, "short docs must not pair on partial shingles")
  }

  test("minhash LSH finds the same pairs as exact jaccard here") {
    val lsh = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 64, 16, 0.5)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(lsh == Set((0L, 1L), (0L, 2L), (1L, 2L)))
  }

  test("wave-sliced LSH is bit-identical to the monolithic bucket join") {
    // waving only schedules the per-band bucket joins into sequential
    // groups — the collision union is band-order-independent, so every
    // wave count must produce the same verified pair set (incl. the
    // jaccard_4 scores) as the one-pass plan. 16 bands: waves=4 (even
    // split), waves=3 (uneven: ceil groups of 6,6,4), waves=16 (one band
    // per wave — the minimal-footprint extreme).
    val mono = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 64, 16, 0.5)
      .as[(Long, Long, Long)].collect().toSet
    for (w <- Seq(3, 4, 16)) {
      val waved = Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 64, 16,
        0.5, waves = w)
        .as[(Long, Long, Long)].collect().toSet
      assert(waved == mono, s"waves=$w diverged: $waved vs $mono")
    }
  }

  test("adaptive wide-agg repartition: both plan shapes agree bit-for-bit") {
    // the signature aggregation's pre-shuffle is a plan-statistics
    // decision (repartition when the input estimate reaches
    // Dedup.WideAggRepartBytes). Drive BOTH shapes through inputs the
    // planner sizes differently — scan-backed ids (tiny estimate →
    // map-side partials) vs the same rows behind an RDD (no estimate, the
    // defaultSizeInBytes sentinel → repartition-first) — read from each
    // executed plan which shape ran, and assert the verified pair sets
    // are identical.
    val ids = Dedup.shingleIds(docs, "doc_id", "text", 3)
    val unsized = spark.createDataFrame(ids.rdd, ids.schema)
    assert(ids.queryExecution.optimizedPlan.stats.sizeInBytes <
      Dedup.WideAggRepartBytes)
    assert(unsized.queryExecution.optimizedPlan.stats.sizeInBytes >=
      Dedup.WideAggRepartBytes)
    def repartitionsFirst(in: org.apache.spark.sql.DataFrame): Boolean =
      Dedup.bandSignaturesFrom(in, 64, 16).queryExecution.executedPlan
        .toString.contains("REPARTITION_BY_COL")
    assert(!repartitionsFirst(ids), "a sized small input keeps map-side partials")
    assert(repartitionsFirst(unsized), "an unsized input repartitions first")
    def pairs(in: org.apache.spark.sql.DataFrame) =
      Dedup.minhashLshPairsFrom(in, 64, 16, 0.5)
        .as[(Long, Long, Long)].collect().toSet
    val mapSidePartials = pairs(ids)
    val repartFirst = pairs(unsized)
    assert(mapSidePartials == repartFirst,
      s"plan shapes diverged: $mapSidePartials vs $repartFirst")
    // an eagerly-checkpointed input reports its ACTUAL materialized size
    // (not the unknown sentinel), so small streaming batches skip the
    // pre-shuffle too
    val cp = ids.localCheckpoint(true)
    assert(cp.queryExecution.optimizedPlan.stats.sizeInBytes < BigInt(8L << 20))
    assert(Dedup.minhashLshPairsFrom(cp, 64, 16, 0.5)
      .as[(Long, Long, Long)].collect().toSet == repartFirst)
  }

  test("simhash hamming 0 for exact dup, small for near dup") {
    val sh = Dedup.simhash(docs, "doc_id", "text")
      .as[(Long, Long)].collect().toMap
    assert(sh(0L) == sh(1L))
    def ham(a: Long, b: Long) = java.lang.Long.bitCount(a ^ b)
    assert(ham(sh(0L), sh(2L)) <= 8)
    assert(ham(sh(0L), sh(3L)) > 8)
  }

  test("brute-force topk is rank-correct on a known geometry") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 1.0f)),
      (3L, Array(-1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.bruteForceTopK(
      vecs.filter($"vec_id" === 0), vecs, "vec_id", "embedding", 3)
      .orderBy($"rank").as[(Long, Int, Long)].collect()
    assert(out.map(_._3).toSeq == Seq(1L, 2L, 3L))
  }

  test("cell-bucketed NN keeps one row per vector (singleton cell → null nn)") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f)),
      (1L, Array(0.0f, 1.0f)), // alone in its cell (centroids = v0, v1)
      (2L, Array(0.9f, 0.1f))
    ).toDF("vec_id", "embedding")
    val out = Similarity.nearestNeighbor(vecs, "vec_id", "embedding", numCells = 2)
      .orderBy($"v_id").collect()
    assert(out.length == 3, "every corpus vector gets a row")
    assert(out(0).getLong(1) == 2L)
    assert(out(1).isNullAt(1), "singleton-cell vector surfaces with null nn")
    assert(out(2).getLong(1) == 0L)
  }

  test("IVF with k-means bootstrap: recall vs brute force, nprobe widens it") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 20)
    val truth = Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 5)
      .as[(Long, Int, Long)].collect().map(r => (r._1, r._3)).toSet
    val cents = Similarity.kmeansCentroids(emb, "vec_id", "embedding", 8, iters = 3)
    assert(cents.count() >= 2, "k-means must keep multiple cells")
    def recall(nprobe: Int): Double = {
      val got = Similarity.ivfTopK(queries, emb, cents, "vec_id", "embedding",
        5, nprobe).as[(Long, Int, Long)].collect().map(r => (r._1, r._3)).toSet
      got.intersect(truth).size.toDouble / truth.size
    }
    val r1 = recall(1)
    val r4 = recall(4)
    assert(r4 >= r1, s"more probes must not lose recall: $r1 -> $r4")
    assert(r4 >= 0.5, s"nprobe=4 recall too low: $r4")
  }

  test("language id picks marker-heavy language with deterministic ties") {
    val d = Seq(
      (0L, "the fast table of the data"), // en markers
      (1L, "el rapido de la tabla"),      // es markers
      (2L, "xyz qqq zzz")                 // none → und
    ).toDF("doc_id", "text")
    val out = TextAnalysis.languageId(d, "doc_id", "text")
      .orderBy($"doc_id").as[(Long, String, Long)].collect()
    assert(out(0)._2 == "en" && out(1)._2 == "es" && out(2)._2 == "und")
  }

  test("multimodal decode stub: schema + deterministic metadata") {
    val media = Multimodal.documentsAsMedia(
      docs.withColumn("n_chars", length($"text")))
    val out = Multimodal.decode(media)
    assert(out.schema == Multimodal.decodedSchema)
    val r = out.filter($"media_id" === 0).collect()(0)
    assert(r.getInt(1) == 320 + 't' % 320 && r.getInt(2) == 240 + 'h' % 240)
    val feats = Multimodal.features(media)
    assert(feats.select(size($"feature")).as[Int].collect().forall(_ == 8))
  }

  test("real JDK codecs: PNG and WAV fixtures round-trip exact metadata") {
    // image: header-only decode of an ImageIO-encoded gradient
    val png = Multimodal.pngFixture(37, 21)
    assert(Multimodal.decodeImage(png).contains((37, 21, "png")))
    // jpeg/bmp/gif go through the same registered-reader path
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(new java.awt.image.BufferedImage(
      12, 9, java.awt.image.BufferedImage.TYPE_INT_RGB), "bmp", bos)
    assert(Multimodal.decodeImage(bos.toByteArray).map(t => (t._1, t._2))
      .contains((12, 9)))
    // audio: WAV header reports frames / rate / channels
    val wav = Multimodal.wavFixture(1234, 8000f)
    assert(Multimodal.decodeAudio(wav).contains((1234L, 8000f, 1)))
    // corrupt payloads degrade to None, never throw
    assert(Multimodal.decodeImage("not an image".getBytes).isEmpty)
    assert(Multimodal.decodeAudio("not audio".getBytes).isEmpty)
    assert(Multimodal.decodeImage(null).isEmpty && Multimodal.decodeAudio(null).isEmpty)

    // dispatch: media_type routes to the right codec; text keeps the stub
    assert(Multimodal.decodeAny(png, "image/png") == (37, 21, 1))
    assert(Multimodal.decodeAny(wav, "audio/wav") == (0, 0, 1234))
    assert(Multimodal.decodeAny("hi".getBytes, "text/plain") ==
      Multimodal.decodeStub("hi".getBytes))
    // corrupt media of a declared real type reports zeros (scan survives)
    assert(Multimodal.decodeAny("junk".getBytes, "image/png") == (0, 0, 0))

    // end-to-end through the batch decode plumbing
    val media = Seq(
      (1L, png, "image/png"),
      (2L, wav, "audio/wav"),
      (3L, "plain".getBytes("UTF-8"), "text/plain"))
      .toDF("media_id", "content", "media_type")
    val out = Multimodal.decode(media).orderBy($"media_id").collect()
    assert(out(0).getInt(1) == 37 && out(0).getInt(2) == 21 && out(0).getInt(3) == 1)
    assert(out(1).getInt(3) == 1234)
    assert(out(1).getLong(4) == wav.length.toLong)
  }

  test("aHash64: real pixel decode matches the closed-form reference") {
    // independent reimplementation straight from the fixture formula
    def refHash(w: Int, h: Int): Long = {
      val bs = new Array[Long](64); val bc = new Array[Long](64)
      for (y <- 0 until h; x <- 0 until w) {
        val v = (x * 31 + y * 17) & 0xffffff
        val gray = ((v >> 16) & 0xff) * 299L + ((v >> 8) & 0xff) * 587L +
          (v & 0xff) * 114L
        val idx = y * 8 / h * 8 + x * 8 / w
        bs(idx) += gray; bc(idx) += 1
      }
      val ts = BigInt(bs.sum); val tc = BigInt(w.toLong * h)
      (0 until 64).foldLeft(0L) { (acc, i) =>
        if (BigInt(bs(i)) * tc > ts * BigInt(bc(i))) acc | (1L << i) else acc
      }
    }
    for ((w, h) <- Seq((8, 8), (31, 23), (17, 9)))
      assert(Multimodal.aHash64(Multimodal.pngFixture(w, h))
        .contains(refHash(w, h)), s"($w,$h)")
    // container-invariance: identical pixels re-encoded as BMP hash the same
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(Multimodal.pngFixture(16, 12)))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "bmp", bos)
    assert(Multimodal.aHash64(bos.toByteArray) ==
      Multimodal.aHash64(Multimodal.pngFixture(16, 12)))
    // an inverted gradient is perceptually far
    val inv = new java.awt.image.BufferedImage(16, 12,
      java.awt.image.BufferedImage.TYPE_INT_RGB)
    for (y <- 0 until 12; x <- 0 until 16)
      inv.setRGB(x, y, 0xffffff - ((x * 31 + y * 17) & 0xffffff))
    val bos2 = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(inv, "png", bos2)
    val d = java.lang.Long.bitCount(
      Multimodal.aHash64(bos2.toByteArray).get ^
        Multimodal.aHash64(Multimodal.pngFixture(16, 12)).get)
    assert(d > 16, s"inverted image should be far, hamming $d")
    // degenerate payloads yield None, never throw
    assert(Multimodal.aHash64(Multimodal.pngFixture(7, 12)).isEmpty, "sub-grid")
    assert(Multimodal.aHash64("not an image".getBytes).isEmpty)
    assert(Multimodal.aHash64(null).isEmpty)
    assert(Multimodal.aHash64(Array.emptyByteArray).isEmpty)
  }

  test("phashNearDup returns exactly the brute-force Hamming pairs") {
    // corpus: two exact perceptual dups (same gradient, different
    // container), a lightly perturbed copy, and unrelated sizes
    val base = Multimodal.pngFixture(24, 16)
    val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(base))
    val bos = new java.io.ByteArrayOutputStream()
    javax.imageio.ImageIO.write(img, "bmp", bos)
    val dup = bos.toByteArray
    val pert = {
      // whiten a 2×2 patch: brightens block (0,0) decisively while
      // barely moving the global mean, so few OTHER bits flip (aHash
      // bits are mean-relative — a large bright patch would shift every
      // block's comparison)
      val p = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(base))
      for (y <- 0 until 2; x <- 0 until 2) p.setRGB(x, y, 0xffffff)
      val b2 = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(p, "png", b2); b2.toByteArray
    }
    val corpus = Seq(
      (1L, base), (2L, dup), (3L, pert),
      (4L, Multimodal.pngFixture(30, 20)), (5L, Multimodal.pngFixture(9, 21)),
      (6L, "corrupt".getBytes)) // undecodable rows are skipped, not fatal
    val media = corpus.toDF("media_id", "content")
    val hashes = corpus.flatMap { case (id, b) =>
      Multimodal.aHash64(b).map(id -> _) }.toMap
    def brute(t: Int) = (for {
      (a, ha) <- hashes.toSeq; (b, hb) <- hashes.toSeq if a < b
      d = java.lang.Long.bitCount(ha ^ hb) if d <= t
    } yield (a, b, d.toLong)).toSet
    for (t <- Seq(0, 2, 6)) {
      val got = Multimodal.phashNearDup(media, maxHamming = t)
        .as[(Long, Long, Long)].collect().toSet
      assert(got == brute(t), s"t=$t: got $got expected ${brute(t)}")
    }
    // the exact-dup pair is present at t=0; the perturbed copy sits at a
    // small positive distance
    assert(brute(0).map(p => (p._1, p._2)) == Set((1L, 2L)))
    // the linear-gradient fixture puts every block mean CLOSE to the
    // global mean, so even a tiny mean shift flips several borderline
    // bits — the perturbed copy lands at a middling distance on this
    // worst-case image, while still well under the ~32 expected of an
    // unrelated image (cf. the inverted-gradient assertion above)
    val d13 = java.lang.Long.bitCount(hashes(1L) ^ hashes(3L))
    assert(d13 > 0 && d13 < 20,
      s"perturbed copy should be nearer than unrelated, got $d13")
    intercept[IllegalArgumentException](Multimodal.phashNearDup(media, 16))
  }

  test("dHash64: closed-form reference; neighbor-local bits resist gradients") {
    def refHash(w: Int, h: Int): Long = {
      val bs = Array.ofDim[Long](8, 9); val bc = Array.ofDim[Long](8, 9)
      for (y <- 0 until h; x <- 0 until w) {
        val v = (x * 31 + y * 17) & 0xffffff
        val gray = ((v >> 16) & 0xff) * 299L + ((v >> 8) & 0xff) * 587L +
          (v & 0xff) * 114L
        bs(y * 8 / h)(x * 9 / w) += gray; bc(y * 8 / h)(x * 9 / w) += 1
      }
      var hash = 0L
      for (rj <- 0 until 8; ci <- 0 until 8)
        if (BigInt(bs(rj)(ci)) * BigInt(bc(rj)(ci + 1)) >
            BigInt(bs(rj)(ci + 1)) * BigInt(bc(rj)(ci)))
          hash |= 1L << (rj * 8 + ci)
      hash
    }
    for ((w, h) <- Seq((9, 8), (31, 23), (24, 16)))
      assert(Multimodal.dHash64(Multimodal.pngFixture(w, h))
        .contains(refHash(w, h)), s"($w,$h)")
    // the aHash spec showed a 2x2 whitened patch flips ~10 mean-relative
    // bits on this gradient; dHash's neighbor comparisons localize the
    // damage to the touched blocks
    val base = Multimodal.pngFixture(27, 16)
    val pert = {
      val p = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(base))
      for (y <- 0 until 2; x <- 0 until 2) p.setRGB(x, y, 0xffffff)
      val b2 = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(p, "png", b2); b2.toByteArray
    }
    val dD = java.lang.Long.bitCount(
      Multimodal.dHash64(base).get ^ Multimodal.dHash64(pert).get)
    assert(dD > 0 && dD <= 4, s"dHash damage should stay local, got $dD")
    // width-9 minimum: an 8-wide image cannot fill the 9-column grid
    assert(Multimodal.dHash64(Multimodal.pngFixture(8, 16)).isEmpty)
    assert(Multimodal.dHash64("not an image".getBytes).isEmpty)
    assert(Multimodal.dHash64(null).isEmpty)
  }

  test("audioHash64: real PCM decode matches the closed-form reference") {
    def refHash(n: Int): Long = {
      val ws = new Array[Long](64); val wc = new Array[Long](64)
      for (i <- 0 until n) {
        val m = (i * 7) % 256
        val amp = if (m < 128) m.toLong else 256L - m
        val w = i * 64 / n
        ws(w) += amp; wc(w) += 1
      }
      val ts = BigInt(ws.sum); val tc = BigInt(n)
      (0 until 64).foldLeft(0L) { (acc, i) =>
        if (BigInt(ws(i)) * tc > ts * BigInt(wc(i))) acc | (1L << i) else acc
      }
    }
    for (n <- Seq(64, 100, 999))
      assert(Multimodal.audioHash64(Multimodal.wavFixture(n))
        .contains(refHash(n)), s"n=$n")
    // 16-bit signed stereo goes through the same window fold: a DC-offset
    // alternating pattern has all windows equal → no bit strictly above
    // the mean → hash 0 (deterministic, format-specific path exercised)
    val fmt16 = new javax.sound.sampled.AudioFormat(8000f, 16, 2, true, false)
    val pcm16 = Array.tabulate[Byte](256 * 4)(i => if (i % 2 == 0) 1 else 0)
    val ais = new javax.sound.sampled.AudioInputStream(
      new java.io.ByteArrayInputStream(pcm16), fmt16, 256L)
    val bos = new java.io.ByteArrayOutputStream()
    javax.sound.sampled.AudioSystem.write(ais,
      javax.sound.sampled.AudioFileFormat.Type.WAVE, bos)
    assert(Multimodal.audioHash64(bos.toByteArray).contains(0L))
    // degenerate payloads yield None, never throw
    assert(Multimodal.audioHash64(Multimodal.wavFixture(63)).isEmpty, "short")
    assert(Multimodal.audioHash64("not audio".getBytes).isEmpty)
    assert(Multimodal.audioHash64(null).isEmpty)
    // hashNearDup generalizes: audio fingerprints feed the same banded
    // join; the repeated fixture is found at Hamming 0
    val media = Seq(
      (1L, Multimodal.wavFixture(500)), (2L, Multimodal.wavFixture(500)),
      (3L, Multimodal.wavFixture(730))).toDF("media_id", "content")
    val pairs = Multimodal.hashNearDup(Multimodal.audioHash(media), 0)
      .as[(Long, Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L, 0L)))
    assert(!pairs.exists(p => p._2 == 3L && p._3 == 0L && p._1 == 1L) ||
      Multimodal.audioHash64(Multimodal.wavFixture(730)) ==
        Multimodal.audioHash64(Multimodal.wavFixture(500)))
  }

  test("minhash banding rejects a numHashes/bands remainder") {
    val ex = intercept[IllegalArgumentException](
      Dedup.minhashLshPairs(docs, "doc_id", "text", 3, 64, 12, 0.5))
    assert(ex.getMessage.contains("divide"))
  }

  test("large-star/small-star components match min-label components") {
    // chain, separate pair, triangle-ish merge, and a deep path that
    // exercises multiple contraction rounds
    val pairs = (Seq((1L, 2L), (2L, 3L), (10L, 11L), (5L, 3L)) ++
      (100L until 120L).map(i => (i, i + 1)))
      .toDF("doc_a", "doc_b")
    val a = Dedup.componentsMinLabel(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val b = Dedup.componentsStars(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(a == b, s"star contraction diverged: ${b.diff(a)} vs ${a.diff(b)}")
    assert(b.contains((120L, 100L)), "deep chain must collapse to its min")
  }

  test("connected components + survivors over near-dup pairs") {
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L), (5L, 3L))
      .toDF("doc_a", "doc_b")
    val comps = Dedup.components(pairs).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    // chain 1-2-3-5 collapses to label 1; 10-11 to 10
    assert(comps == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L))
    val surv = Dedup.survivors(Dedup.components(pairs)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(surv == Set((1L, 1L, 4L), (10L, 10L, 2L)))
    // deduped corpus keeps survivors + unclustered docs
    val corpus = Seq(1L, 2L, 3L, 5L, 10L, 11L, 99L).toDF("doc_id")
    val kept = Dedup.dedupedCorpus(corpus, "doc_id", Dedup.components(pairs))
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(1L, 10L, 99L))
  }

  test("multimodal resize and frame-sample: batch plumbing with typed schemas") {
    val media = Multimodal.documentsAsMedia(docs)
    val resized = Multimodal.resize(media, 64, 64)
    assert(resized.schema == Multimodal.resizedSchema)
    val rr = resized.filter($"media_id" === 0).collect()(0)
    assert(rr.getInt(2) == 64 && rr.getInt(3) == 64)
    assert(rr.getAs[Array[Byte]](1).length == 64 * 64 / 64)

    val frames = Multimodal.frameSample(media, everyN = 2)
    assert(frames.schema == Multimodal.frameSchema)
    // frame count tracks the decode stub: ceil(n_frames / 2) rows per doc
    val counts = frames.groupBy($"media_id").count()
    val decoded = Multimodal.decode(media).select($"media_id", $"n_frames")
    val joined = counts.join(decoded, "media_id")
      .select($"count", ceil($"n_frames" / 2.0).cast("long").as("expect"))
      .collect()
    assert(joined.forall(r => r.getLong(0) == r.getLong(1)))
    // frame indices are the kept every-2nd positions
    val idxs = frames.filter($"media_id" === 0).select($"frame_idx")
      .as[Int].collect().sorted
    assert(idxs.headOption.contains(0) && idxs.forall(_ % 2 == 0))
  }

  test("deterministic sampling: reproducible membership, salt independence, strict caps") {
    import org.apache.spark.sql.functions.col
    val corpus = (1L to 200L).map(i =>
      (i, if (i % 4 == 0) "de" else "en")).toDF("doc_id", "lang")
    // same salt → identical membership across evaluations
    val a = Sampling.hashSample(corpus, "doc_id", 0.3).select($"doc_id")
      .as[Long].collect().sorted.toSeq
    val b = Sampling.hashSample(corpus, "doc_id", 0.3).select($"doc_id")
      .as[Long].collect().sorted.toSeq
    assert(a == b && a.nonEmpty && a.size < 200)
    // roughly the requested fraction (hash-uniformity, wide tolerance)
    assert(a.size > 200 * 0.15 && a.size < 200 * 0.45, s"got ${a.size}/200")
    // a different salt draws a different (but equally reproducible) sample
    val c = Sampling.hashSample(corpus, "doc_id", 0.3, salt = "other")
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(c != a)
    // fraction edges
    assert(Sampling.hashSample(corpus, "doc_id", 0.0).count() == 0)
    assert(Sampling.hashSample(corpus, "doc_id", 1.0).count() == 200)

    // weight-proportional thinning: weight 0 → never kept, weight ≥ 1 →
    // always kept, and a per-row weight reproduces hashSample when every
    // row shares the fraction (same arithmetic, different salt)
    val weighted = corpus.withColumn("w",
      when($"doc_id" <= 50L, 0.0).when($"doc_id" <= 100L, 1.0)
        .otherwise(0.3))
    val kept = Sampling.weightedSample(weighted, "doc_id", $"w")
      .select($"doc_id").as[Long].collect().toSet
    assert(kept.intersect((1L to 50L).toSet).isEmpty, "weight 0 must drop")
    assert((51L to 100L).forall(kept), "weight 1 must keep")
    val partial = kept.count(_ > 100L)
    assert(partial > 0 && partial < 100, s"got $partial of 100 at w=0.3")
    val uniform = Sampling.weightedSample(corpus, "doc_id", lit(0.3),
      salt = "graft").select($"doc_id").as[Long].collect().sorted.toSeq
    assert(uniform == a, "constant weight = hashSample under the same salt")

    // stratified cap: every stratum bounded by k, deterministic picks
    val capped = Sampling.stratifiedCap(corpus, "lang", "doc_id", k = 20)
    val sizes = capped.groupBy($"lang").count().collect()
      .map(r => (r.getString(0), r.getLong(1))).toMap
    assert(sizes("en") == 20 && sizes("de") == 20)
    val again = Sampling.stratifiedCap(corpus, "lang", "doc_id", k = 20)
      .select($"doc_id").as[Long].collect().sorted.toSeq
    assert(again == capped.select($"doc_id").as[Long].collect().sorted.toSeq)
    // a stratum smaller than k survives whole
    val tiny = Sampling.stratifiedCap(corpus.filter(col("doc_id") <= 10),
      "lang", "doc_id", k = 20)
    assert(tiny.count() == 10)
  }

  test("curation verdicts: policy order, survivor election, curated corpus") {
    val corpus = Seq(
      (0L, "the quick brown fox jumps over the lazy dog today"),
      (1L, "the quick brown fox jumps over the lazy dog today"), // duplicate of 0
      (2L, "short the text"),                                    // too short (3 toks)
      (3L, "le chat est sur la table et le chien aussi oui"),    // not English
      (4L, "the a an of to and in is it on the a an of"),        // all stopwords
      (5L, null.asInstanceOf[String]),                           // null text
      (6L, "   ")                                                // blank text
    ).toDF("doc_id", "text")
    val v = Curation.curate(corpus, "doc_id", "text")
      .orderBy($"doc_id").collect()
    // EVERY input doc gets a verdict — null/blank text must not vanish
    assert(v.length == 7)
    def reason(i: Int) = Option(v(i).getAs[String]("reject_reason"))
    assert(v(0).getAs[Boolean]("keep") && reason(0).isEmpty)
    // duplicate outranks every later check (policy order)
    assert(reason(1).contains("duplicate") && v(1).getAs[Boolean]("is_survivor") == false)
    assert(reason(2).contains("too_short"))
    assert(reason(3).contains("language"))
    assert(reason(4).contains("low_quality"))
    assert(reason(5).contains("empty") && reason(6).contains("empty"))
    // curated corpus keeps exactly the kept docs, with their text
    val kept = Curation.curatedCorpus(corpus, "doc_id", "text")
    assert(kept.select($"doc_id").as[Long].collect().toSeq == Seq(0L))
    assert(kept.columns.contains("text"))
    // blocklist slots into policy order after 'empty', before 'duplicate'
    val vb = Curation.curate(corpus, "doc_id", "text",
        blocklist = Seq("brown fox"))
      .orderBy($"doc_id").collect()
    assert(Option(vb(0).getAs[String]("reject_reason")).contains("blocklisted"))
    assert(Option(vb(1).getAs[String]("reject_reason")).contains("blocklisted"),
      "blocklist outranks the duplicate verdict")
    assert(Option(vb(5).getAs[String]("reject_reason")).contains("empty"),
      "empty still outranks blocklist (null text cannot match)")
  }

  test("repetition stats: top-token and duplicate-bigram saturation") {
    val corpus = Seq(
      (0L, "spam spam spam spam"),          // one token saturates: 10000
      (1L, "a b a b a b"),                  // bigrams: a b ×3, b a ×2 → 3/5 dup
      (2L, "all words here are unique"),    // no repetition at all
      (3L, "solo")                          // single token: no bigrams → 0
    ).toDF("doc_id", "text")
    val r = TextAnalysis.repetitionStats(corpus, "doc_id", "text")
      .orderBy($"doc_id").collect()
    assert(r(0).getAs[Long]("top_token_ratio_4") == 10000L)
    assert(r(0).getAs[Long]("dup_bigram_ratio_4") == 6667L) // (3-1)/3
    assert(r(1).getAs[Long]("n_tokens") == 6L)
    assert(r(1).getAs[Long]("top_token_ratio_4") == 5000L)
    assert(r(1).getAs[Long]("dup_bigram_ratio_4") == 6000L) // (5-2)/5
    assert(r(2).getAs[Long]("top_token_ratio_4") == 2000L)
    assert(r(2).getAs[Long]("dup_bigram_ratio_4") == 0L)
    assert(r(3).getAs[Long]("n_tokens") == 1L)
    assert(r(3).getAs[Long]("dup_bigram_ratio_4") == 0L)
  }

  test("keyword extraction ranks by tf desc, corpus df asc, token asc") {
    val corpus = Seq(
      (0L, "spark spark spark query engine"),
      (1L, "query query planner"),
      (2L, "the planner and the engine")   // stopwords excluded
    ).toDF("doc_id", "text")
    val r = TextAnalysis.topKeywords(corpus, "doc_id", "text", k = 2)
      .orderBy($"doc_id", $"rank").collect()
    // doc 0: spark tf=3; query and engine tie at tf=1 — engine df=2 ties
    // query df=2, token asc picks engine
    assert(r(0).getAs[String]("token") == "spark" && r(0).getAs[Long]("tf") == 3L)
    assert(r(1).getAs[String]("token") == "engine")
    // doc 1: query tf=2 wins; planner second
    assert(r(2).getAs[String]("token") == "query")
    assert(r(3).getAs[String]("token") == "planner")
    // doc 2: stopwords dropped; planner/engine both tf=1 df=2 → token asc
    assert(r(4).getAs[String]("token") == "engine")
    assert(r(5).getAs[String]("token") == "planner")
  }

  test("redaction rewrites rule matches and counts them per rule") {
    val corpus = Seq(
      (0L, "mail bob@example.com or call +1 555 123 4567 now"),
      (1L, "server at 10.0.0.1 port 8080"),
      (2L, "nothing sensitive here")
    ).toDF("doc_id", "text")
    val out = Redaction.redact(corpus, "doc_id", "text", Redaction.CommonPii)
      .orderBy($"doc_id").collect()
    val r0 = out(0).getAs[String]("redacted")
    assert(r0.contains("[EMAIL]") && !r0.contains("bob@"))
    assert(r0.contains("[PHONE]") && !r0.contains("555"))
    assert(out(0).getAs[Long]("n_email") == 1L)
    assert(out(0).getAs[Long]("n_phone") == 1L)
    val r1 = out(1).getAs[String]("redacted")
    assert(r1.contains("[IP]") && !r1.contains("10.0.0.1"))
    assert(r1.contains("[NUM]") && !r1.contains("8080"))
    assert(out(1).getAs[Long]("n_ipv4") == 1L)
    // counts are against the ORIGINAL text: the IP's digits count as
    // number matches even though the IP rule rewrites them first
    assert(out(1).getAs[Long]("n_number") == 5L)
    assert(out(2).getAs[String]("redacted") == "nothing sensitive here")
    assert(out(2).getAs[Long]("n_email") == 0L)
  }

  test("waterfill rates: saturation redistributes, no rate exceeds 1") {
    // a:100 b:1000 c:1000 tokens, equal weights, budget 900 → a's target
    // (300) saturates it; the shortfall redistributes to b and c (400 each)
    val r = Mixing.waterfillRates(
      Map("a" -> 100L, "b" -> 1000L, "c" -> 1000L),
      Map("a" -> 1.0, "b" -> 1.0, "c" -> 1.0), budget = 900L)
    assert(r("a") == 1.0, s"saturated source samples fully: $r")
    assert(r("b") == 0.4 && r("c") == 0.4, s"redistributed: $r")
    // zero-weight / absent sources are dropped entirely
    val r2 = Mixing.waterfillRates(
      Map("a" -> 100L, "b" -> 100L), Map("a" -> 1.0), budget = 50L)
    assert(r2.get("b").isEmpty && r2("a") == 0.5)
    // budget above total availability: everything saturates
    val r3 = Mixing.waterfillRates(
      Map("a" -> 10L, "b" -> 10L), Map("a" -> 1.0, "b" -> 9.0), budget = 100L)
    assert(r3 == Map("a" -> 1.0, "b" -> 1.0))
  }

  test("mix: deterministic membership, excluded sources dropped") {
    val sized = docs
      .withColumn("source", when(col("doc_id") < 2, "keepA")
        .when(col("doc_id") < 4, "keepB").otherwise("dropped"))
      .withColumn("tok", length(col("text")).cast("long"))
    val weights = Map("keepA" -> 1.0, "keepB" -> 1.0)
    val out = Mixing.mix(sized, "doc_id", "tok", "source", weights,
      budget = 1000L)
    // budget exceeds availability → both kept sources fully sampled
    assert(out.select("doc_id").as[Long].collect().toSet == Set(0L, 1L, 2L, 3L))
    // identical rerun → identical membership (pure function of id+salt)
    val again = Mixing.mix(sized, "doc_id", "tok", "source", weights, 1000L)
    assert(again.select("doc_id").as[Long].collect().toSet ==
      out.select("doc_id").as[Long].collect().toSet)
  }

  test("int8 quantization: bounded codes, small roundtrip error, zero-safe") {
    val vecs = Seq(
      (1L, Array(0.5f, -1.0f, 0.25f)),
      (2L, Array(0.0f, 0.0f, 0.0f)),
      (3L, Array(3.0f))
    ).toDF("vec_id", "embedding")
    val q = Similarity.quantizeInt8(vecs, "vec_id", "embedding")
    val rows = q.orderBy("vec_id").collect()
    val c1 = rows(0).getSeq[Byte](2)
    assert(c1 == Seq[Byte](64, -127, 32), s"codes $c1") // round(.5*127)=64
    assert(rows(1).getDouble(1) == 0.0 && rows(1).getSeq[Byte](2) == Seq[Byte](0, 0, 0),
      "zero vector: scale 0, zero code")
    assert(rows(2).getSeq[Byte](2) == Seq[Byte](127))
    // dequantized values land within half a quantization step
    val back = q.select(col("vec_id"),
        Similarity.dequantizeInt8(col("q_vec"), col("q_scale")).as("d"))
      .filter(col("vec_id") === 1L).collect()(0).getSeq[Double](1)
    Seq(0.5, -1.0, 0.25).zip(back).foreach { case (x, y) =>
      assert(math.abs(x - y) <= 1.0 / 254 + 1e-9, s"$x vs $y")
    }
  }

  test("IVF at rest: partitioned index, dynamic pruning, parity with in-memory") {
    // 40 vectors around 4 well-separated anchors; anchors double as
    // centroids, so every cell has 10 members
    def vec(cx: Double, cy: Double, i: Int): Array[Float] =
      Array((cx + 0.01 * i).toFloat, (cy - 0.01 * i).toFloat)
    val anchors = Seq((10.0, 0.0), (0.0, 10.0), (-10.0, 0.0), (0.0, -10.0))
    val corpus = (0 until 40).map { i =>
      val (cx, cy) = anchors(i % 4); (i.toLong, vec(cx, cy, i / 4))
    }.toDF("vec_id", "embedding")
    val centroids = anchors.zipWithIndex.map { case ((cx, cy), i) =>
      (i.toLong, Array(cx.toFloat, cy.toFloat)) }.toDF("cell_id", "cell_vec")
    val queries = corpus.filter(col("vec_id") < 4)

    val dir = java.nio.file.Files.createTempDirectory("graft-ivf").toString
    Similarity.writeIvfIndex(corpus, centroids, "vec_id", "embedding", dir)
    // one directory per cell at rest
    val cellDirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("cell_id=")).map(_.getName).sorted
    assert(cellDirs.toSeq == Seq("cell_id=0", "cell_id=1", "cell_id=2", "cell_id=3"))

    val index = spark.read.parquet(dir)
    val atRest = Similarity.ivfTopKIndexed(index, queries, centroids,
      "vec_id", "embedding", k = 3)
    // the probe join must plan as a dynamic partition-pruning scan: only
    // the probed cells' directories are read at 100 TB
    val plan = atRest.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected dynamic partition pruning on cell_id:\n$plan")
    // parity with the in-memory formulation
    val inMem = Similarity.ivfTopK(queries, corpus, centroids,
      "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val got = atRest.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == inMem, s"at-rest != in-memory: $got vs $inMem")
  }

  test("IVF incremental append: new vectors land in their cells, parity holds") {
    def vec(cx: Double, cy: Double, i: Int): Array[Float] =
      Array((cx + 0.01 * i).toFloat, (cy - 0.01 * i).toFloat)
    val anchors = Seq((10.0, 0.0), (0.0, 10.0), (-10.0, 0.0), (0.0, -10.0))
    val all = (0 until 40).map { i =>
      val (cx, cy) = anchors(i % 4); (i.toLong, vec(cx, cy, i / 4))
    }.toDF("vec_id", "embedding")
    val centroids = anchors.zipWithIndex.map { case ((cx, cy), i) =>
      (i.toLong, Array(cx.toFloat, cy.toFloat)) }.toDF("cell_id", "cell_vec")
    val initial = all.filter(col("vec_id") < 20)
    val late = all.filter(col("vec_id") >= 20)
    val queries = all.filter(col("vec_id") < 4)

    val dir = java.nio.file.Files.createTempDirectory("graft-ivf-inc").toString
    Similarity.writeIvfIndex(initial, centroids, "vec_id", "embedding", dir)
    Similarity.appendToIvfIndex(late, centroids, "vec_id", "embedding", dir)
    val index = spark.read.parquet(dir)
    assert(index.count() == 40, "all vectors indexed after append")
    // appended vectors sit in their assigned cell directories
    // (partition-column discovery infers cell_id as int — cast for the read)
    assert(index.filter(col("vec_id") === 20L)
      .select(col("cell_id").cast("long")).collect()(0).getLong(0) == 0L)
    // search over the grown index matches a fresh full-corpus pass
    val got = Similarity.ivfTopKIndexed(index, queries, centroids,
      "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val full = Similarity.ivfTopK(queries, all, centroids,
      "vec_id", "embedding", k = 3)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == full, s"incremental index diverged: $got vs $full")
  }

  test("at-rest IVF+PQ index: cell dirs, dynamic pruning, in-memory parity") {
    def vec(cx: Double, cy: Double, i: Int): Array[Float] = {
      // 8-dim so PQ splits into m=4 subspaces of 2; anchor signal in the
      // leading pair, a deterministic per-vector residue in the rest
      val base = Array((cx + 0.01 * i).toFloat, (cy - 0.01 * i).toFloat)
      base ++ (0 until 6).map(j => ((i * 7 + j * 3) % 11 * 0.1).toFloat)
    }
    val anchors = Seq((10.0, 0.0), (0.0, 10.0), (-10.0, 0.0), (0.0, -10.0))
    val corpus = (0 until 40).map { i =>
      val (cx, cy) = anchors(i % 4); (i.toLong, vec(cx, cy, i / 4))
    }.toDF("vec_id", "embedding")
    val centroids = anchors.zipWithIndex.map { case ((cx, cy), i) =>
      (i.toLong, Array(cx.toFloat, cy.toFloat) ++ Array.fill(6)(0.0f))
    }.toDF("cell_id", "cell_vec")
    val queries = corpus.filter(col("vec_id") < 4)
    val cb = Similarity.pqCodebook(corpus, "vec_id", "embedding",
      dim = 8, m = 4, size = 16)

    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq").toString
    Similarity.writeIvfPqIndex(corpus, centroids, cb, "vec_id", "embedding",
      dir, dim = 8, m = 4)
    val cellDirs = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("cell_id=")).map(_.getName).sorted
    assert(cellDirs.toSeq == Seq("cell_id=0", "cell_id=1", "cell_id=2", "cell_id=3"))

    val index = spark.read.parquet(dir)
    val atRest = Similarity.ivfpqTopKIndexed(index, queries, corpus,
      centroids, cb, "vec_id", "embedding", k = 3, dim = 8, m = 4,
      nprobe = 2, rerank = 4)
    val plan = atRest.queryExecution.executedPlan.toString
    assert(plan.contains("dynamicpruning"),
      s"expected dynamic partition pruning on cell_id:\n$plan")
    val inMem = Similarity.ivfpqTopK(queries, corpus, centroids, cb,
      "vec_id", "embedding", k = 3, dim = 8, m = 4, nprobe = 2, rerank = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val got = atRest.collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == inMem, s"at-rest != in-memory: $got vs $inMem")
    // with well-separated anchors the exact re-rank pins each query's
    // same-cell neighbors first — sanity that PQ+rerank finds them
    assert(got.nonEmpty && got.forall { case (q, _, n) => q % 4 == n % 4 },
      s"neighbors must come from the query's own anchor family: $got")
  }

  test("IVF+PQ incremental append: codes land per cell, search parity holds") {
    def vec(cx: Double, cy: Double, i: Int): Array[Float] = {
      val base = Array((cx + 0.01 * i).toFloat, (cy - 0.01 * i).toFloat)
      base ++ (0 until 6).map(j => ((i * 7 + j * 3) % 11 * 0.1).toFloat)
    }
    val anchors = Seq((10.0, 0.0), (0.0, 10.0), (-10.0, 0.0), (0.0, -10.0))
    val all = (0 until 40).map { i =>
      val (cx, cy) = anchors(i % 4); (i.toLong, vec(cx, cy, i / 4))
    }.toDF("vec_id", "embedding")
    val centroids = anchors.zipWithIndex.map { case ((cx, cy), i) =>
      (i.toLong, Array(cx.toFloat, cy.toFloat) ++ Array.fill(6)(0.0f))
    }.toDF("cell_id", "cell_vec")
    val queries = all.filter(col("vec_id") < 4)
    // quantizers frozen on the INITIAL corpus only — the append contract
    val initial = all.filter(col("vec_id") < 20)
    val late = all.filter(col("vec_id") >= 20)
    val cb = Similarity.pqCodebook(initial, "vec_id", "embedding",
      dim = 8, m = 4, size = 16)
    val dir = java.nio.file.Files.createTempDirectory("graft-ivfpq-inc").toString
    Similarity.writeIvfPqIndex(initial, centroids, cb, "vec_id", "embedding",
      dir, dim = 8, m = 4)
    Similarity.appendToIvfPqIndex(late, centroids, cb, "vec_id", "embedding",
      dir, dim = 8, m = 4)
    val index = spark.read.parquet(dir)
    assert(index.count() == 40, "all codes indexed after append")
    assert(index.filter(col("vec_id") === 20L)
      .select(col("cell_id").cast("long")).collect()(0).getLong(0) == 0L,
      "appended codes sit in their assigned cell directory")
    val got = Similarity.ivfpqTopKIndexed(index, queries, all, centroids,
      cb, "vec_id", "embedding", k = 3, dim = 8, m = 4, nprobe = 2,
      rerank = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    // a fresh full-corpus index with the SAME frozen quantizers
    val dir2 = java.nio.file.Files.createTempDirectory("graft-ivfpq-full").toString
    Similarity.writeIvfPqIndex(all, centroids, cb, "vec_id", "embedding",
      dir2, dim = 8, m = 4)
    val full = Similarity.ivfpqTopKIndexed(spark.read.parquet(dir2), queries,
      all, centroids, cb, "vec_id", "embedding", k = 3, dim = 8, m = 4,
      nprobe = 2, rerank = 4)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(got == full, s"appended index diverged: $got vs $full")
  }

  test("unigramLmScore: hand-computed integer-log2 familiarity") {
    // dfs: a→2 b→2 c→1 d→1; ilog2: a,b→1, c,d→0
    val fx = Seq((0L, "a a b"), (1L, "a c"), (2L, "b b d"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.unigramLmScore(fx, "doc_id", "text").collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2)))).toMap
    assert(got == Map(
      0L -> ((3L, 1000L)),  // (1+1+1)*1000 div 3
      1L -> ((2L, 500L)),   // (1+0)*1000 div 2
      2L -> ((3L, 666L))),  // (1+1+0)*1000 div 3
      s"got $got")
  }

  test("streaming dedup: first occurrence wins across micro-batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import StreamingDedup.Doc
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Doc]
    val q = StreamingDedup.dedupStream(input.toDS())
      .writeStream.format("memory").queryName("sdedup")
      .outputMode("append").start()
    try {
      // batch 1: two copies of X (min id 1 wins), one Y
      input.addData(Doc(3L, "copy of X"), Doc(1L, "copy of X"), Doc(2L, "doc Y"))
      q.processAllAvailable()
      // batch 2: a late copy of X (dropped) and a new Z (emitted)
      input.addData(Doc(4L, "copy of X"), Doc(5L, "doc Z"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("sdedup").as[(Long, String)].collect().toSet
    assert(got == Set((1L, "copy of X"), (2L, "doc Y"), (5L, "doc Z")),
      s"got $got")
    // parity with the batch pass: same survivor rule as Dedup.exact
    val batch = Dedup.exact(
      Seq((3L, "copy of X"), (1L, "copy of X"), (2L, "doc Y"),
        (4L, "copy of X"), (5L, "doc Z")).toDF("doc_id", "text"),
      "doc_id", "text")
      .select("survivor_id").as[Long].collect().toSet
    assert(batch == got.map(_._1))
  }

  test("streaming near-dup dedup: incremental LSH matches the batch any-seen rule") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import StreamingDedup.Doc
    implicit val sqlCtx = spark.sqlContext
    // id order = arrival order, so stream output must equal the batch rule
    // "keep docs never appearing as doc_b in minhashLshPairs".
    val corpus = Seq(
      Doc(0L, "the quick brown fox jumps over the lazy dog today"),
      Doc(1L, "the quick brown fox jumps over the lazy dog today"), // dup of 0
      Doc(2L, "completely different words about spark and scala engines"),
      // later batches: near-dup of 0 (cross-batch drop), dup of 2
      // (cross-batch drop), and a fresh doc (kept)
      Doc(3L, "the quick brown fox jumps over the lazy cat today"),
      Doc(4L, "completely different words about spark and scala engines"),
      Doc(5L, "unrelated text mentioning neither animals nor engines at all"))
    val tmp = java.nio.file.Files.createTempDirectory("sndd").toString
    val input = MemoryStream[Doc]
    val q = StreamingNearDedup.foreachBatchSink(
      input.toDS(), s"$tmp/state", s"$tmp/out").start()
    try {
      input.addData(corpus(0), corpus(1), corpus(2))
      q.processAllAvailable()
      input.addData(corpus(3), corpus(4))
      q.processAllAvailable()
      input.addData(corpus(5))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(s"$tmp/out")
      .select("doc_id").as[Long].collect().toSet
    val full = corpus.map(d => (d.docId, d.text)).toDF("doc_id", "text")
    val dropped = Dedup.minhashLshPairs(full, "doc_id", "text", 3, 64, 16, 0.5)
      .select("doc_b").as[Long].collect().toSet
    val expected = corpus.map(_.docId).toSet -- dropped
    assert(got == expected, s"stream $got vs batch-rule $expected")
    assert(got == Set(0L, 2L, 5L), s"got $got")
    // the bounded fold (the q_stream_neardedup gate shape) agrees too
    val folded = StreamingNearDedup.nearDedupBatches(full, "doc_id", "text", 3)
      .as[Long].collect().toSet
    assert(folded == expected, s"fold $folded vs $expected")
    // exactly-once: replaying a committed batch id is a no-op — no
    // duplicated survivors, no doubled index rows
    val sigRows = spark.read.parquet(s"$tmp/state/sigs").count()
    StreamingNearDedup.processBatch(
      Seq((corpus(5).docId, corpus(5).text)).toDF("doc_id", "text"),
      batchId = 2, s"$tmp/state", s"$tmp/out")
    assert(spark.read.parquet(s"$tmp/out")
      .select("doc_id").as[Long].collect().toSet == got, "no replay dupes")
    assert(spark.read.parquet(s"$tmp/state/sigs").count() == sigRows,
      "replay must not grow the index")
  }

  test("wave-sliced streaming near-dup probe drains identically to the monolith") {
    // the per-increment candidate probe in W sequential band groups must
    // drop exactly the docs the single-join plan drops — drain the SAME
    // feed through both wave counts and compare survivors end-to-end
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import StreamingDedup.Doc
    implicit val sqlCtx = spark.sqlContext
    val corpus = Seq(
      Doc(0L, "the quick brown fox jumps over the lazy dog today"),
      Doc(1L, "the quick brown fox jumps over the lazy dog today"),
      Doc(2L, "completely different words about spark and scala engines"),
      Doc(3L, "the quick brown fox jumps over the lazy cat today"),
      Doc(4L, "completely different words about spark and scala engines"),
      Doc(5L, "unrelated text mentioning neither animals nor engines at all"))
    def drain(p: StreamingNearDedup.Params): Set[Long] = {
      val tmp = java.nio.file.Files.createTempDirectory("sndw").toString
      val input = MemoryStream[Doc]
      val q = StreamingNearDedup.foreachBatchSink(
        input.toDS(), s"$tmp/state", s"$tmp/out", p).start()
      try {
        input.addData(corpus(0), corpus(1), corpus(2)); q.processAllAvailable()
        input.addData(corpus(3), corpus(4)); q.processAllAvailable()
        input.addData(corpus(5)); q.processAllAvailable()
      } finally q.stop()
      spark.read.parquet(s"$tmp/out").select("doc_id").as[Long].collect().toSet
    }
    val mono = drain(StreamingNearDedup.Params())
    val waved = drain(StreamingNearDedup.Params(waves = 4))
    assert(mono == waved, s"waves=4 diverged: $waved vs $mono")
    assert(mono == Set(0L, 2L, 5L))
  }

  test("near-dup replay of a half-committed batch reproduces the clean run") {
    // The failure the commit protocol must survive: batch 1's first attempt
    // dies AFTER writing its shingles (and after the committer created the
    // sigs batch dir) but BEFORE the sigs _SUCCESS marker. The replay must
    // not see the dead attempt's shingle rows as prior state — unioned with
    // the fresh batch they double every replayed doc's shingle set, and an
    // exact duplicate's Jaccard degenerates to 4i/(2a+2b-4i) = null, so the
    // dup would wrongly SURVIVE.
    val b0 = Seq(
      (0L, "the quick brown fox jumps over the lazy dog today"),
      (1L, "completely different words about spark and scala engines"))
      .toDF("doc_id", "text")
    val b1 = Seq(
      (2L, "the quick brown fox jumps over the lazy dog today"), // dup of 0
      (3L, "fresh sentences resembling nothing else in this corpus here"))
      .toDF("doc_id", "text")
    def run(half: Boolean): (Set[Long], Long) = {
      val dir = java.nio.file.Files.createTempDirectory("sndd-replay").toString
      StreamingNearDedup.processBatch(b0, 0, s"$dir/state", s"$dir/out")
      if (half) {
        Dedup.shingleIds(b1, "doc_id", "text", 3)
          .write.parquet(s"$dir/state/shingles/batch=1")
        // dir exists, no _SUCCESS: what a crash mid-sigs-write leaves
        new java.io.File(s"$dir/state/sigs/batch=1").mkdirs()
      }
      StreamingNearDedup.processBatch(b1, 1, s"$dir/state", s"$dir/out")
      (spark.read.parquet(s"$dir/out").select("doc_id").as[Long].collect().toSet,
        spark.read.parquet(s"$dir/state/sigs").count())
    }
    val (cleanSurv, cleanSigs) = run(half = false)
    val (replaySurv, replaySigs) = run(half = true)
    assert(cleanSurv == Set(0L, 1L, 3L), s"clean run broken: $cleanSurv")
    assert(replaySurv == cleanSurv, s"replay diverged: $replaySurv vs $cleanSurv")
    assert(replaySigs == cleanSigs, "replay must repair, not grow, the index")
  }

  test("exact-dedup stream kill/restart recovers flatMapGroupsWithState state") {
    // The state-store recovery path: claims made before the kill must
    // fence duplicates arriving after the restart, and a batch pending at
    // the kill must replay deterministically (min-id winner).
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import StreamingDedup.Doc
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("sdedup-kill").toString
    val in = MemoryStream[Doc]
    def start() = StreamingDedup.dedupStream(in.toDS())
      .writeStream.foreachBatch {
        (batch: org.apache.spark.sql.Dataset[Doc], batchId: Long) =>
          batch.write.mode("overwrite").parquet(s"$tmp/out/batch=$batchId")
      }
      .option("checkpointLocation", s"$tmp/chk").start()
    val q1 = start()
    in.addData(Doc(3L, "copy of X"), Doc(1L, "copy of X"), Doc(2L, "doc Y"))
    q1.processAllAvailable()
    in.addData(Doc(4L, "copy of X"), Doc(5L, "doc Z")) // pending at the kill
    q1.stop()
    val q2 = start()
    try {
      q2.processAllAvailable()
      in.addData(Doc(6L, "doc Z"), Doc(7L, "doc W")) // post-restart dup + fresh
      q2.processAllAvailable()
    } finally q2.stop()
    val got = spark.read.parquet(s"$tmp/out")
      .select("docId").as[Long].collect().toSet
    assert(got == Set(1L, 2L, 5L, 7L),
      s"state must survive the restart (no re-emit of X, Z claimed pre-kill fences 6): $got")
  }

  test("near-dup stream kill/restart from checkpoint matches the unkilled run") {
    // End-to-end crash-recovery: readStream → foreachBatch → stop with data
    // pending and a half-committed state attempt on disk → restart from the
    // same checkpoint → survivors identical to a run that was never killed.
    // The scenario the reference's replication slot self-healing covers
    // (Events/Core/Services/AgeDigitalTwinsReplication.cs:678-813).
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import StreamingDedup.Doc
    implicit val sqlCtx = spark.sqlContext
    val wave1 = Seq(
      Doc(0L, "the quick brown fox jumps over the lazy dog today"),
      Doc(1L, "completely different words about spark and scala engines"))
    val wave2 = Seq(
      Doc(2L, "the quick brown fox jumps over the lazy dog today"), // dup of 0
      Doc(3L, "the quick brown fox jumps over the lazy cat today"), // near-dup of 0
      Doc(4L, "unrelated text mentioning neither animals nor engines at all"))
    def survivors(dir: String): Set[Long] =
      spark.read.parquet(s"$dir/out").select("doc_id").as[Long].collect().toSet
    // control: same waves, never killed
    val ctl = java.nio.file.Files.createTempDirectory("sndd-ctl").toString
    locally {
      val in = MemoryStream[Doc]
      val q = StreamingNearDedup.foreachBatchSink(in.toDS(), s"$ctl/state", s"$ctl/out")
        .option("checkpointLocation", s"$ctl/chk").start()
      try {
        in.addData(wave1); q.processAllAvailable()
        in.addData(wave2); q.processAllAvailable()
      } finally q.stop()
    }
    // killed run: stop with wave2 pending, litter a dead batch-1 attempt,
    // restart on the same checkpoint + source
    val tmp = java.nio.file.Files.createTempDirectory("sndd-kill").toString
    val in = MemoryStream[Doc]
    def start() = StreamingNearDedup
      .foreachBatchSink(in.toDS(), s"$tmp/state", s"$tmp/out")
      .option("checkpointLocation", s"$tmp/chk").start()
    val q1 = start()
    in.addData(wave1); q1.processAllAvailable()
    in.addData(wave2)
    q1.stop() // killed before the pending wave commits
    Dedup.shingleIds(
      wave2.map(d => (d.docId, d.text)).toDF("doc_id", "text"),
      "doc_id", "text", 3).write.mode("overwrite")
      .parquet(s"$tmp/state/shingles/batch=1") // the dead attempt's debris
    val q2 = start()
    try q2.processAllAvailable() finally q2.stop()
    assert(survivors(tmp) == survivors(ctl),
      s"restart diverged: ${survivors(tmp)} vs ${survivors(ctl)}")
    assert(survivors(tmp) == Set(0L, 1L, 4L), s"got ${survivors(tmp)}")
  }

  test("bm25TopK: hand-computed ranking — tf saturation, length norm, idf") {
    // N=4, avglen=(4+9+3+3)/4=4.75, df(vector)=df(merge)=2 → idf=ln(2).
    // d1 (both terms, short): ~1.74; d3 (merge x3, tf saturates): ~1.18;
    // d2 (one hit, long doc penalized): ~0.51; d4: no hit, excluded.
    val docs = Seq(
      (1L, "vector vector merge x"),
      (2L, "vector a b c d e f g h"),
      (3L, "merge merge merge"),
      (4L, "nothing relevant here")
    ).toDF("doc_id", "text")
    val got = TextAnalysis.bm25TopK(docs, "doc_id", "text",
      terms = Seq("vector", "merge"), k = 3)
      .orderBy(col("rank")).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((1L, 1L), (2L, 3L), (3L, 2L)), s"got ${got.toSeq}")
  }

  test("dupSpanCoverage: corpus-repeated shingles per doc, short docs kept at zero") {
    val docs = Seq(
      (1L, "a b c d e"), // shingles: "a b c","b c d","c d e"
      (2L, "a b c x y"), // shares "a b c" with doc 1
      (3L, "zz"),        // < n tokens → zero shingles, must still appear
      (4L, "q r s t")    // all unique
    ).toDF("doc_id", "text")
    val got = TextAnalysis.dupSpanCoverage(docs, "doc_id", "text", n = 3)
      .orderBy(col("doc_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got(0) == ((1L, 3L, 1L, 3333L)), s"got ${got(0)}")
    assert(got(1) == ((2L, 3L, 1L, 3333L)), s"got ${got(1)}")
    assert(got(2) == ((3L, 0L, 0L, 0L)), "short docs keep a zero row")
    assert(got(3) == ((4L, 2L, 0L, 0L)), s"got ${got(3)}")
  }

  test("languageIdCol matches the aggregation-form languageId row for row") {
    val mixed = Seq(
      (0L, "the quick fox is fast and slow of course"),
      (1L, "el rapido zorro de la tabla"),
      (2L, "der schnelle fuchs die tabelle das"),
      (3L, "xyzzy qwerty plugh"),
      (4L, ""), (5L, null.asInstanceOf[String])
    ).toDF("doc_id", "text")
    val agg = TextAnalysis.languageId(mixed, "doc_id", "text")
      .select(col("doc_id"), col("pred_lang")).as[(Long, String)].collect().toMap
    val perRow = mixed
      .select(col("doc_id"), TextAnalysis.languageIdCol(col("text")).as("l"))
      .as[(Long, String)].collect().toMap
    assert(perRow == agg, s"per-row $perRow vs agg $agg")
  }

  test("streaming curation: quality gate + incremental dedup, append mode") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import StreamingDedup.Doc
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Doc]
    val q = Curation.curateStream(input.toDS(), minTokens = 4)
      .writeStream.format("memory").queryName("scurate")
      .outputMode("append").start()
    try {
      input.addData(
        Doc(1L, "the fast table is a good table of data"), // kept
        Doc(2L, "el rapido zorro de la tabla"),            // language
        Doc(3L, "the fast one"),                           // too short
        Doc(4L, ""))                                       // empty
      q.processAllAvailable()
      // later batch: duplicate of 1 dropped by state, new doc kept
      input.addData(
        Doc(5L, "the fast table is a good table of data"),
        Doc(6L, "a slow scan of the wide fast table"))
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.table("scurate").as[(Long, String)].collect().map(_._1).toSet
    assert(got == Set(1L, 6L), s"got $got")
  }

  test("shuffleOrder: exact permutation, salt-reproducible, no global window") {
    val corpus = (1L to 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val out = Sampling.shuffleOrder(corpus, "doc_id")
      .select(col("doc_id"), col("shuffle_rank")).as[(Long, Long)].collect()
    // a permutation: ranks are exactly 1..n, each id exactly once
    assert(out.map(_._2).sorted.toSeq == (1L to 200L))
    assert(out.map(_._1).toSet == (1L to 200L).toSet)
    // reproducible: same salt → identical ranks; fresh salt → new order
    val again = Sampling.shuffleOrder(corpus, "doc_id")
      .select(col("doc_id"), col("shuffle_rank")).as[(Long, Long)].collect()
    assert(out.toMap == again.toMap)
    val epoch2 = Sampling.shuffleOrder(corpus, "doc_id", salt = "epoch-2")
      .select(col("doc_id"), col("shuffle_rank")).as[(Long, Long)].collect()
    assert(epoch2.toMap != out.toMap, "a new salt must draw a new permutation")
    // matches the naive (single-partition) formulation it replaces
    val naiveKey = conv(substring(md5(concat(lit("graft-shuffle"),
      col("doc_id").cast("string"))), 1, 15), 16, 10).cast("long")
    val naive = corpus.withColumn("k", naiveKey)
      .orderBy(col("k"), col("doc_id"))
      .collect().map(_.getLong(0)).zipWithIndex
      .map { case (id, i) => (id, i + 1L) }.toMap
    assert(out.toMap == naive)
    // the data path must not funnel through a single-partition window:
    // the only SinglePartition exchange allowed is the 1024-row
    // bucket-offset table feeding the broadcast
    val plan = Sampling.shuffleOrder(corpus, "doc_id")
      .queryExecution.executedPlan.toString
    assert("SinglePartition".r.findAllIn(plan).size <= 1,
      s"data rows crossed a single-partition exchange:\n$plan")
    assert(plan.contains("BroadcastExchange") || plan.contains("BroadcastHashJoin"),
      s"bucket offsets must broadcast, not shuffle the corpus:\n$plan")
  }

  test("negativePairs: k uniform-ish partners, no self-pairs, reproducible") {
    val corpus = (1L to 100L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val out = Sampling.negativePairs(corpus.select(col("doc_id")), "doc_id", k = 4)
      .as[(Long, Long, Long)].collect()
    // each doc draws 4 probes, minus the expected-rare self-draw
    assert(out.length >= 390 && out.length <= 400, s"got ${out.length}")
    assert(out.forall { case (d, _, n) => d != n }, "self-pair leaked")
    assert(out.forall { case (_, t, _) => t >= 0 && t < 4 })
    // deterministic: a second evaluation is bit-identical
    val again = Sampling.negativePairs(corpus.select(col("doc_id")), "doc_id", k = 4)
      .as[(Long, Long, Long)].collect()
    assert(out.sorted.toSeq == again.sorted.toSeq)
    // a different salt draws different partners
    val s2 = Sampling.negativePairs(corpus.select(col("doc_id")), "doc_id",
      k = 4, salt = "other")
      .as[(Long, Long, Long)].collect()
    assert(s2.sorted.toSeq != out.sorted.toSeq)
    // pseudo-uniform: every doc is drawn as a negative at least once is
    // too strong for n=100·4 draws, but coverage should be broad
    assert(out.map(_._3).distinct.length > 60,
      "negatives collapsed onto few partners")
  }

  test("streaming curation with near-dup coverage: batch-path parity over a stream") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import StreamingDedup.Doc
    implicit val sqlCtx = spark.sqlContext
    val tmp = java.nio.file.Files.createTempDirectory("scnd").toString
    val input = MemoryStream[Doc]
    val q = Curation.curateNearDupStream(
      input.toDS(), s"$tmp/state", s"$tmp/out", minTokens = 4).start()
    try {
      input.addData(
        Doc(1L, "the fast table is a good table of data today"), // kept
        Doc(2L, "el zorro de la tabla"),                         // language
        Doc(3L, "the fast one"))                                 // too short
      q.processAllAvailable()
      input.addData(
        Doc(4L, "the fast table is a good table of data today"), // exact dup → state
        Doc(5L, "the fast table is a good table of data tonight"), // NEAR dup of 1
        Doc(6L, "a slow scan of the wide fast table runs on and on")) // kept
      q.processAllAvailable()
    } finally q.stop()
    val got = spark.read.parquet(s"$tmp/out")
      .select("doc_id").as[Long].collect().toSet
    assert(got == Set(1L, 6L), s"got $got")
  }

  test("split: disjoint, exhaustive, growth-stable assignment") {
    val splits = Seq("train" -> 0.5, "val" -> 0.25, "test" -> 0.25)
    val out = Sampling.split(docs, "doc_id", splits)
      .select(col("doc_id"), col("split")).as[(Long, String)].collect().toMap
    // exhaustive: every doc assigned to exactly one of the three names
    assert(out.size == 5 && out.values.forall(splits.map(_._1).contains))
    // growth-stable: assignments of existing ids survive adding docs
    val grown = docs.unionByName(
      Seq((100L, "brand new doc"), (101L, "another new doc"))
        .toDF("doc_id", "text"))
    val out2 = Sampling.split(grown, "doc_id", splits)
      .select(col("doc_id"), col("split")).as[(Long, String)].collect().toMap
    for ((id, s) <- out) assert(out2(id) == s, s"doc $id moved splits")
    // fractions must sum to 1
    intercept[IllegalArgumentException](
      Sampling.split(docs, "doc_id", Seq("a" -> 0.5, "b" -> 0.2)))
  }

  test("bigramLmScore: hand-computed bit-scores; short docs survive at zero") {
    // corpus bigram counts: c(a,b)=3 (doc1 ×2, doc2 ×1), c(b,a)=1,
    // c(b,c)=1; prefix counts c(a,·)=3, c(b,·)=2. fl2 = floor(log2).
    // doc 1 "a b a b": ab: fl2(3)-fl2(3)=0 (×2); ba: fl2(1)-fl2(2)=-1
    //   → sum -1, n 3
    // doc 2 "a b": ab → 0, n 1
    // doc 3 "b c": bc: fl2(1)-fl2(2)=-1 → sum -1, n 1
    // doc 4 "solo": no bigrams → (0, 0)
    val d = Seq((1L, "a b a b"), (2L, "a b"), (3L, "b c"), (4L, "solo"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.bigramLmScore(d, "doc_id", "text")
      .orderBy($"doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L, -1L), (2L, 1L, 0L), (3L, 1L, -1L), (4L, 0L, 0L)),
      s"got $got")
  }

  test("tokenEntropyBits: hand-computed; stuffing scores below diverse text") {
    // doc 1 "a b c d": n=4, all c=1 → bits = 4·2 − 0 = 8
    // doc 2 "a a a a": n=4, c=4 → bits = 8 − 4·2 = 0 (pure stuffing)
    // doc 3 "a a b b": n=4, two c=2 → bits = 8 − (2·1 + 2·1) = 4
    // doc 4 "solo": n=1 → 0
    val d = Seq((1L, "a b c d"), (2L, "a a a a"), (3L, "a a b b"),
      (4L, "solo")).toDF("doc_id", "text")
    val got = TextAnalysis.tokenEntropyBits(d, "doc_id", "text")
      .orderBy($"doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 4L, 8L), (2L, 4L, 0L), (3L, 4L, 4L), (4L, 1L, 0L)),
      s"got $got")
  }

  test("pmiCollocations: hand-computed cross-ratios; hapax floor; tie order") {
    // corpus bigrams (positional, per doc):
    //   doc1 "x y x y"  -> (x,y) (y,x) (x,y)
    //   doc2 "x y z"    -> (x,y) (y,z)
    //   doc3 "q r q r"  -> (q,r) (r,q) (q,r)
    // N = 8; pair (x,y): c=3, left c_x=3, right c_y=3 → 3·8·1e6/9 = 2666666
    // pair (q,r): c=2, c_q=2, c_r=2 → 2·8·1e6/4 = 4000000
    val d = Seq((1L, "x y x y"), (2L, "x y z"), (3L, "q r q r"))
      .toDF("doc_id", "text")
    val got = TextAnalysis.pmiCollocations(d, "doc_id", "text",
        minCount = 2L, topK = 10)
      .as[(String, String, Long, Long)].collect().toSeq
    assert(got == Seq(("q", "r", 2L, 4000000L), ("x", "y", 3L, 2666666L)),
      s"got $got")
    // hapax pairs ((y,x),(y,z),(r,q)) maximize raw PMI but the floor
    // screens them; raising it screens everything
    assert(TextAnalysis.pmiCollocations(d, "doc_id", "text", 4L, 10).count() == 0)
  }

  test("dsirScore: hand-computed hashed-bucket bit-ratios vs the target slice") {
    // vocab {aa, bb} lands in distinct buckets at 4096 (md5-derived).
    // c_raw(aa)=4, c_tgt(aa)=3 → w = fl2(5)-fl2(5) = 0... computed below:
    // w(aa) = fl2(3+1) - fl2(4+1) = 2 - 2 = 0
    // w(bb) = fl2(0+1) - fl2(2+1) = 0 - 1 = -1
    // doc1 "aa aa aa" → (3, 0); doc2 "bb" → (1, -1); doc3 "aa bb" → (2, -1)
    val d = Seq((1L, "aa aa aa", "en"), (2L, "bb", "fr"), (3L, "aa bb", "fr"))
      .toDF("doc_id", "text", "lang")
    val got = TextAnalysis.dsirScore(d, "doc_id", "text",
        isTarget = col("lang") === "en", buckets = 4096)
      .orderBy($"doc_id").as[(Long, Long, Long)].collect().toSeq
    assert(got == Seq((1L, 3L, 0L), (2L, 1L, -1L), (3L, 2L, -1L)), s"got $got")
    // ranking signal: the target-like doc scores strictly higher per token
    val norm = got.map { case (id, n, b) => id -> b.toDouble / n }.toMap
    assert(norm(1L) > norm(2L))
  }

  test("splitLeakage surfaces exactly the cross-boundary near-dup pairs") {
    val d = Seq((1L, "x"), (2L, "x"), (3L, "x"), (4L, "y")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("doc_a", "doc_b")
    // force known split membership via a two-way split whose assignment we
    // read back, then assert leakage = pairs whose sides disagree
    val splits = Seq("train" -> 0.5, "test" -> 0.5)
    val assign = Sampling.split(d, "doc_id", splits)
      .select(col("doc_id"), col("split")).as[(Long, String)].collect().toMap
    val expected = Seq((1L, 2L), (1L, 3L), (2L, 3L))
      .filter { case (a, b) => assign(a) != assign(b) }.toSet
    val got = Sampling.splitLeakage(d, "doc_id", pairs, splits)
      .select(col("doc_a"), col("doc_b")).as[(Long, Long)].collect().toSet
    assert(got == expected, s"got $got expected $expected (assign $assign)")
    // the split columns ride along for quarantine decisions
    val cols = Sampling.splitLeakage(d, "doc_id", pairs, splits).columns.toSeq
    assert(cols == Seq("doc_a", "doc_b", "split_a", "split_b"))
  }

  test("chunking: overlapping windows, full coverage, no contained tails") {
    val d = Seq((1L, (1 to 10).map(i => s"t$i").mkString(" "))) // 10 tokens
      .toDF("doc_id", "text")
    val got = TextAnalysis.chunk(d, "doc_id", "text", chunkTokens = 8, overlap = 4)
      .orderBy(col("chunk_idx"))
      .select("chunk_idx", "n_chunk_tokens", "chunk_text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    // starts 0 and 4; start 8 (>= n - overlap = 6) would be fully inside
    // chunk 1's coverage and is dropped
    assert(got.length == 2, s"got ${got.toSeq}")
    assert(got(0) == ((0L, 8L, (1 to 8).map(i => s"t$i").mkString(" "))))
    assert(got(1) == ((1L, 6L, (5 to 10).map(i => s"t$i").mkString(" "))))
    // a doc shorter than one chunk yields exactly one whole-doc chunk
    val short = TextAnalysis.chunk(
      Seq((2L, "a b c")).toDF("doc_id", "text"), "doc_id", "text", 8, 4)
      .collect()
    assert(short.length == 1 && short(0).getAs[String]("chunk_text") == "a b c")
  }

  test("vocabulary: tf/df ranked with deterministic tie-break") {
    val v = TextAnalysis.vocabulary(docs, "doc_id", "text", k = 3)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // 'the' appears twice in each of docs 0-2 → tf 6, df 3; top token
    assert(v(0) == (("the", 6L, 3L)), s"got ${v.toSeq}")
    // every remaining count is below or equal, ties ordered by token
    assert(v.sliding(2).forall { case Array(a, b) =>
      a._2 > b._2 || (a._2 == b._2 && a._1 < b._1) })
  }

  test("epoch rates and repetition mix: small sources repeat, copies tagged") {
    // a:100 b:1000 tokens, a weighted 9:1 — its target (900) is 9 epochs,
    // capped at 3; the freed budget flows to b
    val r = Mixing.epochRates(Map("a" -> 100L, "b" -> 1000L),
      Map("a" -> 9.0, "b" -> 1.0), budget = 1000L, maxEpochs = 3.0)
    assert(r("a") == 3.0, s"capped at maxEpochs: $r")
    assert(r("b") == 0.7, s"remainder redistributed: $r")
    // rate 2.5 → every doc twice, ~half a third time, epochs 0/1/2
    val docs2 = docs.withColumn("source", lit("s"))
      .withColumn("tok", lit(10L))
    val out = Mixing.mixWithRepetition(docs2, "doc_id", "tok", "source",
      Map("s" -> 1.0), budget = 125L, maxEpochs = 4.0)
    val byDoc = out.groupBy("doc_id").count()
      .as[(Long, Long)].collect().toMap
    assert(byDoc.values.forall(n => n == 2L || n == 3L),
      s"2 full epochs + fractional third: $byDoc")
    assert(out.select("epoch").as[Long].collect().toSet.subsetOf(Set(0L, 1L, 2L)))
    // determinism: identical rerun
    val again = Mixing.mixWithRepetition(docs2, "doc_id", "tok", "source",
      Map("s" -> 1.0), 125L, 4.0)
    assert(again.select("doc_id", "epoch").as[(Long, Long)].collect().sorted
      .sameElements(out.select("doc_id", "epoch").as[(Long, Long)].collect().sorted))
  }

  test("packing: contiguous deterministic layout and sequence spans") {
    val sized = docs.withColumn("tok", length(col("text")).cast("long"))
    val packed = Packing.pack(sized, "doc_id", "tok", seqLen = 64)
      .orderBy(col("start_tok")).collect()
    // intervals tile [0, total) with no gaps or overlaps
    var expectStart = 0L
    for (r <- packed) {
      assert(r.getAs[Long]("start_tok") == expectStart,
        s"contiguous layout at doc ${r.getAs[Long]("doc")}")
      expectStart = r.getAs[Long]("end_tok")
    }
    assert(expectStart ==
      sized.agg(sum(col("tok"))).first.getLong(0), "covers every token")
    // sequence spans follow from the interval arithmetic
    for (r <- packed) {
      assert(r.getAs[Long]("seq_first") == r.getAs[Long]("start_tok") / 64)
      assert(r.getAs[Long]("seq_last") ==
        math.max(r.getAs[Long]("end_tok") - 1, r.getAs[Long]("start_tok")) / 64)
    }
    // the layout is a pure function of (ids, salt): rerun identical, and
    // the bucket fan-out is parallelism-only — any width, same layout
    val again = Packing.pack(sized, "doc_id", "tok", seqLen = 64)
      .orderBy(col("start_tok")).collect()
    assert(packed.map(_.toSeq).toSeq == again.map(_.toSeq).toSeq)
    val wide = Packing.pack(sized, "doc_id", "tok", 64, bucketHexDigits = 4)
      .orderBy(col("start_tok")).collect()
    assert(packed.map(_.toSeq).toSeq == wide.map(_.toSeq).toSeq,
      "bucket width must not change the layout")
    // stats roll up: 5 docs, ~50-char texts at seqLen 64 → crossers exist
    val st = Packing.stats(Packing.pack(sized, "doc_id", "tok", 64), 64)
      .collect()(0)
    assert(st.getAs[Long]("n_docs") == 5L)
    assert(st.getAs[Long]("n_seqs") == (expectStart - 1) / 64 + 1)
    assert(st.getAs[Long]("boundary_crossers") >= 1L)
  }

  test("embeddingDedup: keep-first within a cell at the cosine threshold") {
    val vs = Seq(
      (0L, Seq(1f, 0f, 0f)),
      (1L, Seq(1f, 0f, 0f)),      // exact dup of 0 → dropped
      (2L, Seq(0f, 1f, 0f)),      // orthogonal → kept
      (3L, Seq(0.999f, 0.04f, 0f))) // near-dup of 0 → dropped
      .toDF("vec_id", "embedding")
    val got = Similarity.embeddingDedup(vs, "vec_id", "embedding",
      threshold = 0.9, numCells = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(0L -> 1L, 1L -> 0L, 2L -> 1L, 3L -> 0L), s"got $got")
  }

  test("embeddingDedup: drop rule uses any lower id, not just survivors") {
    // chain 0 ≈ 1 ≈ 2 with cos(0,2) below τ: 2 still drops (its witness 1
    // was itself dropped) — the transitive-closure-free keep-first rule
    val c20 = math.cos(math.toRadians(20)).toFloat
    val s20 = math.sin(math.toRadians(20)).toFloat
    val c40 = math.cos(math.toRadians(40)).toFloat
    val s40 = math.sin(math.toRadians(40)).toFloat
    val vs = Seq(
      (0L, Seq(1f, 0f)), (1L, Seq(c20, s20)), (2L, Seq(c40, s40)))
      .toDF("vec_id", "embedding")
    val got = Similarity.embeddingDedup(vs, "vec_id", "embedding",
      threshold = 0.9, numCells = 1).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got == Map(0L -> 1L, 1L -> 0L, 2L -> 0L), s"got $got")
  }

  test("embeddingDedup: threshold extremes keep all / keep one per cell") {
    val vs = Seq((0L, Seq(1f, 0f)), (1L, Seq(0f, 1f)), (2L, Seq(1f, 1f)))
      .toDF("vec_id", "embedding")
    val all = Similarity.embeddingDedup(vs, "vec_id", "embedding",
      threshold = 1.1, numCells = 1)
    assert(all.agg(sum(col("keep_i"))).first.getLong(0) == 3L)
    val one = Similarity.embeddingDedup(vs, "vec_id", "embedding",
      threshold = -1.0, numCells = 1)
    assert(one.filter(col("keep_i") === 1).select("v_id")
      .as[Long].collect().toSeq == Seq(0L), "only the min id survives")
  }

  test("componentsResumable: parity, completed-run short-circuit, mid-state resume") {
    // chain + separate pair: contraction needs multiple rounds
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (10L, 11L))
      .toDF("doc_a", "doc_b")
    def labelSet(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val expect = labelSet(Dedup.components(pairs))
    assert(expect == Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (5L, 1L),
      (10L, 10L), (11L, 10L)))
    val d1 = java.nio.file.Files.createTempDirectory("comp-res").toString
    assert(labelSet(Dedup.componentsResumable(pairs, d1)) == expect)
    // completed run short-circuits to the stored labels — even with a
    // DIFFERENT (empty) pairs argument, proof nothing recomputes
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    assert(labelSet(Dedup.componentsResumable(empty, d1)) == expect)
    // mid-state resume: strip the run back to rounds 0..1 and no labels —
    // the state a driver crash at round 2 leaves — then resume
    val edgesDir = new java.io.File(s"$d1/edges")
    val rounds = edgesDir.listFiles().map(_.getName)
      .filter(_.startsWith("round=")).map(_.stripPrefix("round=").toInt)
    assert(rounds.max >= 2, s"fixture must need >2 rounds, got ${rounds.toSeq}")
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rm); f.delete()
    }
    rounds.filter(_ > 1).foreach(r => rm(new java.io.File(s"$d1/edges/round=$r")))
    rm(new java.io.File(s"$d1/labels"))
    // litter a half-written next round (no _SUCCESS) — must be overwritten
    new java.io.File(s"$d1/edges/round=2").mkdirs()
    assert(labelSet(Dedup.componentsResumable(empty, d1)) == expect,
      "resume from mid-state must reproduce the full run")
  }

  test("qualityClassifier: hand-computed fixed-point score and verdict") {
    // "ab cd the x!" → 4 tokens, sumLen=9 chars (avg4 22500), 1 stopword
    // (stop4 2500), 8 alpha of 12 chars (alpha4 floor(6666.7+0.5)=6667)
    val one = Seq((7L, "ab cd the x!")).toDF("doc_id", "text")
    val w = TextAnalysis.QualityWeights()
    val r = TextAnalysis.qualityClassifier(one, "doc_id", "text", w)
      .collect()(0)
    val expected = w.wTokens * 4 + w.wAvgLen4 * 22500 +
      w.wStop4 * 2500 + w.wAlpha4 * 6667 + w.bias
    assert(r.getAs[Long]("score_m") == expected, s"got $r")
    assert(r.getAs[Long]("keep_i") == (if (expected >= 0) 1L else 0L))
  }

  test("qualityClassifier: threshold moves the verdict, not the score") {
    val lo = TextAnalysis.qualityClassifier(docs, "doc_id", "text",
      TextAnalysis.QualityWeights(threshold = Long.MinValue))
    val hi = TextAnalysis.qualityClassifier(docs, "doc_id", "text",
      TextAnalysis.QualityWeights(threshold = Long.MaxValue))
    assert(lo.agg(sum(col("keep_i"))).first.getLong(0) == 5L)
    assert(hi.agg(sum(col("keep_i"))).first.getLong(0) == 0L)
    val s1 = lo.select("doc_id", "score_m").collect().map(_.toSeq).toSet
    val s2 = hi.select("doc_id", "score_m").collect().map(_.toSeq).toSet
    assert(s1 == s2, "scores are threshold-independent")
  }

  test("qualityClassifier is a pure projection — no shuffle in the plan") {
    val plan = TextAnalysis.qualityClassifier(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"must stay scan-speed:\n$plan")
  }
}
