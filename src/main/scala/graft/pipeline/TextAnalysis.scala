package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, shingling, quality scoring, language ID, fingerprinting.
  *
  * All operators are pure Column expressions (whole-stage-codegen'd; no
  * UDFs) so they run at scan speed over 100 TB of documents. Determinism
  * rules: integer arithmetic wherever a ratio/score is produced (fixed-point
  * via floor(x*K+0.5)), so results hash-match across engines and partition
  * orders.
  */
object TextAnalysis {

  /** Whitespace tokenization — the baseline tokenizer. */
  def tokens(text: Column): Column = split(text, " ")

  /** Distinct sorted token set (for set-similarity and fingerprints). */
  def tokenSet(text: Column): Column = sort_array(array_distinct(tokens(text)))

  /** n-gram word shingles: ["a b c", "b c d", ...] (full n-grams only).
    * A document with fewer than n tokens yields an EMPTY shingle array —
    * intentionally: such a doc carries no full-n-gram evidence, so
    * shingle-based dedup (MinHash/Jaccard/fingerprint) treats it as
    * unpaired rather than matching on a partial fragment. (The retired
    * `transform(sequence, slice)` formulation emitted one partial shingle
    * for short docs; that behavior is gone on purpose.) Delegates to the
    * native [[graft.functions.WordNGrams]] codegen kernel — the
    * Column-level formulation is interpreter-evaluated at ~2 ms/row,
    * five orders of magnitude off scan speed. */
  def shingles(text: Column, n: Int): Column =
    graft.functions.WordNGrams.ngrams(tokens(text), n)

  /** Distinct shingles. */
  def shingleSet(text: Column, n: Int): Column =
    array_distinct(shingles(text, n))

  /** 60-bit stable hash of a string via md5 — chosen because md5 produces
    * identical hex on any engine (Spark, DuckDB, Postgres), so pipelines
    * can be cross-validated; no dictionary/global sort needed at scale. */
  def stableId(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast(LongType)

  /** [[stableId]] on the driver: the first 15 hex digits of the MD5 of
    * the string's UTF-8 bytes, read as a Long. */
  def stableId(s: String): Long = {
    val d = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // 15 hex digits = the first 7.5 bytes = the top 60 bits of 8
    java.nio.ByteBuffer.wrap(d).getLong >>> 4
  }

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: each token contributes ceil(len/4) units —
    * a deterministic proxy for BPE token counts (≈4 chars/token). */
  def bpeishCount(text: Column): Column =
    aggregate(tokens(text), lit(0L),
      (acc, t) => acc + ceil(length(t) / lit(4.0)).cast(LongType))

  val StopWords: Seq[String] =
    Seq("the", "a", "an", "of", "to", "and", "in", "is", "it", "on")

  /** Real subword pieces over a trained WordPiece vocabulary (greedy
    * longest match, `##` continuations, `[UNK]` fallback) — the exact
    * token stream a BERT-family training job sees; replaces the
    * [[bpeishCount]] proxy wherever a true vocab exists. Native codegen
    * kernel, row-local, zero shuffle. */
  def wordPieces(text: Column, vocab: Seq[String]): Column =
    graft.functions.WordPiece.tokenize(tokens(text), vocab)

  /** Subword count under a WordPiece vocabulary. */
  def wordPieceCount(text: Column, vocab: Seq[String]): Column =
    size(wordPieces(text, vocab)).cast(LongType)

  /** Single-character vocabulary (a-z, A-Z + continuations): the oracle
    * harness's degenerate-but-exact vocab — greedy matching over it has a
    * closed form (alphabetic word → one piece per char, anything else →
    * `[UNK]`) that plain SQL reproduces, which is what lets the driver
    * hash-check the full tokenizer path; real greedy semantics are
    * spec-tested with multi-char vocabularies. */
  val CharVocab: Seq[String] =
    (('a' to 'z') ++ ('A' to 'Z')).flatMap(c => Seq(c.toString, "##" + c))

  /** Quality metrics in fixed-point (×10000) for cross-engine parity. */
  def qualityMetrics(df: DataFrame, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    val nTok = size(toks)
    val sumLen = aggregate(toks, lit(0L), (acc, t) => acc + length(t))
    val nStop = size(filter(toks, t => t.isin(StopWords.map(lit): _*)))
    df.withColumn("n_tokens", nTok.cast(LongType))
      .withColumn("avg_token_len_4", floor(sumLen * 10000.0 / nTok + 0.5).cast(LongType))
      .withColumn("stopword_ratio_4", floor(nStop * 10000.0 / nTok + 0.5).cast(LongType))
  }

  /** Integer weights (micro-units) for [[qualityClassifier]] — the shape
    * of a trained linear quality filter (fastText/logistic over document
    * statistics), frozen to fixed-point so the verdict is bit-reproducible
    * on any engine and any partitioning. Swap in learned weights in
    * production; the pipeline plumbing is identical. */
  case class QualityWeights(
      wTokens: Long = 500L, tokenCap: Long = 80L,
      wAvgLen4: Long = 1L, wStop4: Long = 20L, wAlpha4: Long = 10L,
      bias: Long = -160000L, threshold: Long = 0L)

  /** Model-based quality filtering: a linear score over integer document
    * features (token count capped, average token length, stopword ratio,
    * alphabetic-character ratio — the classic quality-filter features),
    * entirely Long arithmetic inside whole-stage codegen. Output
    * `(id, score_m, keep_i)`; the filter decision is `score ≥ threshold`.
    * Pure projection — zero shuffles, scan-speed over 100 TB. */
  def qualityClassifier(df: DataFrame, idCol: String, textCol: String,
      w: QualityWeights = QualityWeights()): DataFrame = {
    val toks = tokens(col(textCol))
    val nTok = size(toks).cast(LongType)
    val sumLen = aggregate(toks, lit(0L), (acc, t) => acc + length(t))
    val nStop = size(filter(toks, t => t.isin(StopWords.map(lit): _*)))
    val avg4 = floor(sumLen * 10000.0 / nTok + 0.5).cast(LongType)
    val stop4 = floor(nStop * 10000.0 / nTok + 0.5).cast(LongType)
    val alpha4 = floor(
      length(regexp_replace(col(textCol), "[^a-zA-Z]", "")) * 10000.0 /
        length(col(textCol)) + 0.5).cast(LongType)
    val score = lit(w.wTokens) * least(nTok, lit(w.tokenCap)) +
      lit(w.wAvgLen4) * avg4 + lit(w.wStop4) * stop4 +
      lit(w.wAlpha4) * alpha4 + lit(w.bias)
    df.select(col(idCol), score.as("score_m"),
      when(score >= lit(w.threshold), 1L).otherwise(0L).as("keep_i"))
  }

  /** Unigram language-model familiarity score — the CCNet-shaped "does
    * this doc look like the corpus" quality signal (LM perplexity
    * filtering with the LM reduced to corpus document frequencies). Each
    * token occurrence contributes `ilog2(df(token))` — the integer log is
    * the binary digit count minus one, exact on any engine, so the score
    * avoids the transcendental-`ln` cross-platform trap entirely. Output
    * `(id, n_tokens, lm_m)` with `lm_m = (1000·Σ ilog2(df)) div n_tokens`
    * — higher means built from commoner vocabulary.
    *
    * Scale shape: one explode, a distinct + count for the df table (the
    * token dictionary — shuffles on the token key, map-side combined),
    * one equi-join of occurrences against it, one per-doc rollup. No
    * windows, no driver state; the df table can be persisted and reused
    * across scoring runs. */
  def unigramLmScore(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val tok = df.select(col(idCol).as("doc"),
      explode(tokens(col(textCol))).as("tok"))
    val docFreq = tok.distinct()
      .groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val w = (length(bin(col("df"))) - 1).cast(LongType)
    tok.join(docFreq.select(col("tok"), w.as("w")), Seq("tok"))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("w")).as("s"))
      .select(col("doc").as(idCol), col("n_tokens"),
        expr("(1000 * s) div n_tokens").as("lm_m"))
  }

  /** Bigram-LM familiarity score — the CCNet-style perplexity-filter
    * shape one order up from [[unigramLmScore]]: per positional bigram
    * (a,b) the integer bit-score floor(log2 c(a,b)) − floor(log2 c(a,·))
    * ≈ log2 P(b|a), summed per doc. More negative = the doc's word
    * transitions are rarer under corpus statistics (gibberish, boilerplate
    * salad); near zero = highly predictable text. Outputs stay pure
    * integers (`n_bigrams`, `bits_sum`) — the caller picks its own
    * normalization — which is also what makes the score bit-identical on
    * any engine (floor-log2 via `length(bin(x)) - 1`, no float log).
    *
    * Scale shape: one corpus pass explodes positional bigrams; the two
    * count tables are observed-vocabulary-sized; the per-bigram score
    * joins are equi-joins on (a,b) and (a) (AQE broadcasts the unigram
    * side when it measures small); one groupBy(doc) rollup; docs with <2
    * tokens survive via the final left join with zeros. */
  def bigramLmScore(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val bg = df
      .select(col(idCol).as("doc"), tokens(col(textCol)).as("__t"))
      .select(col("doc"),
        explode(when(size(col("__t")) >= 2, // positional — repeats count
          transform(sequence(lit(1), size(col("__t")) - 1),
            i => struct(element_at(col("__t"), i).as("a"),
              element_at(col("__t"), i + 1).as("b"))))
          .otherwise(array())).as("p"))
      .select(col("doc"), col("p.a").as("a"), col("p.b").as("b"))
    val cab = bg.groupBy(col("a"), col("b")).agg(count(lit(1)).as("cab"))
    val ca = bg.groupBy(col("a")).agg(count(lit(1)).as("ca"))
    val flog2 = (c: Column) => (length(bin(c)) - 1).cast(LongType)
    val scored = bg
      .join(cab, Seq("a", "b"))
      .join(ca, Seq("a"))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(flog2(col("cab")) - flog2(col("ca"))).as("bits_sum"))
    df.select(col(idCol))
      .join(scored.withColumnRenamed("doc", idCol), Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("bits_sum"), lit(0L)).as("bits_sum"))
  }

  /** PMI-ranked collocations (Church & Hanks 1990, "Word association
    * norms, mutual information, and lexicography"): top-K adjacent
    * bigrams by pointwise mutual information over the corpus — the
    * standard multi-word-expression extractor for tokenizer vocab
    * curation and boilerplate phrase mining. PMI = log p(a,b)/(p(a)p(b))
    * is monotone in the integer cross-ratio, so the rank score is the
    * exact fixed-point `(c_ab · N · 1e6) div (c_a · c_b)` — no float
    * log, bit-identical on any engine. Numerator and denominator are
    * widened to DECIMAL(38,0) before the products: in 64-bit the
    * numerator overflows once `c_ab · N` passes ~9.2e12 (any pair seen
    * 9,200+ times in a 1e9-bigram corpus), and Spark would wrap silently
    * (ANSI off) while the oracle engine raises — decimal keeps both
    * engines exact up to 1e38, far past any real corpus (N ≤ 1e16 ⇒
    * products ≤ 1e38). `minCount` floors away the unstable low-frequency
    * tail (the standard guard: a hapax pair maximizes raw PMI).
    * Marginals are the bigram table's own (left, right) counts,
    * self-normalized by the same N.
    *
    * Scale shape: one corpus pass explodes positional bigrams; three
    * combinable count aggregations (pair + two marginals, each
    * observed-vocabulary-sized); two equi-joins; the corpus total rides
    * a broadcast 1-row frame; final ranking is a global
    * TakeOrderedAndProject (top-K, never a full sort materialized). */
  def pmiCollocations(df: DataFrame, idCol: String, textCol: String,
      minCount: Long, topK: Int): DataFrame = {
    val bg = df
      .select(col(idCol).as("doc"), tokens(col(textCol)).as("__t"))
      .select(explode(when(size(col("__t")) >= 2,
        transform(sequence(lit(1), size(col("__t")) - 1),
          i => struct(element_at(col("__t"), i).as("a"),
            element_at(col("__t"), i + 1).as("b"))))
        .otherwise(array())).as("p"))
      .select(col("p.a").as("a"), col("p.b").as("b"))
    val cab = bg.groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_ab"))
    val ca = bg.groupBy(col("a")).agg(count(lit(1)).as("c_a"))
    val cb = bg.groupBy(col("b")).agg(count(lit(1)).as("c_b"))
    val total = bg.agg(count(lit(1)).as("n_total"))
    cab.filter(col("n_ab") >= minCount)
      .join(ca, Seq("a"))
      .join(cb, Seq("b"))
      .crossJoin(broadcast(total))
      .select(col("a"), col("b"), col("n_ab"),
        expr("(CAST(n_ab AS DECIMAL(38,0)) * n_total * 1000000) div " +
          "(CAST(c_a AS DECIMAL(38,0)) * c_b)").as("score_m"))
      .orderBy(col("score_m").desc, col("a"), col("b"))
      .limit(topK)
  }

  /** Token-entropy score — Shannon diversity of the document's token
    * histogram in exact integer bit-units: `n·ilog2(n) − Σ_tok
    * c_tok·ilog2(c_tok)` (the integer-floor analogue of `n·H` via
    * `H = log n − (1/n)Σ c·log c`, `ilog2 = length(bin(x))−1`). Low
    * entropy relative to length flags keyword stuffing, boilerplate
    * loops, and template spam — the diversity complement to the
    * repetition score (which detects ADJACENT repeats; entropy sees
    * global token reuse regardless of position). Integer-exact on any
    * engine, same contract as [[unigramLmScore]].
    *
    * Scale shape: one explode, one combinable (doc, token) count, one
    * per-doc rollup — no windows, no joins, scan-bound at corpus
    * scale. */
  def tokenEntropyBits(df: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val flog2 = (c: Column) => (length(bin(c)) - 1).cast(LongType)
    val cnt = df.select(col(idCol).as("doc"),
        explode(tokens(col(textCol))).as("tok"))
      .groupBy(col("doc"), col("tok")).agg(count(lit(1)).as("c"))
    cnt.groupBy(col("doc"))
      .agg(sum(col("c")).as("n"),
        sum(col("c") * flog2(col("c"))).as("s1"))
      .select(col("doc").as(idCol), col("n").as("n_tokens"),
        (col("n") * flog2(col("n")) - col("s1")).as("entropy_bits"))
  }

  /** DSIR-style importance score (Xie et al., "Data Selection for
    * Language Models via Importance Resampling", NeurIPS 2023): rank raw
    * documents by how target-like their HASHED n-gram bag looks —
    * per-token importance is the log-ratio of the token's hashed-bucket
    * frequency under the target slice vs the whole corpus, and a doc's
    * score is the sum over its token occurrences. The hashing is the
    * paper's core scaling trick: both "LMs" collapse to `buckets`
    * integers, so scoring is one broadcast join per token, no vocabulary
    * shuffle.
    *
    * Arithmetic is the house integer bit-score (`ilog2(c_tgt(b)+1) −
    * ilog2(c_raw(b)+1)` per bucket, `ilog2 = length(bin(x))−1`) — exact
    * on any engine, same trade as [[unigramLmScore]]: a monotone
    * integer proxy for the float log-ratio, which preserves the ranking
    * signal resampling actually consumes. Add-one keeps empty buckets
    * finite. Output `(id, n_tokens, dsir_bits)`; resample by weighting
    * docs ∝ 2^(dsir_bits/n_tokens) or just take top-k by normalized
    * bits.
    *
    * Scale shape: one token explode over the corpus (the target slice is
    * a filter of the same pass, not a second scan), two
    * map-side-combinable bucket counts of ≤ `buckets` rows each, one
    * broadcast join of occurrences against the ≤ `buckets`-row weight
    * table, one per-doc rollup. */
  def dsirScore(df: DataFrame, idCol: String, textCol: String,
      isTarget: Column, buckets: Int = 256): DataFrame = {
    require(buckets >= 2, s"buckets must be >= 2, got $buckets")
    val tok = df.select(col(idCol).as("doc"), isTarget.as("tgt"),
        explode(tokens(col(textCol))).as("t"))
      .select(col("doc"), col("tgt"),
        pmod(stableId(col("t")), lit(buckets.toLong)).as("bkt"))
    val counts = tok.groupBy(col("bkt"))
      .agg(count(lit(1)).as("c_raw"),
        sum(when(col("tgt"), 1L).otherwise(0L)).as("c_tgt"))
    val ilog2 = (c: Column) => (length(bin(c)) - 1).cast(LongType)
    val weights = counts.select(col("bkt"),
      (ilog2(col("c_tgt") + 1) - ilog2(col("c_raw") + 1)).as("w"))
    val scored = tok
      .join(broadcast(weights), Seq("bkt"))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_tokens"), sum(col("w")).as("dsir_bits"))
    df.select(col(idCol))
      .join(scored.withColumnRenamed("doc", idCol), Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("dsir_bits"), lit(0L)).as("dsir_bits"))
  }

  /** Tiny per-language marker dictionaries for the n-gram/stopword language
    * ID heuristic. Deliberately small: the operator's value is the
    * scalable argmax-join shape, not lexicon quality. */
  val LangMarkers: Seq[(String, String)] = Seq(
    "en" -> "the", "en" -> "a", "en" -> "of", "en" -> "fast", "en" -> "slow",
    "es" -> "el", "es" -> "la", "es" -> "de", "es" -> "rapido", "es" -> "tabla",
    "fr" -> "le", "fr" -> "la", "fr" -> "de", "fr" -> "vite", "fr" -> "table",
    "de" -> "der", "de" -> "die", "de" -> "das", "de" -> "schnell", "de" -> "tabelle",
    "zh" -> "biao", "zh" -> "kuai", "zh" -> "man", "zh" -> "lian", "zh" -> "shu")

  /** Language ID: argmax of per-language marker-token hit counts with a
    * deterministic tie-break (lang asc); docs with zero hits get 'und'.
    *
    * Single-shuffle plan: explode tokens, one groupBy(doc) with one
    * conditional SUM per language (map-side combined), then a 5-element
    * in-row argmax — no dictionary join, no window, no re-join with the
    * original table. At 100 TB this is one pass over the token stream. */
  def languageId(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val langs = LangMarkers.map(_._1).distinct.sorted
    val markers = LangMarkers.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val hitCols = langs.map(l =>
      sum(when(col("tok").isin(markers(l).map(lit): _*), 1L).otherwise(0L))
        .as(s"h_$l"))
    val agged = df
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col(idCol))
      .agg(hitCols.head, hitCols.tail: _*)
    // in-row argmax: sort (−hits, lang) ascending, take the head
    val ranked = sort_array(array(langs.map(l =>
      struct((-col(s"h_$l")).as("neg"), lit(l).as("lang"))): _*))
    val scored = agged.select(col(idCol),
      when(ranked.getItem(0).getField("neg") === 0, lit("und"))
        .otherwise(ranked.getItem(0).getField("lang")).as("pred_lang"),
      (-ranked.getItem(0).getField("neg")).as("hits"))
    // explode drops docs with null/empty text — re-anchor on the full doc
    // set so every input row gets a verdict ('und', 0 hits), same as the
    // oracle's LEFT JOIN
    df.select(col(idCol)).join(scored, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("pred_lang"), lit("und")).as("pred_lang"),
        coalesce(col("hits"), lit(0L)).as("hits"))
  }

  /** Per-ROW language id: the same (−hits, lang) argmax as [[languageId]]
    * but as ONE Column expression over the token array — no explode, no
    * shuffle, so it composes into row-level filters and Structured
    * Streaming projections (append mode), where the aggregation form
    * would demand stateful update mode. Parity is spec-asserted. */
  def languageIdCol(text: Column): Column = {
    val toks = tokens(text)
    val langs = LangMarkers.map(_._1).distinct.sorted
    val markers = LangMarkers.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val ranked = sort_array(array(langs.map { l =>
      val h = size(filter(toks,
        t => markers(l).map(m => t === lit(m)).reduce(_ || _)))
      struct((-h).cast(LongType).as("neg"), lit(l).as("lang"))
    }: _*))
    when(text.isNull || ranked.getItem(0).getField("neg") === 0, lit("und"))
      .otherwise(ranked.getItem(0).getField("lang"))
  }

  /** Canonical fingerprint (OpenRefine-style): md5 of the sorted distinct
    * token set — identical docs up to token order/multiplicity collide. */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", tokenSet(text)))

  /** Gopher-style repetition quality signals, fixed-point ×10000:
    *
    *  - `top_token_ratio_4`: occurrences of the single most frequent token
    *    over total tokens — boilerplate/spam saturates one token;
    *  - `dup_bigram_ratio_4`: fraction of bigram occurrences that are
    *    repeats of an already-seen bigram ((total − distinct) / total) —
    *    repeated phrasing scores high even when unigrams look diverse.
    *
    * Shape at 100 TB: two explode→two-level-aggregate chains (each one
    * shuffle on doc id with map-side partial aggregation — no window, no
    * self-join) joined on the doc key; the bigram explode runs the same
    * [[graft.functions.WordNGrams]] codegen kernel the dedup operators
    * use. Docs with fewer than 2 tokens have no bigrams → ratio 0. */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val tok = df
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol)).agg(
        max(col("c")).as("top_c"), sum(col("c")).as("n_tok"))
    val bi = df
      .select(col(idCol), explode(graft.functions.WordNGrams.ngrams(
        tokens(col(textCol)), 2)).as("bg"))
      .groupBy(col(idCol), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(col(idCol)).agg(
        sum(col("c")).as("total_bi"), count(lit(1)).as("distinct_bi"))
    df.select(col(idCol))
      .join(tok, Seq(idCol), "left_outer")
      .join(bi, Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_tok"), lit(0L)).cast(LongType).as("n_tokens"),
        coalesce(floor(col("top_c") * 10000.0 / col("n_tok") + 0.5), lit(0L))
          .cast(LongType).as("top_token_ratio_4"),
        coalesce(floor((col("total_bi") - col("distinct_bi")) * 10000.0
            / col("total_bi") + 0.5), lit(0L))
          .cast(LongType).as("dup_bigram_ratio_4"))
  }

  /** Top-k keyword extraction per document: rank a document's tokens by
    * (term frequency desc, corpus document frequency asc, token asc) —
    * the integer-ranked analogue of tf-idf (rarer-in-corpus breaks tf
    * ties), deliberately float-free so rankings are bit-stable across
    * engines and partition orders. Stopwords are excluded.
    *
    * Shape at 100 TB: distinct (doc, token) pairs → one groupBy(token)
    * for corpus df → equi-join back (shuffle by token) → per-doc top-k as
    * a bounded sorted-slice aggregation (shuffle by doc) — NO window
    * function, so no per-partition global sort; state per doc is bounded
    * by its vocabulary. */
  def topKeywords(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    val tf = df
      .select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .filter(!col("tok").isin(StopWords.map(lit): _*) && col("tok") =!= "")
      .groupBy(col(idCol), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val ranked = tf.join(dfreq, Seq("tok"))
      .groupBy(col(idCol))
      .agg(slice(sort_array(collect_list(
        struct((-col("tf")).as("ntf"), col("df"), col("tok")))), 1, k).as("top"))
      .select(col(idCol), posexplode(col("top")))
      .select(col(idCol), (col("pos") + 1).cast(LongType).as("rank"),
        col("col.tok").as("token"), (-col("col.ntf")).as("tf"),
        col("col.df").as("df"))
    ranked
  }

  /** Context-window chunking: split each document's token stream into
    * windows of `chunkTokens` tokens overlapping by `overlap` — the
    * long-document preprocessing step before embedding or training on a
    * fixed context. Starts advance by the stride (chunk − overlap); a
    * tail start whose window would sit entirely inside the previous
    * chunk's coverage (start ≥ n − overlap, start > 0) is dropped, so
    * coverage is complete with bounded duplication. Pure per-row
    * explode — no shuffle, stream-safe. */
  def chunk(df: DataFrame, idCol: String, textCol: String,
      chunkTokens: Int, overlap: Int = 0): DataFrame = {
    require(chunkTokens > 0, s"chunkTokens $chunkTokens must be positive")
    require(overlap >= 0 && overlap < chunkTokens,
      s"overlap $overlap must be in [0, chunkTokens)")
    val stride = chunkTokens - overlap
    val toks = tokens(col(textCol))
    val n = size(toks)
    // null/blank documents produce NO chunks (same contract as shingles'
    // short-doc rule) — without this, "" tokenizes to [""] and would emit
    // a phantom chunk with chunk_text "" but n_chunk_tokens 1
    df.filter(col(textCol).isNotNull && trim(col(textCol)) =!= "")
      .select(col(idCol), toks.as("__toks"), n.as("__n"))
      .withColumn("__start", explode(filter(
        sequence(lit(0), col("__n") - 1, lit(stride)),
        s => s === 0 || s < col("__n") - overlap)))
      .select(col(idCol),
        (col("__start") / stride).cast(LongType).as("chunk_idx"),
        least(lit(chunkTokens), col("__n") - col("__start")).cast(LongType)
          .as("n_chunk_tokens"),
        concat_ws(" ", slice(col("__toks"), col("__start") + 1,
          lit(chunkTokens))).as("chunk_text"))
  }

  /** Corpus vocabulary: the top-k tokens by total frequency, with both
    * term frequency (total occurrences) and document frequency (docs
    * containing the token) — the input to tokenizer training, OOV
    * analysis and stopword discovery. One explode, one two-column
    * aggregate with map-side combine (tf sums, df counts distinct docs
    * via per-doc pre-grouping), one top-k: no global sort of the token
    * table. Ties rank by token text so the cut is deterministic. */
  def vocabulary(df: DataFrame, idCol: String, textCol: String,
      k: Int = 1000): DataFrame = {
    val perDoc = df
      .select(col(idCol).as("__doc"), explode(tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .groupBy(col("__doc"), col("token"))
      .agg(count(lit(1)).as("__tf"))
    perDoc.groupBy(col("token"))
      .agg(sum(col("__tf")).as("tf"), count(lit(1)).as("df"))
      .orderBy(col("tf").desc, col("token").asc)
      .limit(k)
  }

  /** BM25 top-k keyword retrieval — the corpus-search primitive of a
    * training-data pipeline (find documents matching an eval probe, audit
    * a topic's coverage, seed decontamination sweeps). Lucene-form BM25:
    * idf = ln((N - df + 0.5)/(df + 0.5) + 1) (always positive), term
    * weight idf·tf·(k1+1)/(tf + k1·(1 − b + b·len/avglen)).
    *
    * Output is (rank, id) — scores stay internal because IEEE float
    * round-trips break cross-engine hashes while ranks are stable (exact
    * score ties break by id; the [[graft.pipeline.Similarity]] precedent).
    *
    * Scale shape: the token explode is scan-local; `tf` collapses to
    * |matched docs|·|terms| rows before any join; `dfreq` (|terms| rows)
    * and the 1-row corpus stats broadcast; the only corpus-sized shuffles
    * are the two groupBys (lengths, tf), both map-side combined. Top-k is
    * TakeOrdered — no global sort materializes. */
  def bm25TopK(df: DataFrame, idCol: String, textCol: String,
      terms: Seq[String], k: Int = 10, k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty, "bm25TopK needs at least one query term")
    val toks = df.select(col(idCol).as("doc"),
      explode(tokens(col(textCol))).as("tok"))
    val lens = toks.groupBy(col("doc")).agg(count(lit(1)).as("len"))
    val stats = lens.agg(avg(col("len")).as("avglen"),
      count(lit(1)).as("n_docs"))
    val tf = toks.filter(col("tok").isin(terms: _*))
      .groupBy(col("doc"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("dfreq"))
    val scored = tf
      .join(broadcast(dfreq), Seq("tok"))
      .join(lens, Seq("doc"))
      .crossJoin(broadcast(stats))
      .withColumn("__w",
        log((col("n_docs") - col("dfreq") + 0.5) / (col("dfreq") + 0.5) + 1.0) *
          (col("tf") * (k1 + 1)) /
          (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("len") / col("avglen"))))
      .groupBy(col("doc")).agg(sum(col("__w")).as("__score"))
      // rank on the QUANTIZED score (micro-units): the score is a sum of
      // doubles whose addition order differs across engines, so two docs
      // whose true scores collide (or sit within float error) can swap
      // ranks on ulp noise — q_text_bm25 hit exactly that at sf1.
      // Quantizing collapses near-ties onto the deterministic doc-id
      // tie-break; genuinely distinct BM25 scores differ far above 1e-6.
      .withColumn("__q", floor(col("__score") * 1e6 + 0.5))
    val top = scored.orderBy(col("__q").desc, col("doc").asc).limit(k)
    top.withColumn("rank",
        row_number().over(org.apache.spark.sql.expressions.Window
          .orderBy(col("__q").desc, col("doc").asc)).cast(LongType))
      .select(col("rank"), col("doc").as(idCol))
  }

  /** TF-IDF top terms: each document's `k` most characteristic tokens by
    * tf·ln(N/df) — the per-document keyword signature feeding topic
    * bucketing and mixture diagnostics (complements [[bm25TopK]], which
    * ranks DOCS for a fixed query; this ranks TERMS for every doc).
    *
    * Scale shape: one token explode, one map-side-combined (doc, tok)
    * count, one map-side-combined tok document-frequency — NO global
    * vocabulary broadcast (the df table stays distributed; the join back
    * is an equi-join on the token). The only window is per-doc. Score
    * stays per-(doc,term) — never summed — so IEEE determinism needs no
    * fixed-point trick; ranks break ties by term, and only ranks are
    * emitted. Output: (doc, rank, term), rank ≤ k.
    */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3): DataFrame = {
    val toks = df.select(col(idCol).as("doc"),
      explode(tokens(col(textCol))).as("tok"))
    val tf = toks.groupBy(col("doc"), col("tok")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("dfreq"))
    val nDocs = df.agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc"))
      .orderBy(col("__score").desc, col("tok").asc)
    tf.join(dfreq, Seq("tok"))
      .crossJoin(broadcast(nDocs))
      .withColumn("__score", col("tf") * log(col("n_docs") / col("dfreq")))
      .withColumn("rank", row_number().over(w).cast(LongType))
      .filter(col("rank") <= k)
      .select(col("doc"), col("rank"), col("tok").as("term"))
  }

  /** Duplicated-span coverage: the C4/Dolma-style boilerplate signal —
    * per document, the fraction of its distinct n-gram shingles that also
    * occur in at least one OTHER document (or twice in the corpus, since
    * shingles are per-doc distinct: corpus df ≥ 2 ⇔ shared). A page whose
    * spans are mostly corpus-repeated is navigation/boilerplate even when
    * no single whole-document near-duplicate exists, which is exactly the
    * case pairwise dedup misses.
    *
    * Scale shape: shingle ids from the codegen n-gram kernel (no global
    * dictionary), one map-side-combined `groupBy(sid)` for document
    * frequency, one sid equi-join back (never broadcast — the shingle
    * table is corpus-sized), one `groupBy(doc)` rollup; short docs (< n
    * tokens) are kept via the left join with zero coverage. No pair
    * enumeration anywhere — cost is O(corpus shingles), not O(docs²). */
  def dupSpanCoverage(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    val ids = Dedup.shingleIds(df, idCol, textCol, n)
    val dfCnt = ids.groupBy(col("sid")).agg(count(lit(1)).as("__df"))
    val per = ids.join(dfCnt, Seq("sid"))
      .groupBy(col("doc"))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("__df") >= 2, 1L).otherwise(0L)).as("n_dup"))
    df.select(col(idCol))
      .join(per.withColumnRenamed("doc", idCol), Seq(idCol), "left_outer")
      .select(col(idCol),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup"),
        coalesce(floor(col("n_dup") * 10000.0 / col("n_shingles") + 0.5)
          .cast(LongType), lit(0L)).as("dup_ratio_4"))
  }

  /** Corpus-weighted adjacent character pairs — round 1 of BPE training,
    * exposed separately as the oracle-checkable core (the full trainer
    * iterates this same counting over progressively merged symbols).
    * Scale shape: the pair table derives from the DISTINCT-WORD frequency
    * table, not the corpus — one corpus-wide map-side-combined word
    * count, then everything else is vocabulary-sized. */
  def bpePairCounts(df: DataFrame, textCol: String): DataFrame = {
    val words = df.select(explode(tokens(col(textCol))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
    words.select(col("f"), split(col("w"), "").as("s"))
      .filter(size(col("s")) >= 2)
      .select(col("f"), explode(expr(
        "transform(sequence(1, size(s)-1), " +
          "i -> struct(element_at(s, i) AS a, element_at(s, i+1) AS b))")).as("p"))
      .groupBy(col("p.a").as("a"), col("p.b").as("b"))
      .agg(sum(col("f")).as("weight"))
  }

  /** Learn a BPE merge list (Sennrich et al. 2016) from the corpus:
    * `numMerges` rounds of "count adjacent symbol pairs weighted by word
    * frequency, merge the heaviest" (ties break lexicographically, so the
    * result is deterministic on any partitioning). Stops early when the
    * best pair drops below `minFreq`.
    *
    * Scale shape: one corpus-wide word count up front (map-side
    * combined), checkpointed; every round then re-segments only the
    * DISTINCT-WORD table with the native [[graft.functions.BpeSegment]]
    * kernel and aggregates vocabulary-sized pair counts — the corpus is
    * never rescanned. The driver holds only the merge list (K pairs). */
  def bpeTrain(df: DataFrame, textCol: String, numMerges: Int,
      minFreq: Long = 2L): Seq[(String, String)] =
    bpeTrainCore(df, textCol, numMerges, minFreq).map(r => (r._2, r._3))

  /** [[bpeTrain]] with the full learned rule TABLE surfaced — (step, lhs,
    * rhs, cnt): 1-based merge rank, the merged pair, and its weighted
    * count at selection time. This is the oracle-gated form
    * (`q_bpe_train`): the DuckDB side unrolls the identical rounds
    * (run-parity island marks == the kernel's left-to-right
    * non-overlapping application), so the whole training loop — not just
    * round 1's pair count — is hash-verified. `minFreq = 1` by default:
    * rule-table equality with an engine that stops only on exhaustion. */
  def bpeTrainRules(df: DataFrame, textCol: String, numMerges: Int,
      minFreq: Long = 1L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    bpeTrainCore(df, textCol, numMerges, minFreq)
      .toDF("step", "lhs", "rhs", "cnt")
      .select(col("step").cast("long").as("step"), col("lhs"), col("rhs"),
        col("cnt"))
  }

  /** WordPiece merge training (Schuster & Nakajima 2012, "Japanese and
    * Korean voice search"): same loop as [[bpeTrainRules]], but each
    * round merges the pair maximizing the LIKELIHOOD criterion
    * cnt(ab) / (cnt(a)·cnt(b)) over the current segmentation — the merge
    * that most increases corpus likelihood under a unigram model —
    * instead of BPE's raw count. The rank score is the integer
    * cross-ratio `(cnt_ab · 1e12) div (cnt_a · cnt_b)` (DECIMAL(38,0)
    * products; the quotient is ≤ 1e12 because cnt_ab ≤ min(cnt_a,
    * cnt_b)), ties break on count DESC then lexicographically — exact on
    * any engine, so the learned rule table is oracle-hashable
    * (`q_wp_train`). Returns (step, lhs, rhs, score_m).
    *
    * Scale shape adds one unigram aggregation per round over the same
    * re-segmented vocabulary frame (checkpointed per round, freed after
    * both aggregates consume it). */
  def wordPieceTrainRules(df: DataFrame, textCol: String, numMerges: Int,
      minFreq: Long = 1L): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    mergeTrainCore(df, textCol, numMerges, minFreq, likelihood = true)
      .toDF("step", "lhs", "rhs", "score_m")
      .select(col("step").cast("long").as("step"), col("lhs"), col("rhs"),
        col("score_m"))
  }

  private def bpeTrainCore(df: DataFrame, textCol: String, numMerges: Int,
      minFreq: Long): Seq[(Int, String, String, Long)] =
    mergeTrainCore(df, textCol, numMerges, minFreq, likelihood = false)

  /** Shared merge-training loop: per round, re-segment the vocabulary
    * with the learned merges (the native [[graft.functions.BpeSegment]]
    * kernel), aggregate pair weights (+ unigram counts for the
    * likelihood criterion), take the deterministic argmax, repeat. The
    * 4th tuple element is the selection metric — raw weight for BPE, the
    * 1e12-scaled likelihood cross-ratio for WordPiece. */
  private def mergeTrainCore(df: DataFrame, textCol: String, numMerges: Int,
      minFreq: Long, likelihood: Boolean): Seq[(Int, String, String, Long)] = {
    val words = df.select(explode(tokens(col(textCol))).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
      .localCheckpoint(true)
    try {
      val merges = scala.collection.mutable
        .ArrayBuffer.empty[(Int, String, String, Long)]
      var exhausted = false
      while (merges.size < numMerges && !exhausted) {
        val seg = words
          .select(col("f"),
            graft.functions.BpeSegment.segment(array(col("w")),
              merges.toSeq.map(r => (r._2, r._3))).as("s"))
        val pairsOf = (sg: DataFrame) => sg
          .filter(size(col("s")) >= 2)
          .select(col("f"), explode(expr(
            "transform(sequence(1, size(s)-1), " +
              "i -> struct(element_at(s, i) AS a, element_at(s, i+1) AS b))")).as("p"))
          .groupBy(col("p.a").as("a"), col("p.b").as("b"))
          .agg(sum(col("f")).as("weight"))
        val top =
          if (!likelihood)
            pairsOf(seg).orderBy(col("weight").desc, col("a"), col("b"))
              .limit(1).collect()
          else {
            // both aggregates read the same re-segmentation — materialize
            // it once, free after
            val segM = seg.localCheckpoint(eager = true)
            val uni = segM.select(col("f"), explode(col("s")).as("sym"))
              .groupBy(col("sym")).agg(sum(col("f")).as("c"))
            val out = pairsOf(segM)
              .join(uni.select(col("sym").as("a"), col("c").as("ca")), Seq("a"))
              .join(uni.select(col("sym").as("b"), col("c").as("cb")), Seq("b"))
              .select(col("a"), col("b"), col("weight"),
                expr("(CAST(weight AS DECIMAL(38,0)) * 1000000000000) div " +
                  "(CAST(ca AS DECIMAL(38,0)) * cb)").as("score_m"))
              .orderBy(col("score_m").desc, col("weight").desc, col("a"),
                col("b"))
              .limit(1).collect()
            graft.core.Blocks.free(segM)
            out
          }
        if (top.isEmpty || top(0).getLong(2) < minFreq) exhausted = true
        else merges += ((merges.size + 1, top(0).getString(0),
          top(0).getString(1),
          if (likelihood) top(0).getLong(3) else top(0).getLong(2)))
      }
      merges.toSeq
    } finally graft.core.Blocks.free(words)
  }

  /** All per-document text statistics in ONE pass: explode tokens once,
    * aggregate with conditional sums (map-side combined, single shuffle).
    * The fingerprint folds into the same aggregation as
    * md5(sorted collect_set) — identical bytes to the row-local
    * md5(sorted distinct tokens) — so there is no second scan of the
    * table and no re-join; one scan, one shuffle, 5 outputs. */
  def textStats(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), explode(tokens(col(textCol))).as("tok"))
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).cast("int").as("n_tokens"),
        sum(length(col("tok"))).as("sum_len"),
        sum(when(col("tok").isin(StopWords.map(lit): _*), 1L).otherwise(0L)).as("n_stop"),
        sum(ceil(length(col("tok")) / lit(4.0)).cast(LongType)).as("bpeish"),
        md5(concat_ws(" ", array_sort(collect_set(col("tok"))))).as("fingerprint"))
      .select(col(idCol), col("n_tokens"),
        floor(col("sum_len") * 10000.0 / col("n_tokens") + 0.5).cast(LongType)
          .as("avg_token_len_4"),
        floor(col("n_stop") * 10000.0 / col("n_tokens") + 0.5).cast(LongType)
          .as("stopword_ratio_4"),
        col("bpeish"), col("fingerprint"))
}
