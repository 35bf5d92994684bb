package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, language ID, quality scoring, document fingerprinting.
  *
  * All pure column expressions (split/filter/transform/aggregate over
  * arrays) — codegen'd, no UDFs, no shuffles; they scale linearly and stay
  * inside whole-stage codegen. Each has an exact DuckDB-SQL equivalent used
  * by the driver oracle.
  */
object TextAnalysis {

  /** Whitespace tokens with empties removed; empty/null text → empty array. */
  def tokens(text: Column): Column =
    filter(split(coalesce(text, lit("")), "\\s+"), t => t =!= "")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** Pairwise term-count cosine between corpus slices (sources,
    * snapshots, shards) — "which sources are mirrors of each other"
    * at the SLICE level, where the doc-level dedup tier sees only
    * pairs: `cos(A,B) = Σ_t cA(t)·cB(t) / (‖cA‖·‖cB‖)` over whitespace
    * term counts. Plain counts, deliberately not tf-idf: idf needs a
    * data-dependent log (not engine-portable) and mirror detection
    * wants the raw bulk overlap anyway.
    *
    * Exactness: the dot and squared norms are pure LONG sums
    * (order-free); the only doubles are two sqrt and one division
    * (portable IEEE), so the DuckDB twin is hash-exact. Token counts
    * cap at 2^31 per (slice, term) before the dot could overflow —
    * beyond that, sample.
    *
    * Scale shape: ONE corpus-sized groupBy to (slice, term) counts
    * (map-side partials, pinned — the self-join reads it twice and
    * Spark never dedups a common subplan), a term-keyed self-join
    * whose fan-out per term is bounded by the SLICE count squared
    * (slices are few by definition — and REFUSED loudly above
    * `maxSlices`: a universal term across S slices fabricates S² join
    * rows, so a caller passing a document-granularity key must be
    * stopped eagerly, not discovered in a dead executor; doc-level
    * near-dup belongs to the MinHash/SimHash dedup tier), slice-sized
    * norm and final tables. Output: `(key_a, key_b, dot, cosine)`
    * with key_a < key_b, all pairs with any overlap.
    */
  def sourceSimilarity(
      df: DataFrame, keyCol: String, textCol: String,
      maxSlices: Int = 1024): DataFrame =
    sourceSimilarityFromCounts(sliceTermCounts(df, keyCol, textCol),
      maxSlices)

  /** The per-(slice, term) token counts `(__k, __t, __c)` both slice
    * comparators read — SUM-MERGEABLE (counts of a union of corpora
    * are the summed union of their counts), which is what lets
    * [[graft.streaming.StreamingOps.termCountSink]] stream corpus
    * batches into a stat log and the standing FromLog twins
    * reconstruct the exact batch statistics later. NULL-keyed rows
    * drop (the batch operators' convention).
    */
  private[graft] def sliceTermCounts(
      df: DataFrame, keyCol: String, textCol: String): DataFrame =
    df.where(col(keyCol).isNotNull)
      .select(col(keyCol).cast("string").as("__k"),
        explode(tokens(col(textCol))).as("__t"))
      .groupBy(col("__k"), col("__t"))
      .agg(count(lit(1)).as("__c"))

  /** [[sourceSimilarity]] from pre-aggregated `(__k, __t, __c)` slice
    * term counts (duplicates re-fold internally — log readers pass
    * batch cells as-is). Carries the same eager `maxSlices` refusal,
    * checked against the COUNTS' distinct keys.
    */
  def sourceSimilarityFromCounts(
      rawCounts: DataFrame, maxSlices: Int = 1024): DataFrame = {
    require(maxSlices >= 2 && maxSlices <= 65536,
      s"maxSlices must be in 2..65536, got $maxSlices")
    val counts = graft.core.Caches.pin(rawCounts
      .groupBy(col("__k"), col("__t"))
      .agg(sum(col("__c")).as("__c")))
    try graft.core.Caches.holding { held =>
      // eager slice-cardinality guard: the self-join below is quadratic
      // in slices sharing a term — fine for sources/snapshots (tens to
      // hundreds), a silent detonation for a doc-granularity key
      val nSlices = counts.agg(countDistinct(col("__k")).as("__ns"))
        .head().getAs[Long]("__ns")
      require(nSlices <= maxSlices,
        s"sourceSimilarity: $nSlices distinct slices (> " +
          s"maxSlices=$maxSlices) — the term-keyed self-join is " +
          "quadratic per shared term; this operator compares corpus " +
          "SLICES (sources/snapshots/shards), not documents — for " +
          "doc-granularity near-dup use the dedup tier " +
          "(minHashLsh/simHashDedup)")
      val norms = counts.groupBy(col("__k"))
        .agg(sum(col("__c") * col("__c")).as("__ss"))
      val dots = counts.select(col("__k").as("key_a"), col("__t"),
          col("__c").as("__ca"))
        .join(counts.select(col("__k").as("key_b"), col("__t"),
          col("__c").as("__cb")), Seq("__t"))
        .where(col("key_a") < col("key_b"))
        .groupBy(col("key_a"), col("key_b"))
        .agg(sum(col("__ca") * col("__cb")).as("dot"))
      held(dots
        .join(broadcast(norms.select(col("__k").as("key_a"),
          col("__ss").as("__ssa"))), "key_a")
        .join(broadcast(norms.select(col("__k").as("key_b"),
          col("__ss").as("__ssb"))), "key_b")
        .select(col("key_a"), col("key_b"), col("dot"),
          round(col("dot").cast("double") /
            (sqrt(col("__ssa").cast("double")) *
              sqrt(col("__ssb").cast("double"))), 6).as("cosine")))
    } finally counts.unpersist()
  }

  /** Pairwise Jensen–Shannon divergence between corpus slices' token
    * distributions — the DISTRIBUTION-drift companion to
    * [[sourceSimilarity]] (cosine finds mirrors; JSD measures how far
    * two sources' language actually diverges, bounded in [0, ln 2],
    * symmetric, finite even on disjoint support — where KL explodes).
    * Snapshot-over-snapshot JSD is the standard corpus-drift monitor.
    *
    * Decomposition that keeps the pair join intersection-only:
    * `KL(P‖M) = ln2·(1 − P∩) + Σ_{t∈A∩B} p·ln(2p/(p+q))` — terms on
    * one side only contribute their probability mass times ln 2, so
    * only SHARED terms are joined. Each shared-term summand is
    * `p·ln(2·cA·NB / (cA·NB + cB·NA))` — a log of an exact BIGINT
    * rational whose LONG products are bounded by an EAGER per-slice
    * token-total refusal (≤ 2e9 tokens per slice keeps the worst-case
    * cross term 2·ntA·ntB inside 2^63) — nano-quantized at birth
    * and LONG-summed (order-free), so the DuckDB twin is hash-exact.
    *
    * Scale shape and guard are [[sourceSimilarity]]'s: one corpus
    * groupBy to (slice, term) counts (pinned), the term-keyed
    * self-join bounded by the EAGER `maxSlices` refusal, slice-sized
    * totals broadcast. Output: `(key_a, key_b, n_common_terms, jsd)`
    * with key_a < key_b; pairs sharing NO term are absent (their JSD
    * is exactly ln 2).
    */
  def sliceDivergence(
      df: DataFrame, keyCol: String, textCol: String,
      maxSlices: Int = 1024): DataFrame =
    sliceDivergenceFromCounts(sliceTermCounts(df, keyCol, textCol),
      maxSlices)

  /** [[sliceDivergence]] from pre-aggregated `(__k, __t, __c)` slice
    * term counts — the same sum-mergeable statistic
    * [[sourceSimilarityFromCounts]] reads, so one streamed term-count
    * log serves both standing slice comparisons.
    */
  def sliceDivergenceFromCounts(
      rawCounts: DataFrame, maxSlices: Int = 1024): DataFrame = {
    require(maxSlices >= 2 && maxSlices <= 65536,
      s"maxSlices must be in 2..65536, got $maxSlices")
    val ln2 = lit(0.6931471805599453)
    val counts = graft.core.Caches.pin(rawCounts
      .groupBy(col("__k"), col("__t"))
      .agg(sum(col("__c")).as("__c")))
    try graft.core.Caches.holding { held =>
      val nSlices = counts.agg(countDistinct(col("__k")).as("__ns"))
        .head().getAs[Long]("__ns")
      require(nSlices <= maxSlices,
        s"sliceDivergence: $nSlices distinct slices (> " +
          s"maxSlices=$maxSlices) — the term-keyed self-join is " +
          "quadratic per shared term; this operator compares corpus " +
          "SLICES, not documents")
      val totals = counts.groupBy(col("__k"))
        .agg(sum(col("__c")).as("__nt"))
      // EAGER token-total bound: the exact-rational cross term
      // `ca·nb + cb·na` is a LONG whose worst case is 2·ntA·ntB —
      // inside 2^63 only while every slice total stays ≤ 2e9 tokens
      // (2·(2e9)² ≈ 8.0e18 < 9.22e18). Cheap: `totals` is slice-sized
      // (≤ maxSlices rows) and `counts` is already pinned.
      val maxNt = totals.agg(max(col("__nt")).as("__m")).head()
      val biggestNt = if (maxNt.isNullAt(0)) 0L else maxNt.getAs[Long]("__m")
      require(biggestNt <= 2000000000L,
        s"sliceDivergence: a slice holds $biggestNt tokens (> 2e9) — " +
          "the exact LONG cross term ca·nb + cb·na would overflow " +
          "2^63; shard slices or sample upstream")
      val joined = counts.select(col("__k").as("key_a"), col("__t"),
          col("__c").as("__ca"))
        .join(counts.select(col("__k").as("key_b"), col("__t"),
          col("__c").as("__cb")), Seq("__t"))
        .where(col("key_a") < col("key_b"))
        .join(broadcast(totals.select(col("__k").as("key_a"),
          col("__nt").as("__na"))), "key_a")
        .join(broadcast(totals.select(col("__k").as("key_b"),
          col("__nt").as("__nb"))), "key_b")
      // per shared term, both sides' p·ln(2p/(p+q)) in exact-rational
      // form, nano-quantized at birth
      val cross = col("__ca") * col("__nb") + col("__cb") * col("__na")
      val termA = round(col("__ca").cast("double") / col("__na") *
        log(lit(2.0) * (col("__ca") * col("__nb")).cast("double") / cross) *
        lit(1e9)).cast("long")
      val termB = round(col("__cb").cast("double") / col("__nb") *
        log(lit(2.0) * (col("__cb") * col("__na")).cast("double") / cross) *
        lit(1e9)).cast("long")
      held(joined
        .groupBy(col("key_a"), col("key_b"))
        .agg(count(lit(1)).as("n_common_terms"),
          sum(col("__ca")).as("__cas"), sum(col("__cb")).as("__cbs"),
          sum(termA).as("__san"), sum(termB).as("__sbn"),
          max(col("__na")).as("__na"), max(col("__nb")).as("__nb"))
        .select(col("key_a"), col("key_b"), col("n_common_terms"),
          round(lit(0.5) * (ln2 * (lit(1.0) -
              col("__cas").cast("double") / col("__na")) +
              col("__san").cast("double") / lit(1e9)) +
            lit(0.5) * (ln2 * (lit(1.0) -
              col("__cbs").cast("double") / col("__nb")) +
              col("__sbn").cast("double") / lit(1e9)), 6).as("jsd")))
    } finally counts.unpersist()
  }

  /** T5-style span-corruption pairs (Raffel et al. 2020 §3.1.4 — the
    * denoising pretraining objective): mask contiguous token spans,
    * emit `(input_text, target_text)` where the input carries numbered
    * sentinels in place of each span and the target lists each
    * sentinel with its masked tokens.
    *
    * Span placement is BLOCK-GRIDDED for engine-exact determinism (the
    * draw-as-you-scan scheme in the paper needs sequential RNG state —
    * not order-free): tokens partition into consecutive blocks of
    * `blockSize`; every FULL block is corrupted by exactly one span
    * whose length `1 + sha(seed:id:b:len) % maxSpan` and offset
    * `sha(seed:id:b:off) % (blockSize − len + 1)` derive from sha-256
    * — blocks are independent, so the whole construction is one
    * in-row array expression (no explode, no shuffle, no RNG state),
    * and any engine replays the identical pair. The partial tail
    * block is never corrupted. Expected corruption rate =
    * `(1 + maxSpan)/2 / blockSize` (the defaults ≈ 15%, the paper's
    * operating point). Sentinel `K` is the block index, so sentinels
    * ascend left to right as the objective requires.
    *
    * Output: `(id, input_text, target_text, n_spans, n_masked)`;
    * empty/short docs keep their row with empty target and zero
    * counts — a corpus row never silently vanishes.
    */
  def spanCorruption(
      docs: DataFrame, idCol: String, textCol: String,
      blockSize: Int = 20, maxSpan: Int = 5,
      seed: String = "t5"): DataFrame = {
    require(blockSize >= 4 && blockSize <= 1000,
      s"blockSize must be in 4..1000, got $blockSize")
    require(maxSpan >= 1 && maxSpan * 2 <= blockSize,
      s"maxSpan must be in 1..blockSize/2, got $maxSpan")
    val toks = tokens(col(textCol))
    val n = size(toks)
    val b = lit(blockSize)
    def h(blk: Column, tag: String): Column =
      hash60(concat_ws(":", lit(seed), col(idCol).cast("string"),
        blk.cast("string"), lit(tag)))
    // one (len, start) draw per FULL block, then per-position lookups
    val spans = transform(sequence(lit(0), floor(n / b).cast("int") - 1),
      blk => {
        val len = (lit(1) + h(blk, "len") % maxSpan).cast("int")
        val off = (h(blk, "off") % (b - len + 1)).cast("int")
        struct((blk * b + off).as("s"), (blk * b + off + len).as("e"))
      })
    val withSpans = docs.select(col(idCol), toks.as("__t"), n.as("__n"),
      when(n >= b, spans).otherwise(array()
        .cast("array<struct<s:int,e:int>>")).as("__sp"))
    // sequence(0, -1) DESCENDS for an empty doc (the docFeatures
    // lesson); guard to []
    val pos = when(col("__n") === 0, array().cast("array<int>"))
      .otherwise(sequence(lit(0), col("__n") - 1))
    def spanOf(p: Column): Column = element_at(col("__sp"), (p / b + 1)
      .cast("int"))
    val inSpan = (p: Column) => col("__n") >= b && (p / b) < size(col("__sp")) &&
      p >= spanOf(p).getField("s") && p < spanOf(p).getField("e")
    val isStart = (p: Column) => col("__n") >= b && (p / b) < size(col("__sp")) &&
      p === spanOf(p).getField("s")
    val sentinel = (p: Column) =>
      concat(lit("<extra_id_"), (p / b).cast("long"), lit(">"))
    val ipieces = transform(pos, p =>
      when(isStart(p), sentinel(p))
        .when(inSpan(p), lit(""))
        .otherwise(element_at(col("__t"), (p + 1).cast("int"))))
    val tpieces = transform(pos, p =>
      when(isStart(p), concat(sentinel(p), lit(" "),
          element_at(col("__t"), (p + 1).cast("int"))))
        .when(inSpan(p), element_at(col("__t"), (p + 1).cast("int")))
        .otherwise(lit("")))
    withSpans.select(col(idCol),
      array_join(filter(ipieces, p => p =!= ""), " ").as("input_text"),
      array_join(filter(tpieces, p => p =!= ""), " ").as("target_text"),
      size(col("__sp")).cast("long").as("n_spans"),
      aggregate(col("__sp"), lit(0L),
        (acc, s) => acc + (s.getField("e") - s.getField("s"))).as("n_masked"))
  }

  /** Fill-in-the-middle transformation (Bavarian et al. 2022, "Efficient
    * Training of Language Models to Fill in the Middle"): reorder a
    * sha-gated fraction of documents into the PSM layout
    * `<fim_prefix> P <fim_suffix> S <fim_middle> M` so an
    * autoregressive model learns infilling "for free"; the rest pass
    * through untouched (the paper's ~50% operating point).
    *
    * The two split points are `sha(seed:id:1) % (n+1)` and
    * `sha(seed:id:2) % (n+1)`, ordered — uniform over ordered cut
    * pairs, engine-exact, and trivially invertible: P+M+S re-joined in
    * document order IS the original token stream (the spec pins the
    * reconstruction). One in-row array expression — no explode, no
    * shuffle, no RNG state.
    *
    * Output: `(id, fim_text, is_fim, n_prefix, n_middle, n_suffix)`;
    * non-transformed docs carry the original text with NULL segment
    * counts. Empty docs keep their row.
    */
  def fimTransform(
      docs: DataFrame, idCol: String, textCol: String,
      rateMicros: Long = 500000L, seed: String = "fim"): DataFrame = {
    require(rateMicros >= 0L && rateMicros <= 1000000L,
      s"rateMicros must be in [0, 1000000], got $rateMicros")
    def h(tag: String): Column =
      hash60(concat_ws(":", lit(seed), col(idCol).cast("string"), lit(tag)))
    val toks = tokens(col(textCol))
    val n = size(toks)
    val h1 = (h("1") % (n + 1)).cast("int")
    val h2 = (h("2") % (n + 1)).cast("int")
    val lo = least(h1, h2)
    val hi = greatest(h1, h2)
    val gate = h("gate") % 1000000L < rateMicros
    val fim = array_join(concat(
      array(lit("<fim_prefix>")), slice(toks, lit(1), lo),
      array(lit("<fim_suffix>")), slice(toks, hi + 1, n - hi),
      array(lit("<fim_middle>")), slice(toks, lo + 1, hi - lo)), " ")
    docs.select(col(idCol),
      when(gate, fim).otherwise(coalesce(col(textCol), lit("")))
        .as("fim_text"),
      gate.as("is_fim"),
      when(gate, lo.cast("long")).as("n_prefix"),
      when(gate, (hi - lo).cast("long")).as("n_middle"),
      when(gate, (n - hi).cast("long")).as("n_suffix"))
  }

  /** Flesch Reading Ease + Flesch–Kincaid grade level per document —
    * the classic readability gates for training-data curation (a
    * reading-ease floor drops OCR shrapnel and keyword-stuffed spam; a
    * grade-level band targets a difficulty mix). Counts use loudly
    * simple, engine-portable rules: words = whitespace tokens
    * ([[tokens]]), sentences = runs of `[.!?]` (floored at 1),
    * syllables per word = vowel-GROUP count (`[aeiouyAEIOUY]+` runs,
    * floored at 1 — the standard cheap approximation; no silent-e
    * special cases, documented as the contract).
    *
    * `FRE = 206.835 − 1.015·(words/sentences) − 84.6·(syll/words)`,
    * `FKGL = 0.39·(words/sentences) + 11.8·(syll/words) − 15.59`
    * (Kincaid 1975). All counts are exact integers; the scores are a
    * handful of portable IEEE ops over them with the constants as
    * double literals, so the DuckDB twin is hash-exact. Zero-word docs
    * yield NULL scores. One narrow projection — no shuffle, no UDF.
    */
  def readabilityScores(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = tokens(col(textCol))
    val words = size(toks).cast("long")
    val sentences = greatest(lit(1L),
      size(regexp_extract_all(coalesce(col(textCol), lit("")),
        lit("[.!?]+"), lit(0))).cast("long"))
    val syllables = aggregate(
      transform(toks, t => greatest(lit(1),
        size(regexp_extract_all(t, lit("[aeiouyAEIOUY]+"), lit(0))))
        .cast("long")),
      lit(0L), (acc, x) => acc + x)
    docs.select(col(idCol), words.as("n_words"),
        sentences.as("n_sentences"), syllables.as("n_syllables"))
      .withColumn("fre",
        when(col("n_words") === 0L, lit(null)).otherwise(round(
          lit(206.835) -
            lit(1.015) * (col("n_words").cast("double") / col("n_sentences")) -
            lit(84.6) * (col("n_syllables").cast("double") / col("n_words")),
          6)))
      .withColumn("fkgl",
        when(col("n_words") === 0L, lit(null)).otherwise(round(
          lit(0.39) * (col("n_words").cast("double") / col("n_sentences")) +
            lit(11.8) * (col("n_syllables").cast("double") / col("n_words")) -
            lit(15.59), 6)))
  }

  /** Porter-stemmed whitespace tokens ([[graft.functions.PorterStem]],
    * codegen'd per element): the recall lever for the search tier —
    * "running"/"runs"/"run" collapse to one posting. Words the stemmer
    * contract excludes (numbers, URLs, non-ASCII, mixed case after
    * `lowercase = false`) pass through unchanged.
    */
  def stemTokens(text: Column, lowercase: Boolean = true): Column = {
    val toks = tokens(text)
    val lowered = if (lowercase) transform(toks, t => lower(t)) else toks
    transform(lowered, t => graft.functions.PorterStem(t))
  }

  /** BPE-ish token count: word chunks and single punctuation marks counted
    * separately (`\w+|[^\w\s]` — the usual pre-tokenizer shape).
    */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(coalesce(text, lit("")), lit("[A-Za-z0-9_]+|[^A-Za-z0-9_\\s]"), lit(0)))

  /** Ratio of punctuation characters to total characters (0 for empty). */
  def punctRatio(text: Column): Column = {
    val len = length(coalesce(text, lit("")))
    val punct = length(regexp_replace(coalesce(text, lit("")), "[^!-/:-@\\[-`{-~]", ""))
    when(len === 0, lit(0.0)).otherwise(punct.cast("double") / len)
  }

  /** Ratio of uppercase letters to total characters (0 for empty). */
  def upperRatio(text: Column): Column = {
    val len = length(coalesce(text, lit("")))
    val upper = length(regexp_replace(coalesce(text, lit("")), "[^A-Z]", ""))
    when(len === 0, lit(0.0)).otherwise(upper.cast("double") / len)
  }

  /** Ratio of tokens that are in `stopwords` (lowercased compare). */
  def stopwordRatio(text: Column, stopwords: Seq[String]): Column =
    stopwordRatioFromTokens(tokens(text), stopwords)

  /** [[stopwordRatio]] over a pre-projected token array column — use this
    * form when combining several token-based stats in one projection so the
    * tokenizer runs once per row, not once per stat.
    */
  def stopwordRatioFromTokens(toks: Column, stopwords: Seq[String]): Column = {
    val sw = array(stopwords.map(w => lit(w.toLowerCase)): _*)
    when(size(toks) === 0, lit(0.0))
      .otherwise(size(filter(toks, t => array_contains(sw, lower(t))))
        .cast("double") / size(toks))
  }

  /** Common-word sets for the language-ID heuristic. Tiny on purpose — an
    * n-gram/stopword-hit scorer, not a real model.
    */
  val LanguageStopwords: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "that", "for"),
    "de" -> Seq("der", "die", "das", "und", "ist", "nicht", "ein", "mit"),
    "fr" -> Seq("le", "la", "les", "et", "est", "pas", "une", "dans"),
    "es" -> Seq("el", "la", "los", "y", "es", "no", "una", "por"))

  /** Per-language stopword hit count. */
  def languageScore(text: Column, words: Seq[String]): Column =
    languageScoreFromTokens(tokens(text), words)

  def languageScoreFromTokens(toks: Column, words: Seq[String]): Column = {
    val sw = array(words.map(w => lit(w.toLowerCase)): _*)
    size(filter(toks, t => array_contains(sw, lower(t))))
  }

  /** Heuristic language ID: argmax of stopword hits, first-listed language
    * wins ties, "und" (undetermined) when no stopword hits at all.
    */
  def languageId(text: Column): Column = languageIdFromTokens(tokens(text))

  /** [[languageId]] over a pre-projected token array column. The argmax
    * references each score several times, so feed it a cheap attribute —
    * with a raw text column the tokenizer would rerun per reference.
    */
  def languageIdFromTokens(toks: Column): Column = {
    val scores = LanguageStopwords.map { case (lang, words) =>
      lang -> languageScoreFromTokens(toks, words)
    }
    val best = greatest(scores.map(_._2): _*)
    scores.reverse.foldLeft(lit("und")) { case (acc, (lang, score)) =>
      when(score > 0 && score === best, lit(lang)).otherwise(acc)
    }
  }

  /** Sentence-level language segmentation: one row per sentence
    * ([[sentences]] boundaries) with its [[languageId]] verdict —
    * `(idCol, sent_pos, sentence, lang)`. The cleaning signal DOC-level
    * language ID structurally misses: a page that is 70% English
    * boilerplate around a German article scores "en" as a document but
    * segments as mixed here. Documents with no sentences (empty text)
    * emit no rows.
    */
  def sentenceLanguages(
      docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(col(idCol),
        posexplode(sentences(col(textCol))).as(Seq("sent_pos", "sentence")))
      .withColumn("lang", languageIdFromTokens(tokens(col("sentence"))))

  /** Per-document language-mixture rollup over [[sentenceLanguages]]:
    * `(idCol, n_sentences, n_langs, majority_lang, majority_frac,
    * mixed)` — distinct identified (non-`und`) languages, the
    * sentence-majority language (ties to the lexically smallest;
    * `und` competes, so an unidentifiable document says so), its
    * share, and the `n_langs >= 2` mixed flag. Two hash aggregates
    * (sentence-level then doc-level), no windows over the corpus.
    */
  def languageMixture(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val counts = sentenceLanguages(docs, idCol, textCol)
      .groupBy(col(idCol), col("lang")).agg(count(lit(1)).as("__c"))
    counts.groupBy(col(idCol))
      .agg(sum(col("__c")).as("n_sentences"),
        count(when(col("lang") =!= "und", lit(1))).as("n_langs"),
        min(struct((-col("__c")).as("nc"), col("lang").as("l"))).as("__m"))
      .select(col(idCol), col("n_sentences"), col("n_langs"),
        col("__m.l").as("majority_lang"),
        ((-col("__m.nc")).cast("double") / col("n_sentences"))
          .as("majority_frac"),
        (col("n_langs") >= 2).as("mixed"))
  }

  /** Char n-gram pseudo-tokens for language identification (Cavnar &
    * Trenkle 1994's character-profile idea, the fastText langid feature
    * set — Joulin 2016): the text lowercases, whitespace runs collapse
    * to `_`, one `_` sentinel lands on each side, and every `n`-gram of
    * the normalized string for each `n` in `ns` becomes one token —
    * `"the cat"` → `_th`, `the`, `he_`, `e_c`, … Word-boundary
    * information survives in the sentinel, and no pseudo-token ever
    * contains a literal space, so `array_join(…, " ")` round-trips
    * through the whitespace tokenizer — [[Classifier]]'s hashed-BoW
    * train/score path consumes the n-grams UNCHANGED, integer-exact
    * discipline included. Pure codegen'd expressions, one pass.
    */
  def charNgramTokens(text: Column, ns: Seq[Int] = Seq(3, 4, 5)): Column = {
    require(ns.nonEmpty && ns.forall(n => n >= 1 && n <= 8),
      s"ns must be non-empty n-gram sizes in 1..8, got $ns")
    val norm = concat(lit("_"),
      regexp_replace(lower(coalesce(text, lit(""))), "\\s+", "_"),
      lit("_"))
    val arrays = ns.map { n =>
      when(length(norm) < n, array().cast("array<string>"))
        .otherwise(transform(sequence(lit(1), length(norm) - n + 1),
          i => norm.substr(i, lit(n))))
    }
    if (arrays.size == 1) arrays.head else concat(arrays: _*)
  }

  /** A trained language-ID model: one one-vs-rest [[Classifier]] binary
    * model per language over [[charNgramTokens]] features, languages in
    * sorted order. Integer micro-unit logits end to end, so prediction
    * is an exact-integer argmax — engine-reproducible bit for bit.
    */
  final case class LangIdModel(
      langs: Seq[String],
      models: Seq[Classifier.TextClassifierModel],
      ns: Seq[Int]) {

    /** Append one exact-integer logit per language
      * (`<outCol>_<lang>_micros`) and the argmax language `outCol`
      * (ties break to the lexically smallest language — a pure integer
      * comparison, unlike [[languageId]]'s list-order tie). Zero
      * shuffles: the whole path is per-row expressions. The n-gram
      * hash runs ONCE per row — every language's logit reads the same
      * bucket array ([[Classifier.logitMicrosFromBuckets]]) instead of
      * re-tokenizing and re-hashing per model; n-grams never contain
      * whitespace and are already lowercase, so bucketing them directly
      * equals bucketing `tokens(array_join(grams, " "))` term for term.
      */
    def predict(df: DataFrame, textCol: String,
        outCol: String = "lang_pred"): DataFrame = {
      val dim = models.head.dim
      require(models.forall(_.dim == dim),
        "LangIdModel: per-language models disagree on dim")
      val scored = langs.zip(models).foldLeft(
        df.withColumn("__bkts",
          transform(charNgramTokens(col(textCol), ns),
            g => Classifier.tokenBucket(g, dim)))) {
        case (d, (l, m)) =>
          d.withColumn(s"${outCol}_${l}_micros",
            Classifier.logitMicrosFromBuckets(col("__bkts"),
              m.weightsMicros.toIndexedSeq, m.biasMicros))
      }
      val picks = array(langs.map(l => struct(
        (-col(s"${outCol}_${l}_micros")).as("n"), lit(l).as("l"))): _*)
      scored.withColumn(outCol, array_min(picks).getField("l"))
        .drop("__bkts")
    }
  }

  /** Train a character-n-gram language classifier from a labeled corpus
    * — the TRAINED upgrade of the [[languageId]] stopword heuristic
    * (which only knows its hardcoded list's languages and ties on
    * shared stopwords like fr/es `la`): one-vs-rest [[Classifier.train]]
    * runs per distinct label over the SHARED pinned pseudo-token
    * projection, so the n-gram pass is paid once, not per language.
    * Everything downstream inherits the T91 discipline — exact
    * integer-micro GD (identical on any engine), hashed buckets,
    * driver-bounded weights (langs × dim longs).
    *
    * Labels must be non-null; 2..32 distinct languages (a langid label
    * set, not an open vocabulary — the per-language scoring expressions
    * multiply per row). Returns the [[LangIdModel]]; persist the parts
    * with [[Classifier.saveModel]] per language if needed.
    */
  def trainLangId(
      df: DataFrame,
      textCol: String,
      langCol: String,
      dim: Int = 1024,
      iters: Int = 10,
      lr: Double = 1.0,
      ns: Seq[Int] = Seq(3, 4, 5)): LangIdModel = {
    val nulls = df.agg(count(when(col(langCol).isNull, 1)).as("__n"))
      .head().getAs[Long]("__n")
    require(nulls == 0L,
      s"trainLangId: $nulls NULL `$langCol` row(s) — every training doc " +
        "needs a language label; filter deliberately upstream")
    val langs = df.select(col(langCol).cast("string").as("__l"))
      .distinct().collect().map(_.getString(0)).sorted.toSeq
    require(langs.size >= 2 && langs.size <= 32,
      s"trainLangId: ${langs.size} distinct language label(s) — need " +
        "2..32 (one-vs-rest scoring multiplies per language)")
    // one shared feature pass + lockstep per-language GD: bit-identical
    // to per-language Classifier.train over the same n-gram text, but
    // the tokenize+hash pass runs once and each iteration is ONE
    // gradient job carrying every language's error column
    val base = df.select(
      array_join(charNgramTokens(col(textCol), ns), " ").as("__cng"),
      col(langCol).cast("string").as("__lang"))
    LangIdModel(langs,
      Classifier.trainOneVsRest(base, "__cng", "__lang", langs,
        dim = dim, iters = iters, lr = lr),
      ns)
  }

  /** Composite quality score in [0,1]: rewards mid-length documents and
    * normal word length, penalizes punctuation/uppercase excess. The exact
    * formula is semantics-bearing for the oracle:
    * 0.25·min(1, tokens/50) + 0.25·(1 - min(1, punctRatio·4))
    * + 0.25·(1 - min(1, upperRatio·4)) + 0.25·(meanWordLen in [3,12]).
    */
  def qualityScore(text: Column): Column =
    qualityScoreFromTokens(text, tokens(text))

  /** [[qualityScore]] with a pre-projected token array column. */
  def qualityScoreFromTokens(text: Column, toks: Column): Column = {
    val nTok = size(toks)
    val lenScore = least(lit(1.0), nTok.cast("double") / 50.0)
    val punctScore = lit(1.0) - least(lit(1.0), punctRatio(text) * 4.0)
    val upperScore = lit(1.0) - least(lit(1.0), upperRatio(text) * 4.0)
    val meanWordLen = when(nTok === 0, lit(0.0))
      .otherwise(length(regexp_replace(coalesce(text, lit("")), "\\s+", ""))
        .cast("double") / nTok)
    val wordLenScore = when(meanWordLen >= 3.0 && meanWordLen <= 12.0, lit(1.0))
      .otherwise(lit(0.0))
    round(lenScore * 0.25 + punctScore * 0.25 + upperScore * 0.25
      + wordLenScore * 0.25, 6)
  }

  /** 60-bit hash of a string: first 15 hex chars of SHA-256 as a bigint.
    * 15 hex chars keep the value inside a signed 64-bit range on every
    * engine (16 would overflow DuckDB's signed BIGINT cast).
    */
  def hash60(s: Column): Column =
    graft.functions.VectorFunctions.hexPrefixToLong(sha2(s, 256), 15)

  /** 28-bit hash of a string reduced mod [[MinhashPrime]] — small enough
    * that universal-hash mixing `(a·h + b) % p` stays in signed-64 range on
    * any engine.
    */
  def hash28(s: Column): Column =
    graft.functions.VectorFunctions.hexPrefixToLong(sha2(s, 256), 7) % MinhashPrime

  /** Largest prime below 2^28 — the universal-hash modulus. */
  val MinhashPrime = 268435399L

  /** Word n-gram shingles joined by a single space. Documents with fewer
    * than `n` tokens yield a single shingle of the whole token sequence.
    *
    * Built by zipping the token array with its own shifted copies — all
    * higher-order-function ARGUMENTS, which Spark evaluates once per row.
    * The obvious `transform(indices, i -> slice(toks, i, n))` form embeds
    * `toks` inside the lambda body, and Spark re-evaluates the whole
    * tokenize expression once per shingle (HOFs are interpreted, no
    * common-subexpression elimination) — measured 100× slower.
    */
  def shingles(text: Column, n: Int): Column =
    shinglesOfTokens(tokens(text), n)

  /** [[shingles]] over an already-tokenized array column — for callers
    * that project the token array once and derive several things from it
    * (window hashes AND token counts, say) without re-running tokenize.
    */
  def shinglesOfTokens(toksCol: Column, n: Int): Column = {
    require(n >= 1, "shingle size must be >= 1")
    if (n == 1) toksCol
    else bound(toksCol) { toks =>
      // let-bound: the fold references the token array n+1 times, and
      // unbound each reference would re-run split+filter (no CSE across
      // HOF arguments)
      val len = size(toks)
      // joined(i) = toks(i) .. toks(i+n-1), right-truncated near the end
      // (concat_ws skips the nulls zip_with pads with)
      val joined = (1 until n).foldLeft(toks) { (cur, k) =>
        zip_with(cur, slice(toks, lit(k + 1), greatest(len - k, lit(0))),
          (a, b) => concat_ws(" ", a, b))
      }
      slice(joined, lit(1), greatest(len - (n - 1), lit(1)))
    }
  }

  /** Rolling-hash document fingerprint: minimum 60-bit hash over word
    * `n`-gram shingles (a 1-permutation MinHash). Null for empty text.
    */
  def fingerprint(text: Column, n: Int = 5): Column =
    // array_min of an empty array is already null — no emptiness guard,
    // which would evaluate the whole hash array a second time (the
    // condition and the branch each hold a copy; no CSE across them)
    array_min(transform(shingles(text, n), s => hash60(s)))

  /** Winnowing fingerprint set (Schleimer/Wilkerson/Aiken, SIGMOD'03 —
    * the MOSS algorithm): the distinct minima of every `w`-wide sliding
    * window over the document's word `n`-gram shingle hashes. Guarantees a
    * shared fingerprint for any shared run of at least `w + n - 1` words,
    * which single-min fingerprints ([[fingerprint]]) only achieve for
    * whole-document overlap. Empty docs → empty array.
    *
    * Pure per-row expressions — no shuffle; like [[shingles]], the sliding
    * minimum folds `zip_with(..., least)` over shifted copies passed as
    * HOF ARGUMENTS (evaluated once per row), never referencing the hash
    * array inside a lambda body (re-evaluated per element — quadratic).
    */
  def winnowingFingerprints(text: Column, n: Int = 5, w: Int = 4): Column = {
    require(n >= 1, "shingle size must be >= 1")
    require(w >= 1, "window must be >= 1")
    // let-bind the hash array: the window fold references it w times, and
    // Catalyst does no CSE across HOF arguments — unbound, the whole
    // shingle+sha256 array would be recomputed once per shift (measured
    // ~4x the operator's cost at w=4)
    bound(transform(shingles(text, n), s => hash60(s))) { hashes =>
      val m = size(hashes)
      // mins(i) = min(hashes(i .. i+w-1)), right-truncated near the end
      // (zip_with pads the shorter shifted copy with nulls; least skips
      // them)
      val mins = (1 until w).foldLeft(hashes) { (cur, k) =>
        zip_with(cur, slice(hashes, lit(k + 1), greatest(m - k, lit(0))),
          (a, b) => least(a, b))
      }
      array_distinct(slice(mins, lit(1), greatest(m - (w - 1), lit(1))))
    }
  }

  /** Evaluate `x` once and let `body` reference the result many times:
    * a single-element `transform` binds `x` to a lambda variable, which
    * body references read as a materialized value. Use whenever an
    * expensive array expression appears multiple times in one projection
    * (Catalyst performs no common-subexpression elimination inside
    * higher-order-function trees).
    */
  private def bound(x: Column)(body: Column => Column): Column =
    element_at(transform(array(x), v => body(v)), 1)

  /** Within-document repetition fraction over the given unit array:
    * `1 - distinct/total` (0.0 for empty). Feed it lines, tokens, or
    * shingles — the Gopher/RefinedWeb "duplicate line fraction" /
    * "duplicate n-gram fraction" quality signals. Pure expression.
    */
  def repetitionFrac(units: Column): Column = bound(units) { u =>
    // let-bound: the guard and both ratio terms reference the unit array
    val total = size(u)
    when(total <= 0, lit(0.0)).otherwise(
      lit(1.0) - size(array_distinct(u)).cast("double") / total)
  }

  /** Non-blank trimmed lines of a document (the unit for duplicate-line
    * repetition).
    */
  def lines(text: Column): Column =
    filter(transform(split(coalesce(text, lit("")), "\n"), l => trim(l)),
      l => l =!= "")

  /** Occurrences of a regex in the text (0 for null). Keep patterns to the
    * RE2-compatible subset (no lookaround/backrefs) so other engines count
    * identically.
    */
  def patternCount(text: Column, pattern: String): Column =
    regexp_count(coalesce(text, lit("")), lit(pattern))

  /** URL occurrences — corpus-hygiene signal. */
  def urlCount(text: Column): Column = patternCount(text, UrlPattern)

  /** Email-address occurrences — corpus-hygiene / PII-density signal. */
  def emailCount(text: Column): Column = patternCount(text, EmailPattern)

  /** IPv4-address occurrences — PII-density signal. */
  def ipv4Count(text: Column): Column = patternCount(text, Ipv4Pattern)

  // RE2-compatible (no lookaround/backrefs) so Java-regex Spark and
  // RE2-based engines match the same spans.
  val UrlPattern = "https?://[^ \\t\\n]+"
  val EmailPattern = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  val Ipv4Pattern = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"

  /** Most distinctive terms per group (e.g. per source/domain) by TF-IDF:
    * tf = term occurrences inside the group, idf = ln(#groups / #groups
    * containing the term). The corpus-profiling step of a pipeline audit —
    * what vocabulary distinguishes one source from the rest.
    *
    * Shape: explode tokens once → (group, term) counts (map-side partial
    * agg), group-frequency per term from the same counts (second small
    * agg), one broadcast of the 1-row group count. Top-k per group via a
    * window over the (already small) per-group term stats. Ties break by
    * term so the output is deterministic.
    *
    * Output: (group, term, tf, score, rank), rank 1..k.
    *
    * Long-lived sessions: the persisted intermediate lives until the
    * session ends or the caller releases it — for deterministic release
    * wrap in [[graft.core.Caches.collectPins]] and `release()` after
    * materializing, same contract as `Sampling.deterministicShuffle`.
    */
  /** Frequency-ranked vocabulary of the corpus: the top `maxSize` terms
    * with count >= `minCount`, assigned dense ids 0..V-1 in
    * (count desc, term asc) order — deterministic across runs, engines,
    * and partitionings, so a vocab built today and rebuilt after an
    * append agree on every surviving term's relative order. The
    * tokenizer-training / frequency-filtering prep step of a text
    * pipeline.
    *
    * Scale shape: one explode + one map-side-combined groupBy on the term
    * (the only corpus-sized shuffle), then `orderBy.limit` — a
    * TakeOrderedAndProject, never a global sort materialization. The id
    * window runs on the RESULT (≤ `maxSize` rows), so its single
    * partition is bounded by construction, not by data.
    *
    * Output: (term, cnt, token_id).
    */
  def buildVocab(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      maxSize: Int = 65536,
      minCount: Long = 2L,
      lowercase: Boolean = true): org.apache.spark.sql.DataFrame = {
    require(maxSize >= 1, s"maxSize must be >= 1, got $maxSize")
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    val exploded = df.select(explode(tokens(col(textCol))).as("__tok"))
    val term = if (lowercase) lower(col("__tok")) else col("__tok")
    val top = exploded.select(term.as("term"))
      .groupBy("term").agg(count(lit(1)).as("cnt"))
      .where(col("cnt") >= minCount)
      .orderBy(col("cnt").desc, col("term").asc)
      .limit(maxSize)
    top.withColumn("token_id",
      row_number().over(org.apache.spark.sql.expressions.Window
        .orderBy(col("cnt").desc, col("term").asc)) - 1)
  }

  /** Per-document vocabulary coverage against a [[buildVocab]] table:
    * token count, out-of-vocabulary count, and OOV fraction — the audit
    * that says whether a tokenizer's vocab actually FITS the corpus it
    * will train on (a domain shift shows up here first, before any
    * model sees a batch). Tokenless documents report fraction 0.
    *
    * Scale shape: vocab broadcasts to the exploded token stream (no
    * corpus shuffle for the lookup), one doc-keyed aggregate with
    * map-side partials.
    */
  def vocabCoverage(
      df: org.apache.spark.sql.DataFrame,
      vocab: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      lowercase: Boolean = true): org.apache.spark.sql.DataFrame = {
    val toks = df.select(col(idCol),
      explode_outer(tokens(col(textCol))).as("__tok"))
    val term = if (lowercase) lower(col("__tok")) else col("__tok")
    toks.select(col(idCol), term.as("term"))
      .join(broadcast(vocab.select(col("term"), col("token_id"))),
        Seq("term"), "left")
      .groupBy(idCol)
      .agg(
        count(col("term")).as("n_tokens"),
        count(when(col("term").isNotNull && col("token_id").isNull, 1))
          .as("n_oov"))
      .withColumn("oov_frac",
        when(col("n_tokens") === 0, lit(0.0))
          .otherwise(round(col("n_oov") / col("n_tokens").cast("double"), 6)))
  }

  /** Encode each document as an array of vocabulary token ids in token
    * order (out-of-vocabulary terms → `oovId`). The natural consumer of
    * [[buildVocab]] and producer for `Packing.packSequences` — together
    * they are the corpus → ids → fixed-budget training sequences chain.
    *
    * Scale shape: the vocab (≤ maxSize rows) broadcasts to a posexplode'd
    * token stream — narrow join, no corpus shuffle for the lookup; the one
    * shuffle is the per-document regroup, map-side combined on the doc id.
    * Order is restored by sorting each doc's (pos, id) pairs AFTER
    * collect_list (whose order is partition-arbitrary) — deterministic by
    * construction, not by accident.
    *
    * Output: (idCol, token_ids: array<int>); tokenless docs get [].
    */
  def encodeTokens(
      df: org.apache.spark.sql.DataFrame,
      vocab: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      oovId: Int = -1,
      lowercase: Boolean = true): org.apache.spark.sql.DataFrame = {
    // posexplode_OUTER keeps tokenless docs as one null-pos row, so the
    // per-doc regroup below covers every document in ONE pass — no second
    // corpus scan + rejoin just to restore empty docs
    val toks = df.select(col(idCol),
      posexplode_outer(tokens(col(textCol))).as(Seq("__pos", "__tok")))
    val term = if (lowercase) lower(col("__tok")) else col("__tok")
    val joined = toks.select(col(idCol), col("__pos"), term.as("term"))
      .join(broadcast(vocab.select(col("term"), col("token_id"))),
        Seq("term"), "left")
    joined.groupBy(idCol).agg(
      transform(
        array_sort(collect_list(
          // null struct for the null-pos marker row → collect_list skips
          // it → tokenless docs aggregate to an empty array, not [oovId]
          when(col("__pos").isNotNull, struct(col("__pos"),
            coalesce(col("token_id"), lit(oovId)).as("tid"))))),
        s => s("tid")).as("token_ids"))
  }

  def topTermsPerGroup(
      df: org.apache.spark.sql.DataFrame,
      groupCol: String,
      textCol: String,
      k: Int = 5): org.apache.spark.sql.DataFrame = {
    require(k >= 1, "k must be >= 1")
    val toks = df.select(col(groupCol).as("group"),
      explode(tokens(lower(col(textCol)))).as("term"))
    // tf feeds both the scores and the group-frequency aggregate; persist
    // the (group, term, count) stats — far smaller than the exploded
    // tokens — or the tokenize+explode stage runs twice
    val tf = graft.core.Caches.pin(
      toks.groupBy("group", "term").agg(count(lit(1)).as("tf")))
    val gf = tf.groupBy("term").agg(count(lit(1)).as("gf"))
    // derived from the persisted tf stats, not a second full corpus scan;
    // countDistinct's null-exclusion semantics are identical either way
    val nGroups = tf.select(countDistinct(col("group")).as("n_groups"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("group").orderBy(col("score").desc, col("term"))
    tf.join(gf, "term")
      .crossJoin(broadcast(nGroups))
      .withColumn("score",
        round(col("tf") * log(col("n_groups").cast("double") / col("gf")), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("group", "term", "tf", "score", "rank")
  }

  /** Remove repeated lines WITHIN a document, keeping each first
    * occurrence in order — the C4-style intra-document cleanup for pages
    * that repeat their own headers/sections. Pure expressions (split →
    * ordered distinct → rejoin): narrow, codegen'd, no shuffle — the
    * cross-DOCUMENT twin with corpus-frequency semantics is
    * [[removeBoilerplate]]. Exact line equality (no trim): whitespace
    * variants are different lines here. NULL text stays NULL.
    */
  def dedupLinesWithinDoc(text: Column): Column =
    when(text.isNull, lit(null).cast("string"))
      .otherwise(concat_ws("\n", array_distinct(split(text, "\n"))))

  /** Cross-document boilerplate removal (the CCNet/RefinedWeb line-dedup
    * step): drop every line that appears in more than `maxDocs` distinct
    * documents — cookie banners, navigation, footers — and reassemble
    * each document from its surviving lines in order. Lines are
    * trimmed; blank lines never count as boilerplate (they are dropped by
    * the line split). Documents whose every line is boilerplate come back
    * with empty text, preserving corpus row count.
    *
    * Shape: one explode of trimmed lines with positions, one aggregate to
    * doc-frequency per line (map-side partial), an anti-join of lines
    * against the (small — boilerplate is by definition rare vocabulary)
    * frequent-line set, then one groupBy to reassemble. The frequent-line
    * side is broadcast; raw text never crosses a shuffle twice.
    *
    * Output: (idCol, textCol) with textCol rebuilt newline-joined.
    */
  def removeBoilerplate(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      maxDocs: Long): org.apache.spark.sql.DataFrame = {
    require(maxDocs >= 1, "maxDocs must be >= 1")
    val exploded = df.select(col(idCol),
      posexplode(lines(col(textCol))).as(Seq("__pos", "__line")))
    val frequent = exploded.groupBy("__line")
      .agg(countDistinct(col(idCol)).as("__docs"))
      .where(col("__docs") > maxDocs)
      .select("__line")
    val kept = exploded.join(broadcast(frequent), Seq("__line"), "left_anti")
    df.select(col(idCol)).distinct()
      .join(kept.groupBy(idCol)
        .agg(concat_ws("\n",
          transform(array_sort(collect_list(struct(col("__pos"), col("__line")))),
            s => s.getField("__line"))).as("__kept")),
        Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__kept"), lit("")).as(textCol))
  }

  /** Compression-ratio quality signal: `deflate(text) / utf8_bytes`,
    * clamped denominator (empty text → ratio 0.0 by convention — no
    * information, no signal). Repetitive machine-generated text lands
    * well below natural prose (which sits roughly in the 0.3–0.7 band at
    * DEFLATE level 6); filter LOW ratios as boilerplate floods. Pure
    * per-row expression ([[graft.functions.CompressFunctions]]), no
    * shuffle; the level is part of the signal's identity — don't mix
    * levels across a threshold.
    */
  def compressionRatio(text: Column, level: Int = 6): Column = {
    val t = coalesce(text, lit(""))
    when(octet_length(t) === 0, lit(0.0))
      .otherwise(
        graft.functions.CompressFunctions.deflateSize(t, level)
          .cast("double") / octet_length(t))
  }

  /** Syllable count of one lowercase token by the standard vowel-group
    * heuristic: number of `[aeiouy]+` runs, minus one for a silent final
    * `e` (a trailing `e` preceded by a non-vowel, except `-le`), floored
    * at 1. Pure expression, exactly mirrorable in SQL — the heuristic IS
    * the spec, so both engines agree to the syllable.
    */
  private[operators] def syllables(tok: Column): Column = {
    val lower0 = lower(tok)
    val groups = size(regexp_extract_all(lower0, lit("[aeiouy]+"), lit(0)))
    val silentE = lower0.rlike("[^aeiouy]e$") && !lower0.rlike("le$")
    greatest(lit(1), groups - when(silentE && groups > 1, 1).otherwise(0))
  }

  /** Flesch reading ease (Flesch 1948):
    * `206.835 − 1.015·(words/sentences) − 84.6·(syllables/words)` —
    * ~90+ reads as grade-school prose, ~30 as academic text; filters of
    * "too hard / too degenerate" documents cut on both tails. Sentences
    * are counted as `[.!?]+` terminator runs (floored at 1), words as
    * whitespace tokens; NULL for empty text. One projection, no shuffle,
    * and every sub-step is a regexp both engines evaluate identically.
    */
  def fleschReadingEase(text: Column): Column = {
    val t = coalesce(text, lit(""))
    val toks = tokens(t)
    val words = size(toks)
    val sents = greatest(lit(1),
      size(regexp_extract_all(t, lit("[.!?]+"), lit(0))))
    val syl = aggregate(toks, lit(0L), (acc, w) =>
      acc + syllables(w).cast("long"))
    when(words === 0, lit(null).cast("double")).otherwise(
      lit(206.835)
        - lit(1.015) * (words.cast("double") / sents.cast("double"))
        - lit(84.6) * (syl.cast("double") / words.cast("double")))
  }

  /** Fenced markdown code blocks, one row per block: `(idCol, block_idx,
    * lang, code)` — the code-vs-prose separation step of a training mix
    * (code goes to the code subset with its language tag; prose keeps
    * flowing through the text filters, see [[stripCodeBlocks]]).
    * Fences are ``` runs at line starts with an optional language tag;
    * an unterminated fence swallows nothing (it is not a block).
    * Pure regexp projection + explode, no shuffle, SQL-mirrorable.
    */
  def markdownCodeBlocks(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val langs = regexp_extract_all(t, lit(FenceRe), lit(1))
    val codes = regexp_extract_all(t, lit(FenceRe), lit(2))
    df.select(col(idCol),
        posexplode(zip_with(langs, codes,
          (l, c) => struct(l.as("lang"), c.as("code"))))
          .as(Seq("block_idx", "__b")))
      .select(col(idCol), col("block_idx").cast("long").as("block_idx"),
        col("__b.lang").as("lang"), col("__b.code").as("code"))
  }

  /** The prose remainder: fenced blocks replaced by a single space (so
    * the surrounding sentences don't fuse), whitespace left otherwise
    * untouched.
    */
  def stripCodeBlocks(text: Column): Column =
    regexp_replace(coalesce(text, lit("")), FenceRe, " ")

  /** Fence pattern shared by extraction, stripping, and the SQL twins:
    * line-anchored ``` with an optional word tag, lazily up to the
    * closing line-anchored ```.
    */
  val FenceRe: String = "(?sm)^```(\\w*)[\\t ]*\\n(.*?)^```[\\t ]*$"

  /** Sliding token-window chunking — the retrieval/embedding chunker: one
    * row per window of `window` tokens advancing by `stride` (overlap =
    * window − stride), `(idCol, chunk_idx, chunk_start, n_tokens,
    * chunk_text)`. The last window right-truncates; a document shorter
    * than one window is one chunk; empty/null text yields NO rows.
    * `chunk_text` re-joins tokens with single spaces (token-window
    * identity, not byte identity — the tokenizer IS the whitespace
    * normalizer here).
    *
    * One projection + posexplode, no shuffle; `stride > window` is
    * rejected loudly (it would silently DROP the tokens between
    * windows).
    */
  def chunkTokens(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      window: Int,
      stride: Int): org.apache.spark.sql.DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(stride >= 1 && stride <= window,
      s"stride must be in [1, window] (stride > window drops tokens), got $stride")
    val nt = size(col("__toks"))
    // starts: 0, stride, 2·stride, …, last start < nt AND the previous
    // window must not already cover the doc (start <= nt - window … + 1)
    val nStarts = when(nt === 0, lit(0)).otherwise(
      ceil((greatest(nt - window, lit(0)).cast("double")) / stride)
        .cast("int") + 1)
    // sequence(0, -1) would DESCEND for an empty doc (the docFeatures
    // pitfall) — guard to an empty array so posexplode yields no rows
    val starts = when(nStarts === 0, array().cast("array<int>"))
      .otherwise(sequence(lit(0), nStarts - 1))
    df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), col("__toks"),
        posexplode(starts).as(Seq("chunk_idx", "__s")))
      .select(col(idCol),
        col("chunk_idx").cast("long").as("chunk_idx"),
        (col("__s") * stride).cast("long").as("chunk_start"),
        least(lit(window), size(col("__toks")) - col("__s") * stride)
          .cast("long").as("n_tokens"),
        concat_ws(" ",
          slice(col("__toks"), col("__s") * stride + 1, lit(window)))
          .as("chunk_text"))
  }

  /** Per-document n-gram NOVELTY against everything that arrived before
    * it: `1 − |shingles seen earlier| / |distinct shingles|` — the
    * incremental-crawl value signal ("how much of this page is new
    * text?") that ranks a refresh batch before dedup even runs. `orderCol`
    * defines "earlier" (crawl timestamp, batch id, doc id); a shingle
    * counts as seen iff some doc with STRICTLY smaller order carries it,
    * so first arrivers (and all members of an order tie) score it novel —
    * deterministic under reruns and re-partitionings.
    *
    * Output: one row per input doc — (`idCol`, `n_shingles`, `n_seen`,
    * `novelty_frac`), with `novelty_frac` NULL for docs with no shingles
    * (empty/null text; short docs carry one right-truncated shingle by
    * the corpus-wide [[shingles]] convention; "novel" is undefined on no
    * content).
    *
    * Shape: explode distinct shingles once; a groupBy computes each
    * shingle's global first order (map-side partials absorb hot
    * stop-shingles); a join back on the shingle key re-uses that
    * exchange layout and stays AQE-skew-splittable — deliberately NOT a
    * per-shingle window, which would pin every occurrence of a hot
    * shingle into one unsplittable partition; a per-doc aggregate
    * finishes. Three shingle-stream exchanges, no corpus self-join, no
    * pair blow-up — novelty is per-doc, not per-pair.
    */
  def noveltyFrac(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      orderCol: Column,
      shingleSize: Int = 3): org.apache.spark.sql.DataFrame = {
    require(shingleSize >= 1, s"shingleSize must be >= 1, got $shingleSize")
    val sh = df.select(col(idCol).as("__id"), orderCol.as("__ord"),
      explode(array_distinct(shingles(col(textCol), shingleSize))).as("__s"))
    val firstSeen = sh.groupBy("__s").agg(min(col("__ord")).as("__first"))
    val perDoc = sh.join(firstSeen, "__s")
      .groupBy("__id")
      .agg(count(lit(1)).as("n_shingles"),
        count(when(col("__first") < col("__ord"), 1)).as("n_seen"))
    df.select(col(idCol).as("__id")).distinct()
      .join(perDoc, Seq("__id"), "left")
      .select(col("__id").as(idCol),
        coalesce(col("n_shingles"), lit(0L)).as("n_shingles"),
        coalesce(col("n_seen"), lit(0L)).as("n_seen"),
        when(col("n_shingles").isNull, lit(null).cast("double"))
          .otherwise(lit(1.0) - col("n_seen") / col("n_shingles"))
          .as("novelty_frac"))
  }

  /** Corpus-global line deduplication (the C4 rule applied at line
    * granularity): every distinct trimmed non-blank line keeps exactly
    * its FIRST occurrence — smallest (`idCol`, position) — and loses all
    * later ones, unlike [[removeBoilerplate]] which drops frequent lines
    * everywhere and [[dedupLinesWithinDoc]] which never looks across
    * documents. Documents reassemble from surviving lines in order;
    * fully-deduplicated documents come back with empty text, preserving
    * corpus row count.
    *
    * Shape: one explode, ONE exchange partitioned by the line for the
    * keep-first window (the same exchange an exact line-frequency count
    * pays — rank and frequency ride the same shuffle), one groupBy to
    * reassemble. First-occurrence choice is total-ordered by
    * (`idCol`, pos), so reruns and re-partitionings pick the same
    * survivor.
    */
  def dedupLinesGlobal(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val W = org.apache.spark.sql.expressions.Window
    val exploded = df.select(col(idCol),
      posexplode(lines(col(textCol))).as(Seq("__pos", "__line")))
    val first = row_number().over(
      W.partitionBy("__line").orderBy(col(idCol), col("__pos")))
    val kept = exploded.withColumn("__rn", first)
      .where(col("__rn") === 1)
    df.select(col(idCol)).distinct()
      .join(kept.groupBy(idCol)
        .agg(concat_ws("\n",
          transform(array_sort(collect_list(struct(col("__pos"), col("__line")))),
            s => s.getField("__line"))).as("__kept")),
        Seq(idCol), "left")
      .select(col(idCol), coalesce(col("__kept"), lit("")).as(textCol))
  }

  /** Regex sentence segmentation: maximal runs ending in `.!?` (the
    * punctuation stays with its sentence) plus a final unpunctuated
    * fragment, trimmed, empties dropped. The RE2-safe approximation —
    * no lookbehind, so any engine segments identically; abbreviation
    * handling ("Dr.") is out of scope, as it was for the C4-class
    * pipelines this feeds.
    */
  def sentences(text: Column): Column =
    filter(
      transform(
        regexp_extract_all(coalesce(text, lit("")),
          lit("[^.!?]+[.!?]+|[^.!?]+$"), lit(0)),
        s => trim(s)),
      s => s =!= "")

  /** The C4 dedup rule at its ORIGINAL granularity (Raffel et al. 2020):
    * any `k`-sentence span (default 3) occurring more than once
    * corpus-wide keeps its first occurrence — smallest (`idCol`, span
    * position) — and every other occurrence has its `k` sentences
    * removed. Documents reassemble from surviving sentences in order
    * (single-space joined); every input document appears exactly once,
    * with `removed_sentences` counting the loss.
    *
    * Span identity is the same 128-bit hash pair as
    * [[ExactSubstrings]] (collision mass ~0 at corpus scale). Shape:
    * sentence explode (narrow), ONE exchange partitioned by span hash
    * for the keep-first rank (WindowGroupLimit prunes map-side), an
    * explode of the REMOVED occurrences' positions only, one anti-join
    * + regroup to rebuild documents.
    */
  def dedupSentenceSpansGlobal(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      salt: String = "graft-c4"): org.apache.spark.sql.DataFrame = {
    require(k >= 1, s"span size must be >= 1, got $k")
    val W = org.apache.spark.sql.expressions.Window
    // pinned: the segmented frame feeds sentRows, spanRows AND the final
    // sentence-count branch — unpinned, one call plans THREE corpus scans
    // each re-running the regex segmentation. Pin lifecycle is the
    // ngramJaccardPairs contract: wrap in Caches.collectPins and release
    // after materializing for deterministic cleanup in long sessions.
    val sent = graft.core.Caches.pin(df.select(col(idCol), col(textCol))
      .withColumn("__sents", sentences(col(textCol))))
    val sentRows = sent.select(col(idCol),
      posexplode(col("__sents")).as(Seq("__p0", "__s")))
      .select(col(idCol), (col("__p0") + 1).as("__pos"), col("__s"))
    val spanRows = sent
      .where(size(col("__sents")) >= k)
      .select(col(idCol),
        posexplode(shinglesOfTokens(col("__sents"), k))
          .as(Seq("__sp0", "__span")))
      .select(col(idCol), (col("__sp0") + 1).as("__spos"),
        xxhash64(col("__span")).as("__h1"),
        xxhash64(lit(salt), col("__span")).as("__h2"))
    val rank = row_number().over(
      W.partitionBy("__h1", "__h2").orderBy(col(idCol), col("__spos")))
    val removedPos = spanRows.withColumn("__rn", rank)
      .where(col("__rn") >= 2)
      .select(col(idCol),
        explode(sequence(col("__spos"), col("__spos") + lit(k - 1)))
          .as("__pos"))
      .distinct()
    val kept = sentRows.join(removedPos, Seq(idCol, "__pos"), "left_anti")
    // sentence count from the already-segmented array — re-running
    // sentences() on the raw text here would be a third corpus-wide
    // regex pass
    sent.select(col(idCol), size(col("__sents")).as("__n"))
      .join(kept.groupBy(idCol)
        .agg(concat_ws(" ",
          transform(array_sort(collect_list(struct(col("__pos"), col("__s")))),
            s => s.getField("__s"))).as("__kept"),
          count(lit(1)).as("__nk")),
        Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("__kept"), lit("")).as(textCol),
        (col("__n") - coalesce(col("__nk"), lit(0L)))
          .cast("int").as("removed_sentences"))
  }

  /** PII scrubbing for training corpora: URLs, email addresses and IPv4
    * addresses replaced with placeholder tokens, in that order (URLs first
    * so an address embedded in a URL redacts as one URL, not URL + email).
    * Pure codegen'd regexp_replace chain — no UDFs, no shuffle; count the
    * spans first (urlCount/emailCount/ipv4Count) if density stats are
    * wanted, since counting after redaction sees none.
    */
  def redactPii(text: Column): Column = {
    val t0 = coalesce(text, lit(""))
    val t1 = regexp_replace(t0, UrlPattern, "<URL>")
    val t2 = regexp_replace(t1, EmailPattern, "<EMAIL>")
    regexp_replace(t2, Ipv4Pattern, "<IP>")
  }

  /** HTML → text extraction for crawl corpora: strips comments,
    * `<script>`/`<style>` blocks (content included), then every
    * remaining tag; decodes the half-dozen entities that dominate web
    * text (`&amp; &lt; &gt; &quot; &#39; &apos; &nbsp;` — `&amp;` LAST,
    * so `&amp;lt;` correctly yields the literal `&lt;` instead of
    * double-decoding); collapses whitespace runs and trims. A regex
    * extractor, deliberately: full HTML5 parsing needs a parser library,
    * but the regex subset is what C4/CCNet-class pipelines actually ran
    * at corpus scale, it handles the overwhelming majority of crawl
    * text, and every pattern is RE2-safe so any engine reproduces the
    * extraction byte-for-byte. Unclosed script/style blocks strip to
    * end-of-document (the browser-compatible reading). Null → ''.
    */
  def htmlToText(html: Column): Column = {
    val t0 = coalesce(html, lit(""))
    val t1 = regexp_replace(t0, "(?s)<!--.*?-->", " ")
    val t2 = regexp_replace(t1,
      "(?is)<script\\b[^>]*>.*?(</script\\s*>|$)", " ")
    val t3 = regexp_replace(t2,
      "(?is)<style\\b[^>]*>.*?(</style\\s*>|$)", " ")
    val t4 = regexp_replace(t3, "(?s)<[^>]*>", " ")
    val decoded = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&apos;" -> "'", "&nbsp;" -> " ",
      "&amp;" -> "&" // last: &amp;lt; -> &lt; literally, not <
    ).foldLeft(t4) { case (c, (pat, rep)) =>
      // entity names are regex-safe literals — no quoting layer to
      // diverge from the oracle's identical patterns
      regexp_replace(c, pat, rep)
    }
    trim(regexp_replace(decoded, "\\s+", " "))
  }

  /** `<title>` content of an HTML document ('' when absent), whitespace
    * collapsed — the usual metadata column next to [[htmlToText]].
    */
  def htmlTitle(html: Column): Column =
    trim(regexp_replace(
      regexp_extract(coalesce(html, lit("")),
        "(?is)<title\\b[^>]*>(.*?)</title\\s*>", 1),
      "\\s+", " "))

  /** The Gopher rule stopword list (Rae et al. 2021, arXiv:2112.11446,
    * A1.1): a document must contain at least two of these to pass.
    */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher quality-filter rules (Rae et al. 2021, arXiv:2112.11446,
    * A1.1) — the published heuristic gate for web-scraped training text.
    * Adds the individual signals as flat columns plus the composite
    * `gopher_pass`:
    *
    *  - `n_words` in [50, 100000]
    *  - `mean_word_len` in [3, 10]
    *  - `symbol_ratio` (# or ... per word) <= 0.1
    *  - `bullet_line_frac` (lines starting with a bullet) < 0.9
    *  - `ellipsis_line_frac` (lines ending with an ellipsis) < 0.3
    *  - `alpha_word_frac` (words containing a letter) >= 0.8
    *  - `stop_hits` (distinct [[GopherStopwords]] present) >= 2
    *
    * Pure narrow expressions — no shuffle, no UDF; the tokenizer and line
    * splitter each run once per row. Ratios are single int/int divisions,
    * so every engine computes bit-identical doubles and the thresholds
    * cut identically (each ratio is rounded to 6 decimals AFTER the
    * threshold compare, for reporting only).
    */
  def withGopherRules(
      df: org.apache.spark.sql.DataFrame,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val staged = df
      .withColumn("__toks", tokens(col(textCol)))
      .withColumn("__lines", lines(col(textCol)))
    val nWords = size(col("__toks"))
    val nLines = size(col("__lines"))
    // sum of word lengths as LONG — exact, order-insensitive
    val sumLen = aggregate(col("__toks"), lit(0L), (acc, w) => acc + length(w))
    val meanLen = when(nWords === 0, lit(0.0))
      .otherwise(sumLen.cast("double") / nWords)
    val symbols = patternCount(t, "#") + patternCount(t, "\\.\\.\\.")
    val symbolRatio = when(nWords === 0, lit(0.0))
      .otherwise(symbols.cast("double") / nWords)
    val bulletFrac = when(nLines === 0, lit(0.0))
      .otherwise(size(filter(col("__lines"),
        l => regexp_count(l, lit("^[-•*]")) > 0)).cast("double") / nLines)
    val ellipsisFrac = when(nLines === 0, lit(0.0))
      .otherwise(size(filter(col("__lines"),
        l => regexp_count(l, lit("(\\.\\.\\.|…)$")) > 0)).cast("double") / nLines)
    val alphaFrac = when(nWords === 0, lit(0.0))
      .otherwise(size(filter(col("__toks"),
        w => regexp_count(w, lit("[A-Za-z]")) > 0)).cast("double") / nWords)
    val stopHits = {
      val sw = array(GopherStopwords.map(lit): _*)
      size(filter(sw, w => array_contains(transform(col("__toks"),
        x => lower(x)), w)))
    }
    // stage each signal as an attribute so the pass predicate and the
    // rounded report column read ONE evaluation (no CSE across refs)
    staged
      .withColumn("n_words", nWords.cast("long"))
      .withColumn("__mean", meanLen)
      .withColumn("__sym", symbolRatio)
      .withColumn("__bullet", bulletFrac)
      .withColumn("__ellip", ellipsisFrac)
      .withColumn("__alpha", alphaFrac)
      .withColumn("stop_hits", stopHits.cast("long"))
      .withColumn("gopher_pass",
        col("n_words") >= 50 && col("n_words") <= 100000 &&
          col("__mean") >= 3.0 && col("__mean") <= 10.0 &&
          col("__sym") <= 0.1 &&
          col("__bullet") < 0.9 &&
          col("__ellip") < 0.3 &&
          col("__alpha") >= 0.8 &&
          col("stop_hits") >= 2)
      .withColumn("mean_word_len", round(col("__mean"), 6))
      .withColumn("symbol_ratio", round(col("__sym"), 6))
      .withColumn("bullet_line_frac", round(col("__bullet"), 6))
      .withColumn("ellipsis_line_frac", round(col("__ellip"), 6))
      .withColumn("alpha_word_frac", round(col("__alpha"), 6))
      .drop("__toks", "__lines", "__mean", "__sym", "__bullet", "__ellip",
        "__alpha")
  }

  /** C4 cleaning rules (Raffel et al. 2020, arXiv:1910.10683 §2.2) — the
    * published line- and page-level gate for web-scraped text. Line level,
    * a line survives iff it ends in terminal punctuation (`.!?"`), has at
    * least `minWordsPerLine` words, and does not mention "javascript".
    * Page level, `c4_keep` requires ≥ 3 sentences in the retained text and
    * no "lorem ipsum" / `{` / `badWords` hit anywhere on the page (the
    * original, not the cleaned text — a policy hit anywhere kills the
    * page, exactly as published; the word list itself is caller-supplied,
    * matched as a lowercase substring).
    *
    * Adds `text_clean` (retained lines joined by newline), `n_lines_kept`,
    * `n_sentences` (terminal-punctuation runs in the retained text) and
    * the composite `c4_keep`. Pure narrow expressions — one line-split
    * pass staged as an attribute, no shuffle, no UDF; a 100 TB corpus
    * cleans as a pure map alongside the scan.
    */
  def c4Clean(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      minWordsPerLine: Int = 5,
      badWords: Seq[String] = Nil): org.apache.spark.sql.DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val keptLines = filter(lines(col(textCol)), l =>
      regexp_count(l, lit("[.!?\"]$")) > 0 &&
        size(filter(split(l, "\\s+"), w => w =!= "")) >= minWordsPerLine &&
        not(lower(l).contains("javascript")))
    val badHit = badWords.map(w => lower(t).contains(w.toLowerCase))
      .reduceOption(_ || _).getOrElse(lit(false))
    df.withColumn("__kept", keptLines)
      .withColumn("text_clean", array_join(col("__kept"), "\n"))
      .withColumn("n_lines_kept", size(col("__kept")).cast("long"))
      .withColumn("n_sentences",
        size(regexp_extract_all(col("text_clean"), lit("[.!?]+"), lit(0)))
          .cast("long"))
      .withColumn("c4_keep",
        col("n_sentences") >= 3 &&
          not(lower(t).contains("lorem ipsum")) &&
          not(t.contains("{")) &&
          not(badHit))
      .drop("__kept")
  }

  /** Per-document token-distribution stats: Shannon entropy of the token
    * frequency distribution and type-token ratio — the standard
    * "templated / machine-generated text has low lexical entropy" quality
    * signal (low H = few distinct tokens dominate; TTR = distinct/total).
    *
    * Output: (idCol, `n_tok`, `n_types`, `entropy`, `ttr`); empty docs get
    * zeros. Entropy uses `H = ln n − (Σ c·ln c)/n` where the Σ is an
    * EXACT integer sum of once-micro-rounded `c·ln c` terms (the DSIR
    * weight idiom) — no float accumulation order, so any engine computes
    * the same value from the same counts.
    *
    * Scale shape: two shuffles, both map-side combined — (doc, term)
    * counts, then the per-doc rollup; never wider than the tokenized
    * corpus and embarrassingly parallel by doc id.
    */
  def tokenEntropy(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      lowercase: Boolean = true): org.apache.spark.sql.DataFrame = {
    val tok =
      if (lowercase) tokens(lower(col(textCol))) else tokens(col(textCol))
    // explode_OUTER keeps empty docs as one null-token row, so the rollup
    // covers every document in one pass (count ignores the null marker)
    val perTerm = df.select(col(idCol), explode_outer(tok).as("__t"))
      .groupBy(col(idCol), col("__t"))
      .agg(count(col("__t")).as("__c"))
    val perDoc = perTerm.groupBy(col(idCol)).agg(
      sum(col("__c")).cast("long").as("n_tok"),
      sum(when(col("__c") > 0, 1L).otherwise(0L)).cast("long").as("n_types"),
      sum(when(col("__c") > 1,
        round(col("__c") * log(col("__c")) * 1e6).cast("long"))
        .otherwise(0L)).cast("long").as("__s"))
    perDoc.select(col(idCol),
      col("n_tok"), col("n_types"),
      when(col("n_tok") > 0,
        round(log(col("n_tok")) - (col("__s") / 1e6) / col("n_tok"), 6))
        .otherwise(lit(0.0)).as("entropy"),
      when(col("n_tok") > 0,
        round(col("n_types") * lit(1.0) / col("n_tok"), 6))
        .otherwise(lit(0.0)).as("ttr"))
  }

  /** Token bigrams `(i, w1, "w1 w2")` for 1-based positions `i` in
    * `[1, len-1]`; docs with fewer than 2 tokens produce no row. */
  private def explodedBigrams(df: org.apache.spark.sql.DataFrame,
      textCol: String, keep: Seq[Column]): org.apache.spark.sql.DataFrame =
    df.select(keep :+ tokens(col(textCol)).as("__t"): _*)
      .select(keep ++ Seq(col("__t"),
        explode(when(size(col("__t")) >= 2,
          sequence(lit(1), size(col("__t")) - 1))
          .otherwise(array().cast("array<int>"))).as("__i")): _*)
      .select(keep ++ Seq(
        element_at(col("__t"), col("__i")).as("__w1"),
        element_at(col("__t"), col("__i") + 1).as("__w2"),
        concat_ws(" ", element_at(col("__t"), col("__i")),
          element_at(col("__t"), col("__i") + 1)).as("__bg")): _*)

  /** CCNet-style n-gram language-model quality score: train token bigram
    * counts on `refCorpus` (the "clean" reference — e.g. a curated subset)
    * and score each document in `docs` by its average negative log
    * likelihood under that model with add-one smoothing:
    * `P(w2|w1) = (c(w1 w2) + 1) / (c(w1) + V)`, V = reference vocabulary
    * size. Lower `avg_nll` ≈ more reference-like text; filtering on a
    * threshold (or a per-language quantile, as CCNet does) is the
    * classic perplexity quality gate.
    *
    * Output: `(idCol, n_bigrams, avg_nll)` — one row per input doc;
    * docs with fewer than 2 tokens score NULL with `n_bigrams = 0`.
    *
    * Scale shape: the model is two count aggregates over the reference
    * (distinct-bigram / distinct-token sized — fits as shuffle state, no
    * driver materialization); scoring explodes doc bigrams once and joins
    * the bigram and unigram tables on their keys (two shuffles of the
    * exploded stream; Spark broadcasts automatically when the model is
    * small). No UDFs anywhere — `ln` and the smoothing arithmetic are
    * plain expressions.
    */
  def lmQualityScore(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      refCorpus: org.apache.spark.sql.DataFrame,
      refTextCol: String): org.apache.spark.sql.DataFrame = {
    val uni = refCorpus
      .select(explode(tokens(col(refTextCol))).as("__w1"))
      .groupBy("__w1").agg(count(lit(1)).as("__cu"))
    val vocab = uni.agg(count(lit(1)).as("__v"))
    val bi = explodedBigrams(refCorpus, refTextCol, Nil)
      .groupBy("__bg").agg(count(lit(1)).as("__cb"))
    val scored = explodedBigrams(docs, textCol, Seq(col(idCol)))
      .join(bi, Seq("__bg"), "left")
      .join(uni, Seq("__w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col(idCol),
        (-log((coalesce(col("__cb"), lit(0L)) + lit(1.0)) /
          (coalesce(col("__cu"), lit(0L)) + col("__v")))).as("__nll"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"), round(avg(col("__nll")), 6).as("avg_nll"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("avg_nll"))
  }

  /** Min-K% probability membership statistic (Shi et al. 2023,
    * "Detecting Pretraining Data from Large Language Models") over the
    * [[lmQualityScore]] bigram LM — the n-gram proxy of the paper's
    * statistic: a document the reference corpus has MEMORIZED keeps
    * even its least-likely tokens well-predicted, so the mean NLL of
    * the top-k% highest-NLL bigrams (`mink_nll`) stays low; novel text
    * spikes exactly there, where the full-document average
    * ([[lmQualityScore]]'s `avg_nll`) washes the outliers out. The
    * decontamination read: rank eval candidates by `mink_nll`
    * ascending and audit the head.
    *
    * Per doc: the same add-one bigram NLLs, sorted DESCENDING (a total
    * order on doubles — engine-exact), the top `⌈n·k/100⌉` averaged in
    * sorted order. One reference pass, one corpus pass, one doc-keyed
    * groupBy carrying a doc-sized array. Output: `(idCol, n_bigrams,
    * mink_nll)`, NULL score for <2-token docs.
    */
  def minKProb(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      refCorpus: org.apache.spark.sql.DataFrame,
      refTextCol: String,
      kPercent: Int = 20): org.apache.spark.sql.DataFrame = {
    require(kPercent >= 1 && kPercent <= 100,
      s"kPercent must be in 1..100, got $kPercent")
    val uni = refCorpus
      .select(explode(tokens(col(refTextCol))).as("__w1"))
      .groupBy("__w1").agg(count(lit(1)).as("__cu"))
    val vocab = uni.agg(count(lit(1)).as("__v"))
    val bi = explodedBigrams(refCorpus, refTextCol, Nil)
      .groupBy("__bg").agg(count(lit(1)).as("__cb"))
    val scored = explodedBigrams(docs, textCol, Seq(col(idCol)))
      .join(bi, Seq("__bg"), "left")
      .join(uni, Seq("__w1"), "left")
      .crossJoin(broadcast(vocab))
      .select(col(idCol),
        (-log((coalesce(col("__cb"), lit(0L)) + lit(1.0)) /
          (coalesce(col("__cu"), lit(0L)) + col("__v")))).as("__nll"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        sort_array(collect_list(col("__nll")), asc = false).as("__s"))
    val k = greatest(lit(1L),
      expr(s"(n_bigrams * $kPercent + 99) div 100"))
    val withScore = scored.select(col(idCol), col("n_bigrams"),
      round(aggregate(slice(col("__s"), lit(1), k.cast("int")), lit(0.0),
        (acc, x) => acc + x) / k, 6).as("mink_nll"))
    docs.select(col(idCol)).join(withScore, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_bigrams"), lit(0L))
        .as("n_bigrams"), col("mink_nll"))
  }

  /** Interpolated Kneser–Ney bigram quality score — the modern-LM
    * upgrade of [[lmQualityScore]]'s add-one smoothing (Kneser & Ney
    * 1995; the smoothing every serious n-gram quality filter uses:
    * add-one systematically over-penalizes unseen continuations of
    * frequent histories, KN backs off to how PROMISCUOUS a word's
    * history set is rather than how frequent the word is — "francisco"
    * is frequent but follows only "san", so its continuation mass is
    * tiny):
    *
    * `P(w2|w1) = max(c(w1w2) − D, 0)/c(w1) + D·N1+(w1·)/c(w1) · Pc(w2)`
    * with `Pc(w2) = (N1+(·w2) + 1) / (N1+(··) + V + 1)` — the
    * continuation distribution (distinct predecessors over distinct
    * bigram types), add-one smoothed over the reference vocabulary so
    * unseen words carry mass and every log is finite; unseen histories
    * (`c(w1)=0`) back off to `Pc(w2)` entirely.
    *
    * Output matches [[lmQualityScore]]: `(idCol, n_bigrams, avg_nll)`,
    * NULL score for <2-token docs.
    *
    * Scale shape: four count aggregates over the reference's exploded
    * bigrams (bigram-, w1-, w2-, and scalar-sized — all map-side
    * partial), scoring explodes doc bigrams once and joins the three
    * model tables on their keys plus two broadcast scalars. No UDFs.
    */
  def knQualityScore(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      refCorpus: org.apache.spark.sql.DataFrame,
      refTextCol: String,
      discount: Double = 0.75): org.apache.spark.sql.DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"discount must be in (0, 1), got $discount")
    val refBi = explodedBigrams(refCorpus, refTextCol, Nil)
    val biCounts = refBi.groupBy("__bg").agg(count(lit(1)).as("__cb"))
    val w1Stats = refBi.groupBy("__w1").agg(
      count(lit(1)).as("__c1"),
      countDistinct(col("__w2")).as("__n1pl"))
    val w2Stats = refBi.groupBy("__w2")
      .agg(countDistinct(col("__w1")).as("__n1pr"))
    val totals = refBi.agg(countDistinct(col("__bg")).as("__n1pall"))
    val vocab = refCorpus
      .select(explode(tokens(col(refTextCol))).as("__w"))
      .agg(countDistinct(col("__w")).as("__v"))
    val c12 = coalesce(col("__cb"), lit(0L)).cast("double")
    val c1 = coalesce(col("__c1"), lit(0L)).cast("double")
    val n1pl = coalesce(col("__n1pl"), lit(0L)).cast("double")
    val pc = (coalesce(col("__n1pr"), lit(0L)).cast("double") + lit(1.0)) /
      (col("__n1pall").cast("double") + col("__v").cast("double") + lit(1.0))
    val p = when(c1 > 0,
      greatest(c12 - lit(discount), lit(0.0)) / c1 +
        lit(discount) * n1pl / c1 * pc)
      .otherwise(pc)
    val scored = explodedBigrams(docs, textCol, Seq(col(idCol)))
      .join(biCounts, Seq("__bg"), "left")
      .join(w1Stats, Seq("__w1"), "left")
      .join(w2Stats, Seq("__w2"), "left")
      .crossJoin(broadcast(totals))
      .crossJoin(broadcast(vocab))
      .select(col(idCol), (-log(p)).as("__nll"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg(col("__nll")), 6).as("avg_nll"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol), coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("avg_nll"))
  }

  /** Token trigrams `(w1, w2, w3)` for 1-based positions in
    * `[1, len-2]`; docs with fewer than 3 tokens produce no row. */
  private def explodedTrigrams(df: org.apache.spark.sql.DataFrame,
      textCol: String, keep: Seq[Column]): org.apache.spark.sql.DataFrame =
    df.select(keep :+ tokens(col(textCol)).as("__t"): _*)
      .select(keep ++ Seq(col("__t"),
        explode(when(size(col("__t")) >= 3,
          sequence(lit(1), size(col("__t")) - 2))
          .otherwise(array().cast("array<int>"))).as("__i")): _*)
      .select(keep ++ Seq(
        element_at(col("__t"), col("__i")).as("__w1"),
        element_at(col("__t"), col("__i") + 1).as("__w2"),
        element_at(col("__t"), col("__i") + 2).as("__w3")): _*)

  /** Interpolated Kneser–Ney TRIGRAM quality score — [[knQualityScore]]
    * with one more backoff level (Kneser & Ney 1995; Chen & Goodman
    * 1998's interpolated form — the ≥3-gram KenLM shape CCNet-grade
    * perplexity filters actually deploy):
    *
    * `P(w3|w1w2) = max(c(w1w2w3) − D, 0)/c(w1w2)
    *             + D·N1+(w1w2·)/c(w1w2) · P2(w3|w2)`
    * with raw counts at the top level; the middle level uses
    * CONTINUATION counts over distinct trigram types (how many distinct
    * left-contexts a bigram continues, not how often):
    * `P2(w3|w2) = max(N1+(·w2w3) − D, 0)/N1+(·w2·)
    *            + D·N1+(w2·)/N1+(·w2·) · Pc(w3)`
    * and the base is [[knQualityScore]]'s add-one-smoothed continuation
    * unigram `Pc(w3) = (N1+(·w3) + 1)/(N1+(··) + V + 1)` over the
    * reference BIGRAM types — unseen words carry mass, every log is
    * finite. Unseen histories back off entirely (`c(w1w2)=0` →
    * `P2`; `N1+(·w2·)=0` → `Pc`).
    *
    * Output: `(idCol, n_trigrams, avg_nll)`, NULL score for <3-token
    * docs (they produce no trigram).
    *
    * Scale shape: one exploded-bigram pass (w3-continuation + scalar
    * totals + vocab — shared shapes with [[knQualityScore]]) and one
    * exploded-trigram pass (trigram counts, (w1,w2) history stats,
    * (w2,w3)/(w2) continuation stats over the TYPES table), all
    * map-side-combined aggregates; scoring explodes doc trigrams once
    * and key-joins the five model tables plus two broadcast scalars.
    * No UDFs, no windows.
    */
  def kn3QualityScore(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      refCorpus: org.apache.spark.sql.DataFrame,
      refTextCol: String,
      discount: Double = 0.75): org.apache.spark.sql.DataFrame = {
    require(discount > 0.0 && discount < 1.0,
      s"discount must be in (0, 1), got $discount")
    val refBi = explodedBigrams(refCorpus, refTextCol, Nil)
    val w3Cont = refBi.groupBy(col("__w2").as("__w3"))
      .agg(countDistinct(col("__w1")).as("__n1pr"))
    val totals = refBi.agg(countDistinct(col("__bg")).as("__n1pall"))
    val vocab = refCorpus
      .select(explode(tokens(col(refTextCol))).as("__w"))
      .agg(countDistinct(col("__w")).as("__v"))
    val refTri = explodedTrigrams(refCorpus, refTextCol, Nil)
    val triCounts = refTri.groupBy("__w1", "__w2", "__w3")
      .agg(count(lit(1)).as("__c123"))
    val histStats = refTri.groupBy("__w1", "__w2").agg(
      count(lit(1)).as("__c12"),
      countDistinct(col("__w3")).as("__n1pl3"))
    // continuation stats over distinct trigram TYPES (types-sized)
    val kn2 = triCounts.groupBy("__w2", "__w3")
      .agg(count(lit(1)).as("__kn2"))
    val midStats = kn2.groupBy("__w2").agg(
      sum(col("__kn2")).as("__kn2den"),
      count(lit(1)).as("__n1pl2"))
    val c123 = coalesce(col("__c123"), lit(0L)).cast("double")
    val c12 = coalesce(col("__c12"), lit(0L)).cast("double")
    val n1pl3 = coalesce(col("__n1pl3"), lit(0L)).cast("double")
    val ckn2 = coalesce(col("__kn2"), lit(0L)).cast("double")
    val kn2den = coalesce(col("__kn2den"), lit(0L)).cast("double")
    val n1pl2 = coalesce(col("__n1pl2"), lit(0L)).cast("double")
    val pc = (coalesce(col("__n1pr"), lit(0L)).cast("double") + lit(1.0)) /
      (col("__n1pall").cast("double") + col("__v").cast("double") + lit(1.0))
    val p2 = when(kn2den > 0,
      greatest(ckn2 - lit(discount), lit(0.0)) / kn2den +
        lit(discount) * n1pl2 / kn2den * pc)
      .otherwise(pc)
    val p3 = when(c12 > 0,
      greatest(c123 - lit(discount), lit(0.0)) / c12 +
        lit(discount) * n1pl3 / c12 * p2)
      .otherwise(p2)
    val scored = explodedTrigrams(docs, textCol, Seq(col(idCol)))
      .join(triCounts, Seq("__w1", "__w2", "__w3"), "left")
      .join(histStats, Seq("__w1", "__w2"), "left")
      .join(kn2, Seq("__w2", "__w3"), "left")
      .join(midStats, Seq("__w2"), "left")
      .join(w3Cont, Seq("__w3"), "left")
      .crossJoin(broadcast(totals))
      .crossJoin(broadcast(vocab))
      .select(col(idCol), (-log(p3)).as("__nll"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_trigrams"),
        round(avg(col("__nll")), 6).as("avg_nll"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_trigrams"), lit(0L)).as("n_trigrams"),
        col("avg_nll"))
  }

  /** Bigram collocation mining by pointwise mutual information —
    * terminology/phrase extraction over a corpus ("new york",
    * "machine learning" score high because they co-occur far above
    * their parts' independent rates), the classic signal feeding
    * tokenizer merge candidates and phrase-aware indexing:
    * `pmi = ln(n12·N / (n1·n2))` over the corpus's bigram table, with
    * `n1` = occurrences of w1 as a bigram's FIRST word, `n2` = w2 as a
    * SECOND word, `N` = total bigrams (the standard positional
    * convention). `minCount` prunes the noisy singleton tail — PMI's
    * known pathology is maximal scores for hapax pairs.
    *
    * Output: `(w1, w2, n12, pmi)` for pairs with `n12 >= minCount`,
    * pmi rounded to 6 decimals.
    *
    * Scale shape: one exploded-bigram count aggregate (map-side
    * partial), two marginal aggregates over the bigram-types table
    * (types-sized, not corpus-sized), key joins back, one broadcast
    * 1-row total. Operands widen to double BEFORE multiplying so no
    * count product can overflow a long.
    */
  def collocations(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      minCount: Long = 5L): org.apache.spark.sql.DataFrame = {
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    val bi = explodedBigrams(df, textCol, Nil)
      .groupBy("__w1", "__w2").agg(count(lit(1)).as("__n12"))
    val n1 = bi.groupBy("__w1").agg(sum(col("__n12")).as("__n1"))
    val n2 = bi.groupBy("__w2").agg(sum(col("__n12")).as("__n2"))
    val total = bi.agg(sum(col("__n12")).as("__nn"))
    bi.where(col("__n12") >= minCount)
      .join(n1, "__w1").join(n2, "__w2")
      .crossJoin(broadcast(total))
      .select(col("__w1").as("w1"), col("__w2").as("w2"),
        col("__n12").as("n12"),
        round(log((col("__n12").cast("double") * col("__nn").cast("double")) /
          (col("__n1").cast("double") * col("__n2").cast("double"))), 6)
          .as("pmi"))
  }

  /** Dunning log-likelihood-ratio collocations (Dunning 1993,
    * "Accurate Methods for the Statistics of Surprise and
    * Coincidence") — the LOW-COUNT-ROBUST sibling of [[collocations]]'
    * PMI (PMI explodes for rare pairs; G² is χ²-calibrated, so one
    * threshold works across frequency bands): for each adjacent bigram
    * the 2×2 contingency `O₁₁=n₁₂, O₁₂=n₁−n₁₂, O₂₁=n₂−n₁₂,
    * O₂₂=N−n₁−n₂+n₁₂` scores `G² = 2·Σ Oᵢⱼ·ln(Oᵢⱼ/Eᵢⱼ)` with
    * `Eᵢⱼ = rowᵢ·colⱼ/N`; zero cells contribute 0 by the standard
    * x·ln(x) → 0 limit.
    *
    * Engine-exact: all four cells are exact LONGs from one bigram
    * count pass, and G² is ONE fixed-order portable IEEE expression
    * over them (terms added O₁₁, O₁₂, O₂₁, O₂₂ left to right — the
    * twin adds in the same order), rounded to 6. `minCount` prunes the
    * hapax tail exactly like [[collocations]]. Scale shape: identical
    * — one exploded-bigram map-side-combined groupBy, two marginal
    * rollups, one broadcast total. Output:
    * `(w1, w2, n12, n1, n2, g2)`.
    */
  def dunningCollocations(
      df: org.apache.spark.sql.DataFrame,
      textCol: String,
      minCount: Long = 5L): org.apache.spark.sql.DataFrame = {
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    val bi = explodedBigrams(df, textCol, Nil)
      .groupBy("__w1", "__w2").agg(count(lit(1)).as("__n12"))
    val n1 = bi.groupBy("__w1").agg(sum(col("__n12")).as("__n1"))
    val n2 = bi.groupBy("__w2").agg(sum(col("__n12")).as("__n2"))
    val total = bi.agg(sum(col("__n12")).as("__nn"))
    def term(o: Column, rowM: Column, colM: Column, nn: Column): Column = {
      val e = rowM.cast("double") * colM.cast("double") / nn.cast("double")
      when(o === 0L, lit(0.0))
        .otherwise(o.cast("double") * log(o.cast("double") / e))
    }
    val o11 = col("__n12")
    val o12 = col("__n1") - col("__n12")
    val o21 = col("__n2") - col("__n12")
    val o22 = col("__nn") - col("__n1") - col("__n2") + col("__n12")
    val nn = col("__nn")
    val g2 = lit(2.0) * (
      term(o11, col("__n1"), col("__n2"), nn) +
        term(o12, col("__n1"), nn - col("__n2"), nn) +
        term(o21, nn - col("__n1"), col("__n2"), nn) +
        term(o22, nn - col("__n1"), nn - col("__n2"), nn))
    bi.where(col("__n12") >= minCount)
      .join(n1, "__w1").join(n2, "__w2")
      .crossJoin(broadcast(total))
      .select(col("__w1").as("w1"), col("__w2").as("w2"),
        col("__n12").as("n12"), col("__n1").as("n1"), col("__n2").as("n2"),
        round(g2, 6).as("g2"))
  }

  /** Good–Turing frequency-of-frequencies table (Good 1953; the raw
    * Turing estimates Gale & Sampson 1995's SGT smooths): for each
    * observed frequency `r`, the type count `N_r` and the adjusted
    * count `r* = (r+1)·N_{r+1}/N_r` — the backbone of classical LM
    * smoothing and the quickest corpus-health read of the rare-word
    * regime (a natural corpus shows a smooth N_r decay; template/
    * synthetic text shows spikes and gaps). `r*` is NULL where
    * `N_{r+1} = 0` (a frequency gap — the raw estimate is undefined
    * there; that loud NULL is the signal SGT exists to smooth, not a
    * value to invent). [[vocabularyCoverage]] already reports the
    * derived unseen-mass/coverage scalars; this is the full table.
    *
    * Exactness: `N_r` are exact LONGs from one word-count pass +
    * count-of-counts rollup; `r*` is one rounded division of exact
    * LONGs. Scale shape: corpus explode → vocab-sized type counts →
    * frequencies-sized table (tiny), one self left-join on `r+1`.
    * Output: `(r, n_r, r_star)` rounded to 6.
    */
  def goodTuringCounts(
      df: org.apache.spark.sql.DataFrame,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val freq = df.select(explode(tokens(col(textCol))).as("__w"))
      .groupBy("__w").agg(count(lit(1)).as("__r"))
      .groupBy(col("__r").as("r")).agg(count(lit(1)).as("n_r"))
    val next = freq.select(col("r").as("__r1"), col("n_r").as("__n1"))
    freq.join(next, col("r") + 1L === col("__r1"), "left")
      .select(col("r"), col("n_r"),
        round(((col("r") + 1L) * col("__n1")).cast("double") /
          col("n_r").cast("double"), 6).as("r_star"))
  }

  /** Okapi BM25 relevance of every document to a bag of query terms,
    * with Lucene's non-negative idf variant
    * `ln(1 + (N - df + 0.5) / (df + 0.5))`. The keyword-search /
    * lexical-retrieval primitive of a corpus pipeline (hard-negative
    * mining, topical subset selection, eval-set retrieval).
    *
    * Output: `(idCol, n_hits, score)` — one row per document containing
    * at least one query term; `n_hits` counts distinct matched terms and
    * `score` is rounded to 6 decimals for cross-engine determinism.
    *
    * Scale shape: tokens are filtered to the (lowercased, deduped) query
    * set BEFORE the explode, so the posting stream that shuffles
    * (doc, term, tf regroup) is |matches|-sized, not corpus-sized.
    * Per-term document frequencies come from a window over that same
    * posting frame — not a second corpus scan — so the corpus is read
    * exactly twice: once for postings, once for the 1-row (N, avgdl)
    * broadcast scalar (`avgdl` from an exact long sum, so it is
    * summation-order-independent). No UDFs; everything stays in
    * whole-stage codegen.
    */
  def bm25(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      queryTerms: Seq[String],
      k1: Double = 1.2,
      b: Double = 0.75): org.apache.spark.sql.DataFrame = {
    require(queryTerms.nonEmpty, "queryTerms must be non-empty")
    require(k1 >= 0 && b >= 0 && b <= 1, s"bad BM25 params k1=$k1 b=$b")
    val qs = queryTerms.map(_.toLowerCase).distinct
    val toks = transform(tokens(col(textCol)), t => lower(t))
    val base = docs.select(col(idCol), size(toks).as("__dl"),
      filter(toks, t => t.isInCollection(qs)).as("__hits"))
    // exact long sum / long count → avgdl is deterministic at any
    // partitioning; avg(double) would not be
    val stats = base.agg(count(lit(1)).as("__n"),
      (sum(col("__dl")).cast("double") / count(lit(1))).as("__avgdl"))
    val postings = base
      .where(size(col("__hits")) > 0)
      .select(col(idCol), col("__dl"), explode(col("__hits")).as("__term"))
      .groupBy(col(idCol), col("__dl"), col("__term"))
      .agg(count(lit(1)).as("__tf"))
      // df(term) via a window over the postings, not a re-aggregated
      // second corpus scan: one (doc, term) row per posting group makes
      // a plain count() the distinct-doc count
      .withColumn("__df", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy("__term")))
    bm25Regroup(postings
      .crossJoin(broadcast(stats))
      .select(col(idCol), col("__term"),
        bm25ScoreExpr(col("__n"), col("__df"), col("__tf"), col("__dl"),
          col("__avgdl"), k1, b).as("__s")), idCol)
  }

  /** Per-doc regroup shared by [[bm25]] and `Search.searchIndex`:
    * `(idCol, n_hits, score)` from per-(doc, term) scores. The term
    * contributions are summed in TERM order via a sorted-array fold, not
    * `sum(double)` — partial aggregation's addition order depends on
    * partitioning, and a score near a 6-decimal rounding boundary could
    * flip its last digit between runs/engines/scale factors. Sorting
    * first makes the FP addition order part of the contract. Terms are
    * unique per doc in both call sites, so the struct sort is total.
    */
  private[operators] def bm25Regroup(
      scored: org.apache.spark.sql.DataFrame, idCol: String): org.apache.spark.sql.DataFrame =
    scored.groupBy(col(idCol))
      .agg(count(lit(1)).as("n_hits"),
        round(aggregate(
          array_sort(collect_list(struct(col("__term"), col("__s")))),
          lit(0.0), (acc, x) => acc + x.getField("__s")), 6).as("score"))

  /** Frequent-word subsampling (word2vec's discard step, Mikolov 2013
    * §2.3): token occurrences of word `w` with corpus frequency
    * `f(w) = cnt(w)/total` are DROPPED with probability
    * `max(0, 1 − sqrt(t/f))` — stopwords thin out, rare words always
    * survive, and the skip-gram windows that follow
    * ([[skipGramPairs]]) see proportionally more informative contexts.
    * Run this BEFORE pair generation, as the paper does.
    *
    * The coin is the [[graft.operators.Validation.noisedCounts]] hash
    * uniform per OCCURRENCE (`sha256(seed:doc:pos:token)`), and the
    * probability uses only IEEE-exact ops (sqrt, divide — correctly
    * rounded everywhere), so the kept set is engine- and run-exact.
    *
    * Shape: one token-count aggregate (map-side partials), the
    * per-token frequency joined back onto the posexploded stream (the
    * vocab side of that join is bounded — broadcast territory), one
    * per-doc regroup that REASSEMBLES the surviving tokens in position
    * order. Output: `(idCol, text_subsampled)`, empty string when
    * nothing survives.
    */
  def subsampleFrequent(
      df: DataFrame,
      idCol: String,
      textCol: String,
      t: Double = 1e-4,
      seed: String = "graft"): DataFrame = {
    require(t > 0 && t <= 1, s"t out of (0, 1]: $t")
    require(!seed.contains(":"), "seed must not contain ':'")
    val toks = transform(tokens(col(textCol)), x => lower(x))
    val stream = df.select(col(idCol).as("__doc"),
      posexplode(toks).as(Seq("__pos", "__tok")))
    val counts = stream.groupBy(col("__tok"))
      .agg(count(lit(1)).as("__cnt"))
    val total = stream.count()
    require(total > 0, "subsampleFrequent: empty corpus")
    val u = (graft.functions.VectorFunctions.hexPrefixToLong(
      sha2(concat_ws(":", lit(seed), col("__doc").cast("string"),
        col("__pos").cast("string"), col("__tok")), 256), 7) + lit(0.5)) /
      lit(268435456.0)
    val f = col("__cnt").cast("double") / lit(total.toDouble)
    val discardP = greatest(lit(0.0), lit(1.0) - sqrt(lit(t) / f))
    val kept = stream.join(counts, "__tok")
      .where(u >= discardP)
      .groupBy(col("__doc"))
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("__pos"), col("__tok")))),
        s => s.getField("__tok"))).as("text_subsampled"))
    // fully-discarded (or empty) docs survive as empty strings — a
    // vanished doc id would silently break downstream doc joins
    df.select(col(idCol))
      .join(kept.withColumnRenamed("__doc", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("text_subsampled"), lit("")).as("text_subsampled"))
  }

  /** Zipf-law fit over the corpus term-frequency distribution — the
    * corpus-naturalness audit: natural language sits near slope −1 on
    * the log-log rank/frequency line (Zipf 1949); template spam,
    * boilerplate floods, and synthetic corpora bend it. Gate refreshes
    * on slope drift the way [[graft.operators.Validation.populationStability]]
    * gates score drift.
    *
    * Exactness recipe: per term, `x = ln(rank)` / `y = ln(count)` and
    * their products are nano-quantized THE MOMENT THEY ARE BORN and
    * summed as LONGs (order-free); the closed-form least squares
    *   slope = (n·Σxy − Σx·Σy) / (n·Σx² − (Σx)²)
    * runs on those exact integers with double arithmetic only at the
    * very end. Ranks are `(count DESC, term ASC)` — a total order both
    * engines reproduce — computed with the range-repartition +
    * per-partition-window + broadcast-offsets discipline
    * ([[RankEval.aucRoc]]): the vocab table never collapses into one
    * task. Σ(ln r·ln c·1e9) bounds the vocab at ~1e7 terms per fit
    * (documented LONG headroom); sample the corpus beyond that.
    *
    * Output: one row `(n_terms, slope, intercept)`, both rounded to
    * 6 dp; NULL slope when fewer than 2 distinct terms.
    */
  def zipfFit(
      df: DataFrame, textCol: String, minCount: Long = 1L): DataFrame = {
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    val counts = df
      .select(explode(transform(tokens(col(textCol)), t => lower(t)))
        .as("__t"))
      .groupBy(col("__t")).agg(count(lit(1)).as("__c"))
      .where(col("__c") >= minCount)
    val parts = df.sparkSession.sparkContext.defaultParallelism
    val keyed = graft.core.Caches.pin(counts
      .repartitionByRange(parts, col("__c").desc, col("__t"))
      .sortWithinPartitions(col("__c").desc, col("__t"))
      .withColumn("__pid", spark_partition_id()))
    try graft.core.Caches.holding { held =>
      val w = org.apache.spark.sql.expressions.Window
      val offsets = keyed.groupBy(col("__pid"))
        .agg(count(lit(1)).as("__pn"))
        .withColumn("__off", coalesce(
          sum(col("__pn")).over(w.orderBy("__pid")
            .rowsBetween(Long.MinValue, -1)), lit(0L)))
        .select(col("__pid"), col("__off"))
      val ranked = keyed
        .withColumn("__r", row_number().over(
          w.partitionBy(col("__pid"))
            .orderBy(col("__c").desc, col("__t"))))
        .join(broadcast(offsets), "__pid")
        .select((col("__off") + col("__r")).as("__rank"), col("__c"))
      val x = log(col("__rank").cast("double"))
      val y = log(col("__c").cast("double"))
      val sums = ranked.agg(
        count(lit(1)).as("__n"),
        sum(round(x * 1e9).cast("long")).as("__sx"),
        sum(round(y * 1e9).cast("long")).as("__sy"),
        sum(round(x * y * 1e9).cast("long")).as("__sxy"),
        sum(round(x * x * 1e9).cast("long")).as("__sxx"))
      val n = col("__n").cast("double")
      val sx = col("__sx") / 1e9
      val sy = col("__sy") / 1e9
      val sxy = col("__sxy") / 1e9
      val sxx = col("__sxx") / 1e9
      val denom = n * sxx - sx * sx
      val slope = (n * sxy - sx * sy) / denom
      held(sums.select(col("__n").as("n_terms"),
          round(when(col("__n") < 2 || denom === 0.0, lit(null))
            .otherwise(slope), 6).as("slope"),
          round(when(col("__n") < 2 || denom === 0.0, lit(null))
            .otherwise((sy - slope * sx) / n), 6).as("intercept")))
    } finally keyed.unpersist()
  }

  /** License detection for code/document corpora — the compliance gate
    * of a training-data pipeline (exclude copyleft, keep permissive,
    * quarantine unknown): an explicit `SPDX-License-Identifier:` tag
    * when present (the machine-readable ground truth, regex-captured),
    * else a phrase heuristic over the canonical license preambles.
    * Everything is a narrow codegen'd expression — no shuffle, exact on
    * any engine (plain substring containment, one anchored regex).
    *
    * Output columns: `spdx_id` (the raw tag, NULL if absent),
    * `license_guess` (normalized lowercase id from tag-first-else-
    * phrases, NULL when nothing matches), `is_permissive` (true for
    * the mit/bsd/apache/mpl families, false for detected copyleft,
    * NULL when unknown — three-valued on purpose: "no license found"
    * must not read as "permitted").
    */
  def withLicenseDetection(df: DataFrame, textCol: String): DataFrame = {
    val t = coalesce(col(textCol), lit(""))
    val lower_ = lower(t)
    val spdx = regexp_extract(t,
      "SPDX-License-Identifier:[ \\t]*([A-Za-z0-9.+-]+)", 1)
    val spdxId = when(spdx =!= "", spdx)
    val guess = coalesce(
      when(spdx =!= "", lower(spdx)),
      when(lower_.contains("apache license") &&
        lower_.contains("version 2.0"), lit("apache-2.0")),
      when(lower_.contains("permission is hereby granted, free of charge"),
        lit("mit")),
      when(lower_.contains("gnu affero general public license"),
        lit("agpl-3.0")),
      when(lower_.contains("gnu lesser general public license"),
        lit("lgpl-3.0")),
      when(lower_.contains("gnu general public license"), lit("gpl-3.0")),
      when(lower_.contains("mozilla public license"), lit("mpl-2.0")),
      when(lower_.contains("redistribution and use in source and binary " +
        "forms"), lit("bsd-3-clause")),
      when(lower_.contains("creative commons"), lit("cc")))
    val permissive = when(guess.isNull, lit(null).cast("boolean"))
      .otherwise(
        guess.startsWith("mit") || guess.startsWith("bsd") ||
        guess.startsWith("apache") || guess.startsWith("mpl") ||
        guess.startsWith("isc") || guess.startsWith("unlicense") ||
        guess.startsWith("cc0"))
    df.withColumn("spdx_id", spdxId)
      .withColumn("license_guess", guess)
      .withColumn("is_permissive", permissive)
  }

  /** Skip-gram co-occurrence pairs (the word2vec/TextRank training
    * table): for every token at position `i` and every token within
    * `window` positions AFTER it, emit the pair in BOTH orientations,
    * then count globally — `(center, context, n)`. Window is positional
    * (tokens, not characters), the standard skip-gram definition with
    * symmetric context.
    *
    * Scale shape: the `window`-way pairing happens IN-ROW — each
    * offset k pairs the token array with its own k-shifted copy
    * ([[shinglesOfTokens]]' zip discipline: shifted copies are HOF
    * *arguments*, evaluated once per row) — so the only exchange in
    * the whole operator is the final map-side-combined count. The
    * previous shape (posexplode to a token stream, window-way position
    * fan-out, equi-join back on `(doc, pos)`) shuffled
    * `corpus_tokens × window` rows TWICE before ever counting; the
    * pair multiset is identical, so the counted table is bit-for-bit
    * unchanged. Zipfian pair skew still lands on a hash aggregate
    * (AQE-splittable). Exact integer counts → any engine reproduces
    * the table bit-for-bit.
    */
  def skipGramPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      window: Int = 2): DataFrame = {
    require(window >= 1 && window <= 16,
      s"window must be in 1..16, got $window")
    val toks = transform(tokens(col(textCol)), t => lower(t))
    // BOTH orientations ride the same in-row arrays, so one corpus scan
    // feeds the count (the union-of-flipped form would run the whole
    // pairing pipeline once per branch)
    val pairsCol = bound(toks) { tk =>
      val len = size(tk)
      val perOffset = (1 to window).flatMap { k =>
        // zip_with pads the shorter (shifted) side with nulls — the
        // tail pairs with null context/center drop in the filter below
        val shifted = slice(tk, lit(k + 1), greatest(len - k, lit(0)))
        Seq(
          zip_with(tk, shifted,
            (a, b) => struct(a.as("center"), b.as("context"))),
          zip_with(tk, shifted,
            (a, b) => struct(b.as("center"), a.as("context"))))
      }
      filter(
        if (perOffset.size == 1) perOffset.head else concat(perOffset: _*),
        p => p.getField("context").isNotNull && p.getField("center").isNotNull)
    }
    df.select(explode(pairsCol).as("__pr"))
      .select(col("__pr.center").as("center"),
        col("__pr.context").as("context"))
      .groupBy(col("center"), col("context"))
      .agg(count(lit(1)).as("n"))
  }

  /** TextRank keyword extraction (Mihalcea & Tarau 2004): PageRank over
    * the [[skipGramPairs]] co-occurrence graph, edge-weighted by pair
    * count, top `topK` words by `(pr DESC, word ASC)`. Runs on the
    * corpus as ONE graph — per-group keyword sets come from
    * [[topTermsPerGroup]]; this is the graph-centrality alternative
    * that rewards connectivity instead of tf-idf contrast.
    *
    * Exactness: integer edge weights keep [[Graphs.pageRank]]'s
    * nano-unit iteration engine-exact (its documented integer-weight
    * contract), and the final order is total — so even the LIMIT is
    * deterministic. Scale: [[skipGramPairs]] + `iterations` PageRank
    * rounds; the top-k is a TakeOrdered, not a global sort.
    */
  def textRankKeywords(
      df: DataFrame,
      idCol: String,
      textCol: String,
      window: Int = 2,
      iterations: Int = 3,
      damping: Double = 0.85,
      topK: Int = 20): DataFrame = {
    require(topK >= 1 && topK <= 100000, s"topK must be in 1..100k: $topK")
    val pairs = skipGramPairs(df, idCol, textCol, window)
    Graphs.pageRank(pairs, "center", "context", iterations, damping,
        weightCol = Some("n"))
      .orderBy(col("pr").desc, col("node"))
      .limit(topK)
      .select(col("node").as("word"), col("pr"))
  }

  /** The BM25 scoring kernel shared by [[bm25]] and
    * `Search.searchIndex` — ONE definition so the documented bit-identical
    * equivalence of the ad-hoc and indexed paths holds by construction,
    * not by parallel-edit discipline. Operand association is part of the
    * contract: the DuckDB oracle spells out the same tree.
    */
  private[operators] def bm25ScoreExpr(
      n: Column, df: Column, tf: Column, dl: Column, avgdl: Column,
      k1: Double, b: Double): Column =
    log(lit(1.0) + (n - df + lit(0.5)) / (df + lit(0.5))) *
      (tf * (lit(k1) + lit(1.0))) /
      (tf + lit(k1) * (lit(1.0) - lit(b) + lit(b) * dl / avgdl))

  /** Per-context expected ACCEPTANCE RATE of speculative decoding
    * (Leviathan et al. 2023, "Fast Inference from Transformers via
    * Speculative Decoding"): with a draft model q proposing and a
    * target model p verifying, the expected per-token acceptance is
    * `Σ_w min(p(w|c), q(w|c))` — 1 means the draft is a perfect proxy
    * for that context, and the decode speedup collapses as it falls.
    * This estimates it over two add-one bigram LMs (the
    * [[lmQualityScore]] model shape) trained on a TARGET corpus and a
    * DRAFT corpus — the planning audit for "can a small model trained
    * on slice X draft for the big one?" before any GPU is spent.
    *
    * Exactness: for context w1 the two denominators are CONSTANT
    * (`d_p = c_p(w1) + V`, `d_q = c_q(w1) + V`, V = shared union
    * vocabulary), so the seen-continuation sum splits into two exact
    * LONG numerator sums — terms where the target side is the min
    * (decided by the exact cross-product `num_p·d_q ≤ num_q·d_p`, ties
    * to target) and terms where the draft side is; the unseen tail is
    * closed-form `(V − n_seen)/max(d_p, d_q)`. Three divisions, one
    * pinned-order addition chain — hash-exact on any engine. The eager
    * `maxTokens` refusal (≤ 1.5e9 tokens per corpus) keeps every cross
    * product inside 2^63.
    *
    * Scale shape: two bigram-count aggregates, one full-outer join on
    * the bigram key, two context joins, one context-keyed aggregate —
    * everything is distinct-bigram sized after the first pass; nothing
    * is collected. Output: one row per context appearing in EITHER
    * model's bigram table: `(context, ctx_target, ctx_draft, n_seen,
    * acceptance)` at 6 dp.
    */
  def speculativeAcceptance(
      target: org.apache.spark.sql.DataFrame,
      draft: org.apache.spark.sql.DataFrame,
      textCol: String,
      maxTokens: Long = 1500000000L): org.apache.spark.sql.DataFrame = {
    require(maxTokens >= 1L && maxTokens <= 1500000000L,
      s"maxTokens must be in 1..1.5e9 (cross products must stay inside " +
        s"2^63), got $maxTokens")
    def uni(df: org.apache.spark.sql.DataFrame, cnt: String) = df
      .select(explode(tokens(col(textCol))).as("__w1"))
      .groupBy("__w1").agg(count(lit(1)).as(cnt))
    val uniT = graft.core.Caches.pin(uni(target, "__cut"))
    val uniD = graft.core.Caches.pin(uni(draft, "__cud"))
    try graft.core.Caches.holding { held =>
      val nT = uniT.agg(coalesce(sum(col("__cut")), lit(0L))).head().getLong(0)
      val nD = uniD.agg(coalesce(sum(col("__cud")), lit(0L))).head().getLong(0)
      require(nT >= 2L && nD >= 2L,
        s"speculativeAcceptance: target/draft hold $nT/$nD tokens — " +
          "both corpora need at least one bigram")
      require(nT <= maxTokens && nD <= maxTokens,
        s"speculativeAcceptance: $nT/$nD tokens exceed maxTokens=" +
          s"$maxTokens — the exact min test is a cross product of " +
          "count+vocab terms and must stay inside 2^63")
      val vocab = uniT.select(col("__w1"))
        .union(uniD.select(col("__w1"))).distinct()
        .agg(count(lit(1)).as("__v"))
      def bi(df: org.apache.spark.sql.DataFrame, cnt: String) =
        explodedBigrams(df, textCol, Nil)
          .groupBy(col("__w1").as("__c1"), col("__w2"))
          .agg(count(lit(1)).as(cnt))
      val seen = bi(target, "__cbt").withColumnRenamed("__c1", "__w1")
        .join(bi(draft, "__cbd").withColumnRenamed("__c1", "__w1"),
          Seq("__w1", "__w2"), "full_outer")
      val j = seen
        .join(uniT, Seq("__w1"), "left")
        .join(uniD, Seq("__w1"), "left")
        .crossJoin(broadcast(vocab))
        .select(col("__w1"),
          (coalesce(col("__cbt"), lit(0L)) + 1L).as("__np"),
          (coalesce(col("__cbd"), lit(0L)) + 1L).as("__nq"),
          (coalesce(col("__cut"), lit(0L)) + col("__v")).as("__dp"),
          (coalesce(col("__cud"), lit(0L)) + col("__v")).as("__dq"),
          col("__v"))
      val targetWins = col("__np") * col("__dq") <= col("__nq") * col("__dp")
      held(j.groupBy(col("__w1"))
        .agg(sum(when(targetWins, col("__np")).otherwise(0L)).as("__sp"),
          sum(when(targetWins, lit(0L)).otherwise(col("__nq"))).as("__sq"),
          count(lit(1)).as("n_seen"),
          max(col("__dp")).as("__dp"), max(col("__dq")).as("__dq"),
          max(col("__v")).as("__v"))
        .select(col("__w1").as("context"),
          (col("__dp") - col("__v")).as("ctx_target"),
          (col("__dq") - col("__v")).as("ctx_draft"),
          col("n_seen"),
          round(col("__sp").cast("double") / col("__dp") +
            col("__sq").cast("double") / col("__dq") +
            (col("__v") - col("n_seen")).cast("double") /
              greatest(col("__dp"), col("__dq")), 6).as("acceptance")))
    } finally { uniT.unpersist(); uniD.unpersist() }
  }

  /** Vocabulary-coverage estimators per slice — "how much of this
    * source's vocabulary have we actually seen?", the planning audit
    * behind tokenizer sizing and how much more of a source is worth
    * crawling:
    *
    *  - **Chao1** richness (Chao 1984, the bias-corrected form
    *    `V + f1·(f1−1)/(2·(f2+1))` — defined even with no doubletons):
    *    a lower bound on the TRUE number of types, driven by the
    *    singleton/doubleton ratio.
    *  - **Good–Turing coverage** (Good 1953): `1 − f1/N` — the
    *    probability the NEXT token is an already-seen type; its
    *    complement is the unseen-mass estimate.
    *
    * Both derive from exact LONG aggregates (type counts, hapax f1,
    * dis legomena f2, token total N) with one portable division each,
    * so the DuckDB twin is hash-exact. NULL-keyed rows drop (the
    * equality-join convention); empty slices produce no row. The eager
    * per-slice vocabulary bound (≤ 1e9 types) keeps `f1·(f1−1)` inside
    * 2^63. Scale shape: one corpus explode + (key, token) groupBy,
    * then two slice-keyed aggregates — nothing driver-sized.
    *
    * Output per key: `(key…, n_tokens, vocab, f1, f2, chao1,
    * coverage)`, 6 dp.
    */
  def vocabularyCoverage(
      df: org.apache.spark.sql.DataFrame,
      keyCols: Seq[String],
      textCol: String): org.apache.spark.sql.DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    val keys = keyCols.map(col)
    coverageFromTokenCounts(df
      .where(keyCols.map(col(_).isNotNull).reduce(_ && _))
      .select(keys :+ explode(tokens(col(textCol))).as("__w"): _*)
      .groupBy(keys :+ col("__w"): _*).agg(count(lit(1)).as("__c")),
      keys)
  }

  /** [[vocabularyCoverage]] from pre-aggregated `(__k, __t, __c)` slice
    * term counts — the SAME sum-mergeable statistic
    * [[sourceSimilarityFromCounts]] and [[sliceDivergenceFromCounts]]
    * read, so one streamed term-count log also carries a STANDING
    * richness/coverage audit (type counts fold exactly across batches:
    * a token's merged count is the sum of its batch counts, and f1/f2
    * derive from the folded counts). Output key column is `__k`.
    */
  def vocabularyCoverageFromCounts(
      rawCounts: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    coverageFromTokenCounts(rawCounts
      .where(col("__k").isNotNull)
      .groupBy(col("__k"), col("__t").as("__w"))
      .agg(sum(col("__c")).as("__c")),
      Seq(col("__k")))

  /** The shared (keys…, token, count) → richness/coverage aggregate:
    * eager per-slice type bound, then one slice-keyed pass.
    */
  private def coverageFromTokenCounts(
      tokenCounts: org.apache.spark.sql.DataFrame,
      keys: Seq[Column]): org.apache.spark.sql.DataFrame = {
    val counts = graft.core.Caches.pin(tokenCounts)
    try graft.core.Caches.holding { held =>
      val mx = counts.groupBy(keys: _*).agg(count(lit(1)).as("__v"))
        .agg(max(col("__v"))).head()
      val biggest = if (mx.isNullAt(0)) 0L else mx.getLong(0)
      require(biggest <= 1000000000L,
        s"vocabularyCoverage: a slice holds $biggest types (> 1e9) — " +
          "the Chao1 numerator f1·(f1−1) would overflow 2^63")
      held(counts.groupBy(keys: _*)
        .agg(sum(col("__c")).as("n_tokens"),
          count(lit(1)).as("vocab"),
          count(when(col("__c") === 1L, 1)).as("f1"),
          count(when(col("__c") === 2L, 1)).as("f2"))
        .select(keys ++ Seq(col("n_tokens"), col("vocab"), col("f1"),
          col("f2"),
          round(col("vocab") + (col("f1") * (col("f1") - 1L)).cast("double")
            / (lit(2L) * (col("f2") + 1L)), 6).as("chao1"),
          round(lit(1.0) - col("f1").cast("double") / col("n_tokens"), 6)
            .as("coverage")): _*))
    } finally counts.unpersist()
  }

  /** Heaps' law fit `V(N) = K·N^β` of vocabulary growth (Heaps 1978;
    * Herdan 1960) — the "how fast does this source mint new types"
    * audit behind tokenizer sizing, dedup health (a mirrored corpus
    * grows vocabulary SLOWER than fresh text) and the T261 richness
    * estimators: walk the corpus in ascending-`idCol` order, record
    * the (cumulative tokens, cumulative distinct types) curve at up to
    * `maxPoints` evenly-spaced document boundaries, and fit ln V =
    * ln K + β·ln N by least squares. English prose sits near
    * β ≈ 0.5; β drifting down across snapshots means the source is
    * mining out.
    *
    * Exactness: the curve is pure INTEGER (types-minted-per-doc from
    * one min-doc aggregate, prefix sums via [[graft.operators
    * .Validation.rangePrefix]] — never a one-task sort); each sampled
    * ln is micro-rounded at birth to a LONG, the five OLS moments are
    * exact LONG sums (maxPoints ≤ 1024 keeps Σx·y inside 2^63), and
    * the slope's 128-bit numerator/denominator are formed exactly on
    * the driver before ONE round-to-nearest double division (the
    * DuckDB twin does the same in HUGEINT).
    *
    * Scale shape: one corpus explode → (term, minDoc) aggregate, one
    * docs-sized table with three rangePrefix passes, a ≤ maxPoints
    * sample, one scalar aggregate. Zero-token docs are skipped (they
    * advance nothing). Output one row:
    * `(n_docs, n_points, n_tokens, n_types, beta, k)` rounded to 6.
    */
  def heapsLaw(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      maxPoints: Int = 256): org.apache.spark.sql.DataFrame = {
    require(maxPoints >= 2 && maxPoints <= 1024,
      s"maxPoints must be in 2..1024, got $maxPoints")
    val spark = df.sparkSession
    import spark.implicits._
    val toksDf = df.select(col(idCol).as("__id"),
        tokens(col(textCol)).as("__t"))
      .where(size(col("__t")) > 0)
    val perDoc = toksDf.select(col("__id"), size(col("__t")).cast("long")
      .as("__ntok"))
    val minted = toksDf
      .select(col("__id"), explode(col("__t")).as("__w"))
      .groupBy(col("__w")).agg(min(col("__id")).as("__id"))
      .groupBy(col("__id")).agg(count(lit(1)).as("__new"))
    val docs0 = perDoc.join(minted, Seq("__id"), "left")
      .select(col("__id"), col("__ntok"),
        coalesce(col("__new"), lit(0L)).as("__new"))
      .withColumn("__one", lit(1L))
    val withTok = graft.operators.Validation.rangePrefix(
      docs0, "__id", "__ntok", "__pt")
    val withTyp = graft.operators.Validation.rangePrefix(
      withTok, "__id", "__new", "__pv")
    val cum = graft.operators.Validation.rangePrefix(
      withTyp, "__id", "__one", "__pi")
      .select((col("__pi") + 1L).as("__idx"),
        (col("__pt") + col("__ntok")).as("__ct"),
        (col("__pv") + col("__new")).as("__cv"))
    val nDocs = docs0.count()
    require(nDocs >= 2L,
      s"heapsLaw: $nDocs non-empty doc(s) — no growth curve to fit")
    val step = (nDocs + maxPoints - 1) / maxPoints
    val moments = cum.where(col("__idx") % step === 0L)
      .select(round(log(col("__ct").cast("double")) * 1e6).cast("long")
          .as("__x"),
        round(log(col("__cv").cast("double")) * 1e6).cast("long").as("__y"))
      .agg(count(lit(1)).as("__k"), sum(col("__x")).as("__sx"),
        sum(col("__y")).as("__sy"),
        sum(col("__x") * col("__y")).as("__sxy"),
        sum(col("__x") * col("__x")).as("__sxx"))
      .head()
    val k = moments.getAs[Long]("__k")
    require(k >= 2L, s"heapsLaw: $k sampled point(s) — need >= 2")
    val (sx, sy, sxy, sxx) = (moments.getAs[Long]("__sx"),
      moments.getAs[Long]("__sy"), moments.getAs[Long]("__sxy"),
      moments.getAs[Long]("__sxx"))
    val num = BigInt(k) * BigInt(sxy) - BigInt(sx) * BigInt(sy)
    val den = BigInt(k) * BigInt(sxx) - BigInt(sx) * BigInt(sx)
    require(den != BigInt(0),
      "heapsLaw: zero x-variance across sampled points — the curve " +
        "degenerated (all samples at one cumulative-token value)")
    val beta = num.toDouble / den.toDouble
    val kD = k.toDouble
    val intercept = (sy.toDouble / 1e6 - beta * (sx.toDouble / 1e6)) / kD
    val bigK = math.exp(intercept)
    val tot = cum.agg(max(col("__ct")).as("__t"), max(col("__cv")).as("__v"))
      .head()
    def r6(x: Double) = BigDecimal(x).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
    Seq((nDocs, k, tot.getAs[Long]("__t"), tot.getAs[Long]("__v"),
        r6(beta), r6(bigK)))
      .toDF("n_docs", "n_points", "n_tokens", "n_types", "beta", "k")
  }

  /** Moving-average type-token ratio per document (MATTR, Covington &
    * McFall 2010) — the length-INDEPENDENT lexical-diversity gate
    * (plain TTR collapses as documents grow, so a TTR threshold
    * silently passes long spam and fails long prose): average the TTR
    * of every length-`window` sliding token window. Because each
    * window's denominator is the SAME `window`, the average collapses
    * to ONE exact rational `Σᵢ distinctᵢ / (n_windows · window)` —
    * integer until a single rounded division.
    *
    * Docs shorter than `window` fall back to plain TTR over the whole
    * doc (the published convention), carried with `n_windows = 0`;
    * empty docs score NULL. Scale shape: one in-row array expression
    * per doc (O(len·window) local work, no explode, no shuffle).
    * Output: `(idCol, n_tokens, n_windows, mattr)`.
    */
  def mattr(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      window: Int = 50): org.apache.spark.sql.DataFrame = {
    require(window >= 2 && window <= 1000,
      s"window must be in 2..1000, got $window")
    val t = tokens(col(textCol))
    val n = size(t)
    val nWin = greatest(n - (window - 1), lit(0))
    val distinctSum = aggregate(
      transform(
        when(n >= window, sequence(lit(1), n - (window - 1)))
          .otherwise(array().cast("array<int>")),
        i => size(array_distinct(slice(t, i, lit(window)))).cast("long")),
      lit(0L), (acc, x) => acc + x)
    df.select(col(idCol), n.cast("long").as("n_tokens"),
      nWin.cast("long").as("n_windows"),
      round(when(n === 0, lit(null).cast("double"))
        .when(n < window,
          size(array_distinct(t)).cast("double") / n.cast("double"))
        .otherwise(distinctSum.cast("double") /
          (nWin.cast("long") * window).cast("double")), 6).as("mattr"))
  }

  /** Corpus bigram entropy rate `H = −Σ p(w1w2)·ln p(w2|w1)`
    * (Shannon's conditional entropy of the next token under the
    * empirical bigram model) — the redundancy audit: boilerplate-heavy
    * or template-generated corpora score LOW (the next token is
    * predictable), healthy prose sits near the language's ~6–8
    * bits/word. Computed as `−(1/N)·Σ_types c12·ln(c12/c1)` over the
    * bigram-type table.
    *
    * Exactness: each type's `ln(c12/c1)` is nano-rounded at birth and
    * multiplied by the exact LONG `c12`, so the sum is order-free
    * integer; one final division. The eager `N ≤ 4e8` refusal keeps
    * `N·ln(N)·1e9` inside 2^63 — slice a 100 TB corpus upstream (the
    * rate is per-slice diagnostic anyway).
    *
    * Scale shape: one exploded-bigram pass (map-side-combined), one
    * types-sized context rollup + join, one scalar aggregate. Output
    * one row: `(n_bigrams, n_bigram_types, n_contexts, entropy_rate)`
    * in nats, rounded to 6; NULL rate when the corpus has no bigram.
    */
  def bigramEntropyRate(
      df: org.apache.spark.sql.DataFrame,
      textCol: String): org.apache.spark.sql.DataFrame = {
    val counts = graft.core.Caches.pin(
      explodedBigrams(df, textCol, Nil)
        .groupBy("__w1", "__w2").agg(count(lit(1)).as("__c12")))
    val (n, types, s, nCtx) = try {
      // EAGER guard: count N in a cheap first aggregate and refuse
      // BEFORE the nano-ln·count weighted sum ever runs — the overflow
      // being refused must not be computable while computing the refusal
      val nHead = counts
        .agg(sum(col("__c12")).as("__n"), count(lit(1)).as("__types"))
        .head()
      val n = if (nHead.isNullAt(0)) 0L else nHead.getAs[Long]("__n")
      require(n <= 400000000L,
        s"bigramEntropyRate: $n bigrams (> 4e8) — the nano-ln·count " +
          "terms would overflow 2^63; slice the corpus upstream")
      val types = nHead.getAs[Long]("__types")
      val ctx = counts.groupBy("__w1").agg(sum(col("__c12")).as("__c1"))
      val term = col("__c12") *
        round(log(col("__c12").cast("double") / col("__c1").cast("double"))
          * 1e9).cast("long")
      val sHead = counts.join(ctx, "__w1").agg(sum(term).as("__s")).head()
      val s = if (sHead.isNullAt(0)) 0L else sHead.getAs[Long]("__s")
      (n, types, s, ctx.count())
    } finally counts.unpersist()
    val spark = df.sparkSession
    import spark.implicits._
    val rate: Option[Double] = if (n == 0L) None
    else Some(BigDecimal(s.toDouble / (n.toDouble * 1e9) * -1.0)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    Seq((n, types, nCtx, rate))
      .toDF("n_bigrams", "n_bigram_types", "n_contexts", "entropy_rate")
  }

  /** Term burstiness per vocabulary type (Church & Gale 1995's
    * observation — content words are BURSTY, function words
    * Poisson-like; tf statistics and naive LM smoothing both assume
    * the latter): the Fisher dispersion index
    * `VMR = (N·Σc² − (Σc)²) / (N·Σc)` of the term's per-document count
    * over ALL `N` corpus docs (zeros included — they live entirely in
    * the closed form), plus Church & Gale's ADAPTATION
    * `P(c ≥ 2 | c ≥ 1) = docs₂₊/docs₁₊` — the "once it appears, does
    * it keep appearing" repeat probability. VMR = 1 is Poisson;
    * content words score ≫ 1. The audit feeding stopword lists, tf-idf
    * sanity checks and topical-term mining.
    *
    * Exactness: Σc and Σc² are exact LONGs from one (doc, term) count
    * table; VMR is one fixed-order portable IEEE expression over them,
    * adaptation an exact LONG ratio — both rounded to 6.
    *
    * Scale shape: one corpus explode → (doc, term) map-side-combined
    * groupBy → one types-sized aggregate; `minDocs` prunes the hapax
    * tail where dispersion is meaningless. Output:
    * `(term, n_docs, total, vmr, adaptation)`.
    */
  def termBurstiness(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      minDocs: Long = 5L): org.apache.spark.sql.DataFrame = {
    require(minDocs >= 1L, s"minDocs must be >= 1, got $minDocs")
    val n = df.count()
    require(n >= 1L, "termBurstiness: empty corpus")
    val nD = lit(n).cast("double")
    val s1 = col("total").cast("double")
    val s2 = col("__s2").cast("double")
    df.select(col(idCol), explode(tokens(col(textCol))).as("__w"))
      .groupBy(col(idCol), col("__w"))
      .agg(count(lit(1)).as("__c"))
      .groupBy(col("__w"))
      .agg(count(lit(1)).as("n_docs"), sum(col("__c")).as("total"),
        sum(col("__c") * col("__c")).as("__s2"),
        count(when(col("__c") >= 2L, 1)).as("__d2"))
      .where(col("n_docs") >= minDocs)
      .select(col("__w").as("term"), col("n_docs"), col("total"),
        round((nD * s2 - s1 * s1) / (nD * s1), 6).as("vmr"),
        round(col("__d2").cast("double") / col("n_docs").cast("double"), 6)
          .as("adaptation"))
  }

  /** Distinct-n generation-diversity audit per slice (Li et al. 2016's
    * distinct-1/2/3 — the standard "is this synthetic/generated source
    * collapsing onto a few phrases" check before such data enters a
    * training mix): for each n-gram order, the corpus-level ratio of
    * DISTINCT n-grams to total n-gram occurrences within the slice.
    * A healthy natural-text slice keeps distinct-2/3 high; mode
    * collapse drives them toward 0.
    *
    * Exactness: counts are exact LONGs, the ratio one division rounded
    * to 6. Scale shape: one in-row n-gram build + explode per order
    * (corpus-linear, no joins), one slice-keyed aggregate each, orders
    * unioned. Slices with no order-n n-gram emit no row at that order
    * (a 1-token slice has no bigrams); NULL slices drop. Output:
    * `(sliceCol, n, total_ngrams, distinct_ngrams, distinct_ratio)`.
    */
  def distinctNgrams(
      df: org.apache.spark.sql.DataFrame,
      sliceCol: String,
      textCol: String,
      maxN: Int = 3): org.apache.spark.sql.DataFrame = {
    require(maxN >= 1 && maxN <= 8, s"maxN must be in 1..8, got $maxN")
    val base = df.where(col(sliceCol).isNotNull)
      .select(col(sliceCol), tokens(col(textCol)).as("__t"))
    (1 to maxN).map { n =>
      base
        .select(col(sliceCol), explode(transform(
          when(size(col("__t")) >= n, sequence(lit(1),
            size(col("__t")) - (n - 1)))
            .otherwise(array().cast("array<int>")),
          i => concat_ws(" ", slice(col("__t"), i, lit(n))))).as("__g"))
        .groupBy(col(sliceCol))
        .agg(count(lit(1)).as("total_ngrams"),
          countDistinct(col("__g")).as("distinct_ngrams"))
        .select(col(sliceCol), lit(n).as("n"), col("total_ngrams"),
          col("distinct_ngrams"),
          round(col("distinct_ngrams").cast("double") /
            col("total_ngrams").cast("double"), 6).as("distinct_ratio"))
    }.reduce(_.unionAll(_))
  }

  /** N-gram novelty of each document against a reference corpus (the
    * memorization/novelty audit of McCoy et al. 2021's RAVEN analysis:
    * how much of a generated/suspect text is copied n-gram-for-n-gram
    * from what the model saw): the fraction of the doc's n-gram
    * OCCURRENCES whose type never appears in `refCorpus`. Low novelty
    * at large n = verbatim regurgitation; decontamination reads the
    * low tail, synthetic-data audits the high one.
    *
    * Scale shape: the reference reduces to its distinct n-gram TYPES
    * once (map-side-combined), doc n-grams join that set on the gram
    * key — corpus-linear, no windows. Docs with fewer than `n` tokens
    * carry `n_ngrams = 0` and a NULL novelty. Output:
    * `(idCol, n_ngrams, novel_ngrams, novelty)` with novelty =
    * novel/total rounded to 6.
    */
  def ngramNovelty(
      docs: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      refCorpus: org.apache.spark.sql.DataFrame,
      refTextCol: String,
      n: Int = 4): org.apache.spark.sql.DataFrame = {
    require(n >= 1 && n <= 16, s"n must be in 1..16, got $n")
    def grams(t: Column): Column = transform(
      when(size(t) >= n, sequence(lit(1), size(t) - (n - 1)))
        .otherwise(array().cast("array<int>")),
      i => concat_ws(" ", slice(t, i, lit(n))))
    val refGrams = refCorpus
      .select(explode(grams(tokens(col(refTextCol)))).as("__g"))
      .distinct()
      .withColumn("__seen", lit(1))
    val scored = docs
      .select(col(idCol), explode(grams(tokens(col(textCol)))).as("__g"))
      .join(refGrams, Seq("__g"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_ngrams"),
        count(when(col("__seen").isNull, 1)).as("novel_ngrams"))
    docs.select(col(idCol)).join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_ngrams"), lit(0L)).as("n_ngrams"),
        coalesce(col("novel_ngrams"), lit(0L)).as("novel_ngrams"),
        round(col("novel_ngrams").cast("double") /
          col("n_ngrams").cast("double"), 6).as("novelty"))
  }
}
