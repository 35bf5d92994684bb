package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Caches

/** Distributed byte-pair-encoding (Sennrich et al. 2016) merge learning
  * and application — the tokenizer-TRAINING step in front of the
  * [[TextAnalysis.buildVocab]] → [[TextAnalysis.encodeTokens]] →
  * [[Packing.packSequences]] chain, re-expressed for Spark's execution
  * model.
  *
  * The classic algorithm is inherently iterative (each merge depends on
  * the counts AFTER the previous merge), so the shape mirrors
  * [[Dedup.connectedComponents]]'s loop discipline rather than one
  * declarative plan:
  *
  *  - The corpus is touched EXACTLY ONCE: one explode + map-side-combined
  *    groupBy builds the word-TYPE table `(word, count, symbols)` —
  *    classic BPE counts over types weighted by frequency, so every
  *    iteration after that runs on vocabulary-sized data, not corpus-sized
  *    data. At 100 TB the word-type table is millions of rows, not
  *    billions.
  *  - Each round counts adjacent symbol pairs (weighted `sum(count)`),
  *    takes the top candidates with a total (count desc, pair asc)
  *    tie-break — deterministic across runs, engines, and partitionings —
  *    and applies the accepted merges to the symbol arrays with one
  *    greedy left-to-right rewrite ([[graft.functions.BpeApplyMerges]]).
  *  - A small word-type table (below [[MergeTraining.LocalCellBound]]
  *    cells) is collected once and its rounds run in driver memory. A
  *    larger one runs each round as Spark jobs whose state is
  *    `localCheckpoint`ed and the previous round's blocks released,
  *    truncating the logical plan: an iterative chain that is merely
  *    persisted re-analyzes its whole lineage every round (see the
  *    measured blowup note in connectedComponents).
  *
  * Merges learn over whitespace word boundaries with the standard
  * end-of-word sentinel, so "low" and "lower" share prefix pairs but
  * word-final units stay distinct — the semantics HuggingFace/GPT-style
  * BPE vocabularies expect.
  */
object Bpe {

  /** End-of-word sentinel appended to every word's symbol sequence. */
  val EndOfWord = "</w>"

  /** One learned merge: at `rank`, adjacent symbols (`left`, `right`)
    * rewrite to `left + right`.
    */
  final case class Merge(rank: Int, left: String, right: String) {
    def merged: String = left + right
  }

  /** `(word, count, syms)` word-type table: distinct whitespace tokens,
    * their corpus frequencies, and their initial character + [[EndOfWord]]
    * symbol sequences. The one corpus-sized job of learn/encode.
    */
  def wordTypes(
      docs: DataFrame,
      textCol: String,
      lowercase: Boolean = true): DataFrame = {
    val toks0 = TextAnalysis.tokens(col(textCol))
    val toks = if (lowercase) transform(toks0, t => lower(t)) else toks0
    docs.select(explode(toks).as("__word"))
      .groupBy("__word").agg(count(lit(1)).as("__n"))
      .withColumn("__syms", initialSymbols(col("__word")))
  }

  /** Character symbols + [[EndOfWord]]; empty-safe. Splits on CODE
    * POINTS, not UTF-16 code units: `split(w, "")` would break a non-BMP
    * character (emoji, rare CJK) into two unpaired surrogates, diverging
    * from code-point-based reference BPE implementations. The zero-width
    * `(?s)(?<=.)` boundary matches after each code point (Java regex `.`
    * is code-point-aware), keeping surrogate pairs intact.
    */
  private def initialSymbols(word: Column): Column =
    concat(filter(split(word, "(?s)(?<=.)"), s => s =!= ""), array(lit(EndOfWord)))

  /** Rank-ordered greedy merge application as ONE native expression
    * ([[graft.functions.BpeApplyMerges]]): overlapping runs merge exactly
    * like the reference algorithm ("aaaa" + (a,a) → [aa, aa], not
    * [aa, a, a]), and the merge-list length stays out of the PLAN — the
    * chained-`aggregate`-fold formulation this replaced needed a lineage
    * checkpoint every few merges and could never reach a 32k-merge
    * production tokenizer.
    */
  private def applyMergesExpr(syms: Column, ms: Seq[Merge]): Column =
    graft.functions.BpeApplyMerges(syms,
      ms.sortBy(_.rank).map(m => (m.left, m.right)))

  /** Learn up to `numMerges` merges from `docs`. Stops early when the best
    * remaining pair's weighted count falls below `minPairCount`. Returns
    * the merges in rank order (a driver-sized list by construction —
    * `numMerges` bounds it) plus the final word-type table
    * `(word, count, syms)` — the learned subword segmentation of every
    * training word, checkpointed and owned by the caller.
    *
    * Merge rounds are BATCHED: each pass collects the top candidate pairs
    * once and accepts up to `batchSize` of them, so the driver schedules
    * ~2 Spark jobs per BATCH instead of per merge — the difference
    * between ~10⁵ and ~10⁴ scheduled jobs for a production 32k–64k-merge
    * tokenizer. Batching is EXACT, not approximate: the result is
    * bit-identical to the one-merge-at-a-time Sennrich algorithm with the
    * (count desc, pair asc) tie-break. The selection rule that makes that
    * provable:
    *
    *  - scan candidates in (count desc, pair asc) order, accepting pairs
    *    whose symbols are disjoint from every previously accepted pair in
    *    this batch; STOP at the first candidate sharing a symbol. Merging
    *    (a,b)→ab only changes counts of pairs touching a or b, and any
    *    pair the merge CREATES, (x,ab) / (ab,y), is bounded by a
    *    pre-existing sharing pair's count ((x,a) / (b,y)) — so every
    *    count the batch can disturb is ≤ the stop candidate's count (the
    *    "barrier"); pairs past the collected horizon are ≤ the last
    *    collected count, folded into the barrier when the list truncates.
    *  - keep only accepted merges with count STRICTLY above the barrier:
    *    below or at it, a disturbed pair could tie and win the lexical
    *    tie-break in the sequential algorithm. The global argmax is
    *    always safe, so a pass never accepts fewer than one merge.
    *
    * Under that rule each accepted merge is exactly the sequential
    * algorithm's next argmax, by induction over the batch.
    *
    * Measured on natural text the EXACT rule yields only ~1–2 merges per
    * pass — consecutive top merges chain through common symbols
    * (e+r, then er+</w>), a sequential dependency no exact scheme can
    * batch away. `exact = false` switches to the industrial
    * compatible-batching variant: the scan SKIPS sharing candidates and
    * keeps accepting disjoint ones (no barrier trim), reaching
    * ~`batchSize` merges per pass — the 5–10× driver-round cut a 32k–64k
    * tokenizer needs. Its contract is weaker but well-defined: merges
    * within a batch are mutually independent (disjoint symbols, so
    * applying them in any order gives the same segmentation and none
    * changes another's count), and each carries its true corpus count as
    * of the start of its batch; only the cross-batch interleaving may
    * differ from the sequential algorithm's.
    *
    * Two backends run the rounds ([[MergeTraining]]); both apply the rule
    * above and learn the same merges. The word-type table's size (rows +
    * Σ|syms|) is observed on its checkpoint job. Below
    * [[MergeTraining.LocalCellBound]] (1M) cells the table is collected
    * once and every round runs in driver memory: a Spark round costs a
    * few scheduled jobs (~75 ms on a few-thousand-row table, ~350 ms at
    * 1M cells) whatever the data, and 12 merges took 14 of them. At or
    * above the bound every round stays a Spark job, because the table is
    * then too large to hold on the driver — the path a production
    * vocabulary trained over a large corpus takes. The returned table is
    * then a checkpoint; a driver-trained one is a driver-local frame of
    * the same schema (the initial checkpoint when nothing merged).
    */
  def learnMerges(
      docs: DataFrame,
      textCol: String,
      numMerges: Int,
      minPairCount: Long = 2L,
      lowercase: Boolean = true,
      batchSize: Int = 16,
      exact: Boolean = true): (Seq[Merge], DataFrame) =
    learnLoop(wordTypes(docs, textCol, lowercase), numMerges, minPairCount,
      batchSize, exact)

  /** The shared batched merge-learning loop over any `(word, count,
    * syms)` word-type table — the whitespace/character alphabet
    * ([[learnMerges]]) and the GPT-2 byte alphabet
    * ([[learnByteMerges]]) differ only in how `__syms` was built; the
    * selection rule, the barrier proof, and the checkpoint lifecycle are
    * alphabet-agnostic. The rounds run on the driver below
    * [[MergeTraining.LocalCellBound]] cells and as Spark jobs at or above
    * it (see [[learnMerges]]); the Spark path is the one that scales past
    * driver memory.
    */
  private def learnLoop(
      wordTypes0: DataFrame,
      numMerges: Int,
      minPairCount: Long,
      batchSize: Int,
      exact: Boolean): (Seq[Merge], DataFrame) = {
    require(numMerges >= 1 && numMerges <= 65536,
      s"numMerges must be in [1, 65536], got $numMerges")
    require(minPairCount >= 1L, s"minPairCount must be >= 1, got $minPairCount")
    require(batchSize >= 1 && batchSize <= 256,
      s"batchSize must be in [1, 256], got $batchSize")
    val rounds = new MergeTraining.Rounds(numMerges, batchSize, minPairCount, exact)
    // the RETURNED table is registered (not released): the caller reads it
    val wt = Caches.holding { held =>
      val table = MergeTraining.open(held, wordTypes0)
      table.learn(rounds, ByCount, contPrefix = "")
      table.result()
    }
    (rounds.accepted.zipWithIndex.map { case ((l, r), i) => Merge(i, l, r) }, wt)
  }

  /** BPE's candidate order: weighted count desc, then the pair. */
  private object ByCount extends MergeTraining.Ranking {
    def onSpark(wt: DataFrame, n: Int): IndexedSeq[MergeTraining.Cand] =
      MergeTraining.pairCounts(wt)
        .orderBy(col("__cnt").desc, col("__l").asc, col("__r").asc)
        .limit(n).collect().toIndexedSeq
        .map(r => MergeTraining.Cand(r.getString(0), r.getString(1), r.getLong(2)))

    def onDriver(t: MergeTraining.LocalTable, n: Int): IndexedSeq[MergeTraining.Cand] =
      MergeTraining.top(t.pairs, n)(MergeTraining.ByCountOrder)
  }

  /** Apply learned merges to a NEW corpus: `(idCol, bpe_tokens)` with each
    * document's whitespace words rewritten to their subword units in
    * original token order.
    *
    * Scale shape: merges apply to the encode corpus's DISTINCT words
    * (vocabulary-sized) as ONE [[graft.functions.BpeApplyMerges]]
    * expression — one plan node whatever the merge count, so a 64k-merge
    * production tokenizer encodes in the same single pass as the
    * 24-merge fixture (the earlier chained-fold formulation needed a
    * lineage checkpoint every few merges and capped out far below that).
    * The word → units map then joins back to a posexploded token stream
    * on the word key — AQE handles the zipfian skew of common words —
    * and per-document order is restored by sorting the collected
    * (pos, units) pairs, the same determinism-by-construction as
    * [[TextAnalysis.encodeTokens]]. No checkpoints, no pins — the plan
    * is ordinary lazy Catalyst.
    */
  def encode(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[Merge],
      lowercase: Boolean = true): DataFrame = {
    val toks0 = TextAnalysis.tokens(col(textCol))
    val toks = if (lowercase) transform(toks0, t => lower(t)) else toks0
    val words = docs.select(explode(toks).as("__word")).distinct()
      .withColumn("__syms",
        applyMergesExpr(initialSymbols(col("__word")), merges))
    val stream = docs
      .select(col(idCol), posexplode(TextAnalysis.tokens(col(textCol)))
        .as(Seq("__pos", "__w0")))
      .withColumn("__word", if (lowercase) lower(col("__w0")) else col("__w0"))
      .join(words, Seq("__word"))
    stream
      .groupBy(col(idCol))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("__pos"), col("__syms")))),
        p => p.getField("__syms"))).as("bpe_tokens"))
  }

  // ------------------------------------------------------------------
  // Byte-level BPE (the GPT-2 family: Radford et al. 2019; the same
  // construction tiktoken's gpt2 encoding publishes). Two differences
  // from the word-type pipeline above, both in the ALPHABET, not the
  // loop: (1) pre-tokenization is the published GPT-2 regex (leading
  // spaces attach to the following word, contractions split off,
  // letter/number/punctuation runs separate) instead of whitespace;
  // (2) initial symbols are the 256-character reversible byte alphabet
  // ([[graft.functions.ByteLevelAlphabet]]), so NOTHING is ever
  // out-of-vocabulary — a byte without a merge stays a base symbol
  // (byte fallback) and decode is exact byte-wise inversion. No
  // end-of-word sentinel: the word boundary IS the leading-space byte
  // 'Ġ' inside the pre-token.
  // ------------------------------------------------------------------

  /** The published GPT-2 pre-tokenizer pattern (encoder.py `pat`),
    * expressed in Java regex (same constructs: alternation, unicode
    * categories, the trailing-whitespace lookahead). The `(?U)` prefix
    * (UNICODE_CHARACTER_CLASS) makes `\s` match Unicode whitespace
    * (U+00A0, U+2028, …) the way Python's `re` does for `str`
    * patterns — and the whitespace class is additionally widened to
    * `[\s\x1C-\x1F]` because Python's `str` `\s` also matches the
    * FILE/GROUP/RECORD/UNIT SEPARATOR control characters U+001C–U+001F
    * (they satisfy `str.isspace()`), which Unicode does NOT give the
    * White_Space property; without the widening those four bytes would
    * ride inside punctuation runs instead of splitting them.
    */
  val Gpt2PreTokenPattern: String =
    """(?U)'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+| ?[^\s\x1C-\x1F\p{L}\p{N}]+|[\s\x1C-\x1F]+(?![^\s\x1C-\x1F])|[\s\x1C-\x1F]+"""

  /** All GPT-2 pre-tokens of `textCol`, in order. */
  private def preTokens(textCol: Column): Column =
    regexp_extract_all(coalesce(textCol, lit("")),
      lit(Gpt2PreTokenPattern), lit(0))

  /** `(word, count, syms)` PRE-TOKEN-type table over the byte alphabet —
    * the byte-level sibling of [[wordTypes]] (one corpus-sized explode +
    * map-side-combined groupBy; every merge round after it runs on
    * vocabulary-sized data). Case is never folded: byte-level BPE
    * vocabularies are case-sensitive by construction.
    */
  def byteWordTypes(docs: DataFrame, textCol: String): DataFrame =
    docs.select(explode(preTokens(col(textCol))).as("__word"))
      .groupBy("__word").agg(count(lit(1)).as("__n"))
      .withColumn("__syms",
        graft.functions.ByteLevelSymbols(col("__word")))

  /** Learn byte-level merges: [[learnMerges]]' loop (same batching, same
    * exactness proof, same checkpoint lifecycle) over the GPT-2
    * pre-token/byte-alphabet word types. Returns rank-ordered merges
    * plus the final word-type table (checkpointed, caller-owned).
    */
  def learnByteMerges(
      docs: DataFrame,
      textCol: String,
      numMerges: Int,
      minPairCount: Long = 2L,
      batchSize: Int = 16,
      exact: Boolean = true): (Seq[Merge], DataFrame) =
    learnLoop(byteWordTypes(docs, textCol), numMerges, minPairCount,
      batchSize, exact)

  /** Apply learned byte-level merges to a NEW corpus:
    * `(idCol, bpe_tokens)` with each document's GPT-2 pre-tokens
    * rewritten to their merged byte-symbol units in original order —
    * [[encode]]'s scale shape exactly (distinct pre-token table, ONE
    * BpeApplyMerges node, skew-tolerant join back to the posexploded
    * stream, order restored by sorted collect). Because every base
    * symbol is a byte, encode NEVER drops or OOVs a character;
    * [[decodeBytes]] inverts it exactly.
    */
  def encodeBytes(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      merges: Seq[Merge]): DataFrame = {
    val words = docs.select(explode(preTokens(col(textCol))).as("__word"))
      .distinct()
      .withColumn("__syms", applyMergesExpr(
        graft.functions.ByteLevelSymbols(col("__word")), merges))
    val stream = docs
      .select(col(idCol), posexplode(preTokens(col(textCol)))
        .as(Seq("__pos", "__word")))
      .join(words, Seq("__word"))
    stream
      .groupBy(col(idCol))
      .agg(flatten(transform(
        array_sort(collect_list(struct(col("__pos"), col("__syms")))),
        p => p.getField("__syms"))).as("bpe_tokens"))
  }

  /** Exact inverse of [[encodeBytes]]' unit stream: a `bpe_tokens`
    * array column → the original text (byte-wise UTF-8 inversion;
    * loud on any symbol outside the byte alphabet).
    */
  def decodeBytes(units: Column): Column =
    graft.functions.ByteLevelDecode(units)
}
