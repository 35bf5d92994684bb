package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.core.Caches

/** WordPiece tokenizer — the third member of the tokenizer tier next to
  * [[Bpe]] (frequency merges) and [[Unigram]] (likelihood pruning): the
  * BERT-family subword model (Schuster & Nakajima 2012; Devlin et al.
  * 2019; training objective per the likelihood formulation popularized
  * by the HuggingFace tokenizers library).
  *
  * TRAINING is the BPE merge loop with a different selection rule: the
  * next merge maximizes `score(l, r) = count(l·r) / (count(l) ·
  * count(r))` — the pointwise-likelihood gain of fusing the pair,
  * which prefers pairs whose PARTS are rare (un+##able) over pairs
  * that are merely frequent (th+##e). Word-internal symbols carry the
  * `##` continuation marker, so word-initial and word-internal pieces
  * stay distinct and the merge product strips the right part's marker
  * (`##a + ##b → ##ab`).
  *
  * Scale shape — identical to [[Bpe.learnMerges]]: the corpus is
  * touched EXACTLY ONCE (word-TYPE table), every round counts adjacent
  * pairs and symbols (the score denominators) over the vocabulary-sized
  * table — in driver memory below [[MergeTraining.LocalCellBound]]
  * cells, as Spark aggregates otherwise — and rounds are batched with the
  * compatible-batching contract of `Bpe.learnMerges(exact = false)`:
  * candidates are scanned in (score desc, pair asc) order and accepted
  * while their symbols are disjoint from every previously accepted
  * pair in the batch — accepted merges are mutually independent (none
  * changes another's counts), only the cross-batch interleaving may
  * differ from the one-at-a-time algorithm. Scores are plain doubles
  * (training is not oracle-checked; determinism across runs is by
  * fixed tie-break, not cross-engine exactness).
  *
  * ENCODING is greedy longest-match-first against the final piece
  * vocabulary ([[graft.functions.WordPieceEncodeExpr]]) — NOT merge
  * replay — with BERT's whole-word-[UNK] fallback. It runs over the
  * encode corpus's DISTINCT words and joins back to the posexploded
  * token stream (the [[Bpe.encode]] regroup discipline; AQE absorbs
  * zipfian word skew), so per-occurrence cost is one hash join probe,
  * never a re-tokenization.
  */
object WordPiece {

  /** Continuation marker of word-internal symbols. */
  val ContinuationPrefix = "##"

  /** The unknown token; always token id 0. */
  val UnkToken = "[UNK]"

  /** Characters + `##`-marked continuations; code-point safe, empty
    * safe. "abc" → [a, ##b, ##c].
    */
  private def initialSymbols(word: Column): Column = {
    val cps = filter(split(word, "(?s)(?<=.)"), s => s =!= "")
    transform(cps, (s, i) =>
      when(i === 0, s).otherwise(concat(lit(ContinuationPrefix), s)))
  }

  /** `(word, count, syms)` word-type table under WordPiece initial
    * symbols — the one corpus-sized job of train/encode.
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

  /** WordPiece's candidate order: pairs counted at least `minPairCount`
    * times, by likelihood score desc, then the pair. The score is
    * `count(l·r) / (count(l) · count(r))` in doubles — on the driver the
    * same IEEE operations Spark runs, so ties break identically.
    */
  private final case class ByLikelihood(minPairCount: Long) extends MergeTraining.Ranking {
    def onSpark(wt: DataFrame, n: Int): IndexedSeq[MergeTraining.Cand] = {
      val syms = MergeTraining.symbolCounts(wt)
      MergeTraining.pairCounts(wt).where(col("__cnt") >= minPairCount)
        .join(syms.select(col("__s").as("__l"), col("__sc").as("__lc")), Seq("__l"))
        .join(syms.select(col("__s").as("__r"), col("__sc").as("__rc")), Seq("__r"))
        .withColumn("__score",
          col("__cnt").cast("double") /
            (col("__lc").cast("double") * col("__rc").cast("double")))
        .orderBy(col("__score").desc, col("__l").asc, col("__r").asc)
        .select("__l", "__r", "__cnt")
        .limit(n).collect().toIndexedSeq
        .map(r => MergeTraining.Cand(r.getString(0), r.getString(1), r.getLong(2)))
    }

    def onDriver(t: MergeTraining.LocalTable, n: Int): IndexedSeq[MergeTraining.Cand] = {
      val sc = t.symbolCounts
      val scored = t.pairs.filter(_.cnt >= minPairCount).map { c =>
        (c, c.cnt.toDouble / (sc.get(c.l)(0).toDouble * sc.get(c.r)(0).toDouble))
      }
      MergeTraining.top(scored, n)(ScoreOrder).map(_._1)
    }
  }

  /** (score desc, l, r), strings in Spark's order. */
  private val ScoreOrder: Ordering[(MergeTraining.Cand, Double)] =
    (a: (MergeTraining.Cand, Double), b: (MergeTraining.Cand, Double)) => {
      val s = java.lang.Double.compare(b._2, a._2)
      if (s != 0) s else MergeTraining.comparePairs(a._1, b._1)
    }

  /** Train a WordPiece vocabulary of up to `vocabSize` pieces:
    * `[UNK]` (id 0), the corpus alphabet (every initial symbol, sorted
    * — always retained, the coverage floor), then merge products in
    * acceptance order, first-win deduplicated (two symbol-disjoint
    * merges can fuse to the same string, e.g. a+##bc and ab+##c).
    * Returns `(piece, token_id)`.
    *
    * The rounds run on [[Bpe.learnMerges]]' two backends
    * ([[MergeTraining]]), which pick the same merges: below
    * [[MergeTraining.LocalCellBound]] (1M) cells (rows + Σ|syms|,
    * observed on the word-type checkpoint job) the table is collected
    * once and every round — pair and symbol counts, scores, selection,
    * rewrite — runs in driver memory, instead of the joins and
    * checkpoint each Spark round schedules. At or above the bound every
    * round stays a Spark job: the table is then too large for the
    * driver, and the Spark path is the one that scales with it.
    */
  def train(
      docs: DataFrame,
      textCol: String,
      vocabSize: Int,
      minPairCount: Long = 2L,
      lowercase: Boolean = true,
      batchSize: Int = 16): DataFrame = {
    require(vocabSize >= 1 && vocabSize <= (1 << 20),
      s"vocabSize must be in [1, ${1 << 20}], got $vocabSize")
    require(minPairCount >= 1L, s"minPairCount must be >= 1, got $minPairCount")
    require(batchSize >= 1 && batchSize <= 256,
      s"batchSize must be in [1, 256], got $batchSize")
    val spark = docs.sparkSession
    Caches.holding { held =>
      val table = MergeTraining.open(held, wordTypes(docs, textCol, lowercase))
      // the alphabet is driver-bounded by the corpus's distinct chars ×2
      val alphabet = table.alphabet().sorted
      require(alphabet.nonEmpty,
        "WordPiece.train: corpus has no tokens — nothing to train on")
      // [UNK] + the full alphabet are the coverage floor and are never
      // evicted — a vocabSize below that floor would silently OVERSHOOT
      // the 'up to vocabSize pieces' contract; refuse loudly instead
      require(vocabSize >= 1 + alphabet.length,
        s"WordPiece.train: vocabSize=$vocabSize cannot cover [UNK] + " +
          s"the ${alphabet.length}-symbol corpus alphabet " +
          s"(need >= ${1 + alphabet.length}); coverage floor is " +
          "non-negotiable, so raise vocabSize")
      val budget = vocabSize - 1 - alphabet.length // [UNK] + alphabet first
      // compatible batching: accept symbol-disjoint candidates in score
      // order, skip sharing ones (the Bpe exact=false contract)
      val rounds = new MergeTraining.Rounds(budget, batchSize, minPairCount, exact = false)
      table.learn(rounds, ByLikelihood(minPairCount), ContinuationPrefix)
      val pieces = new scala.collection.mutable.LinkedHashSet[String]
      pieces += UnkToken
      alphabet.foreach(pieces += _)
      rounds.accepted.foreach { case (l, r) =>
        pieces += graft.functions.BpeApplyMerges.product(l, r, ContinuationPrefix)
      }
      // vocabSize caps merge products; [UNK] + the alphabet are never
      // evicted (the Unigram chars-floor discipline — coverage first)
      import spark.implicits._
      pieces.iterator.zipWithIndex.toSeq.toDF("piece", "token_id")
    }
  }

  /** Encode a corpus under a trained vocabulary: per document, greedy
    * longest-match pieces in order with their token ids (whole-word
    * `[UNK]` → id 0 when any position fails to match or the word
    * exceeds `maxInputChars` code points). Output `(idCol, n_tokens,
    * token_ids, pieces)` — the [[Unigram.encode]] shape.
    */
  def encode(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      vocab: DataFrame,
      maxInputChars: Int = 100,
      lowercase: Boolean = true): DataFrame = {
    val rows = vocab.select("piece", "token_id")
      .collect().map(r => (r.getString(0), r.getInt(1)))
    require(rows.nonEmpty, "WordPiece.encode: empty vocabulary")
    val spark = docs.sparkSession
    import spark.implicits._
    val vocabIds = rows.toSeq.toDF("__p", "__vid")
    val toks0 = TextAnalysis.tokens(col(textCol))
    val toks = if (lowercase) transform(toks0, t => lower(t)) else toks0
    // greedy match once per DISTINCT word, join back to the stream
    val words = docs.select(explode(toks).as("__word")).distinct()
      .withColumn("__pieces", graft.functions.WordPieceEncodeExpr(
        col("__word"), rows.map(_._1).toSeq, ContinuationPrefix, UnkToken,
        maxInputChars))
    val stream = docs
      .select(col(idCol), posexplode(TextAnalysis.tokens(col(textCol)))
        .as(Seq("__wpos", "__w0")))
      .withColumn("__word", if (lowercase) lower(col("__w0")) else col("__w0"))
      .join(words, Seq("__word"))
      .select(col(idCol), col("__wpos"),
        posexplode(col("__pieces")).as(Seq("__ppos", "__p")))
    stream
      .join(vocabIds, Seq("__p"), "left")
      .groupBy(col(idCol))
      .agg(
        array_sort(collect_list(struct(
          col("__wpos"), col("__ppos"),
          coalesce(col("__vid"), lit(0)).as("__vid"),
          col("__p")))).as("__seq"))
      .select(col(idCol),
        size(col("__seq")).cast("long").as("n_tokens"),
        transform(col("__seq"), s => s.getField("__vid")).as("token_ids"),
        transform(col("__seq"), s => s.getField("__p")).as("pieces"))
  }
}
