package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram-LM tokenizer training (Kudo 2018 — the SentencePiece model)
  * re-expressed for Spark, completing the tokenizer-training tier next
  * to [[Bpe]]: where BPE grows pieces bottom-up by merge frequency,
  * the unigram model starts from an over-complete seed vocabulary and
  * lets segmentation LIKELIHOOD pick the survivors — the model behind
  * Llama/T5-style tokenizers.
  *
  * This is the hard-EM (Viterbi) variant, chosen because its E-step is
  * a deterministic argmax — reproducible across engines and
  * partitionings, the library's bar — where soft EM's forward-backward
  * expected counts are a partition-order-sensitive float sum:
  *
  *  1. the corpus collapses ONCE into the distinct word-type table
  *     `(word, count)` — every later pass is vocabulary-sized;
  *  2. the seed is the `seedSize` most frequent substrings of ≤
  *     `maxPieceLen` code points (weighted by word count) plus EVERY
  *     single code point (the coverage floor), scored `ln(freq/total)`;
  *  3. each EM round Viterbi-segments the word types under the current
  *     scores ([[graft.functions.UnigramViterbi]] — piece table rides
  *     in the operator), re-counts pieces weighted by word count
  *     (hard E), and re-scores `ln(count/total)` (M); unused
  *     multi-char pieces drop, single chars persist at a floor score
  *     so coverage never regresses;
  *  4. after `iterations` rounds the vocabulary prunes to `vocabSize`
  *     by (count desc, piece asc), single chars force-retained, ids
  *     assigned in that order.
  *
  * Scale shape: one corpus pass (map-side-combined word-type
  * aggregate); per round, one pass over word TYPES and one
  * pieces-sized aggregate; only piece tables (≤ `seedSize` rows) ever
  * touch the driver. Deterministic end-to-end: substring counts and
  * piece counts are integer sums, `ln` runs on the driver over
  * identical operands, and the Viterbi tie-break is total.
  */
object Unigram {

  /** Sentinel token id for pieces outside the vocabulary at encode
    * time (unseen characters surfacing through the unk fallback).
    */
  val UnkId: Int = -1

  private def charsOf(word: Column): Column =
    filter(split(word, "(?s)(?<=.)"), s => s =!= "")

  /** Distinct word types with corpus counts. */
  private[operators] def wordTypes(
      docs: DataFrame, textCol: String, lowercase: Boolean): DataFrame = {
    val toks0 = TextAnalysis.tokens(col(textCol))
    val toks = if (lowercase) transform(toks0, t => lower(t)) else toks0
    docs.select(explode(toks).as("__word"))
      .groupBy("__word").agg(count(lit(1)).as("__n"))
  }

  /** All substrings of ≤ `maxPieceLen` code points, one row per
    * occurrence position (weighted downstream by word count).
    */
  private def substringsExpr(word: Column, maxPieceLen: Int): Column = {
    val cs = charsOf(word)
    flatten(transform(sequence(lit(0), size(cs) - 1), i =>
      transform(sequence(lit(1), least(lit(maxPieceLen), size(cs) - i)), k =>
        concat_ws("", slice(cs, i + 1, k)))))
  }

  /** Train the piece vocabulary: `(piece, score, token_id)`, ids in
    * (final count desc, piece asc) order.
    */
  def train(
      docs: DataFrame,
      textCol: String,
      vocabSize: Int = 8000,
      seedSize: Int = 20000,
      iterations: Int = 4,
      maxPieceLen: Int = 8,
      lowercase: Boolean = true): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    require(seedSize >= vocabSize,
      s"seedSize ($seedSize) must be >= vocabSize ($vocabSize)")
    require(iterations >= 1 && iterations <= 50,
      s"iterations must be in 1..50, got $iterations")
    require(maxPieceLen >= 1 && maxPieceLen <= 64,
      s"maxPieceLen must be in 1..64, got $maxPieceLen")
    val spark = docs.sparkSession
    graft.core.Caches.holding { held =>
      val wt = held(wordTypes(docs, textCol, lowercase))
      require(wt.limit(1).count() > 0, "Unigram.train: no words in corpus")
      // ---- seed: top substrings by weighted frequency + all chars ----
      val subCounts = held(wt
        .select(explode(substringsExpr(col("__word"), maxPieceLen))
          .as("__p"), col("__n"))
        .groupBy("__p").agg(sum(col("__n")).as("__c")))
      val top = subCounts
        .orderBy(col("__c").desc, col("__p").asc).limit(seedSize)
      val singles = subCounts.where(length(col("__p")) <= 2)
        .where(size(charsOf(col("__p"))) === 1) // one CODE POINT
      val seed = top.unionByName(singles).groupBy("__p")
        .agg(max(col("__c")).as("__c"))
        .collect().map(r => r.getString(0) -> r.getLong(1))
      held.release(subCounts)
      val singleSet = seed.collect {
        case (p, _) if p.codePointCount(0, p.length) == 1 => p
      }.toSet
      def rescore(counts: Seq[(String, Long)]): Seq[(String, Double)] = {
        val total = counts.map(_._2).sum.toDouble
        counts.map { case (p, c) => p -> math.log(c / total) }
      }
      var pieces = rescore(seed.toSeq.sortBy(_._1))
      // unk fallback strictly below every real score so it never beats
      // a modeled piece; recomputed per round from the current floor
      def unkOf(ps: Seq[(String, Double)]): Double =
        ps.map(_._2).min - 10.0
      // ---- hard-EM rounds over the word-type table ----
      (1 to iterations).foreach { _ =>
        val segged = wt.select(
          explode(graft.functions.UnigramViterbi(col("__word"), pieces,
            maxPieceLen, unkOf(pieces))).as("__p"),
          col("__n"))
          .groupBy("__p").agg(sum(col("__n")).as("__c"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        // drop unused multi-char pieces; keep every single char at a
        // half-count floor so coverage never regresses
        val kept = pieces.map(_._1).flatMap { p =>
          val c = segged.getOrElse(p, 0L)
          if (c > 0L) Some(p -> c)
          else if (singleSet(p)) Some(p -> 0L)
          else None
        }
        val total = kept.map(_._2).sum.toDouble
        pieces = kept.map { case (p, c) =>
          p -> math.log(math.max(c.toDouble, 0.5) / total)
        }
      }
      // ---- prune to vocabSize, chars force-retained, ids assigned ----
      val byCount = {
        val segged = wt.select(
          explode(graft.functions.UnigramViterbi(col("__word"), pieces,
            maxPieceLen, unkOf(pieces))).as("__p"),
          col("__n"))
          .groupBy("__p").agg(sum(col("__n")).as("__c"))
          .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        pieces.map { case (p, s) => (p, s, segged.getOrElse(p, 0L)) }
          .sortBy { case (p, _, c) => (-c, p) }
      }
      val (chars, multis) = byCount.partition(t => singleSet(t._1))
      val budget = math.max(0, vocabSize - chars.length)
      val fin = (chars ++ multis.take(budget))
        .sortBy { case (p, _, c) => (-c, p) }
        .zipWithIndex
        .map { case ((p, s, _), i) => (p, s, i) }
      import spark.implicits._
      fin.toSeq.toDF("piece", "score", "token_id")
    }
  }

  /** Encode a corpus under a trained vocabulary: per document, the
    * Viterbi pieces in order with their token ids ([[UnkId]] for
    * unk-fallback characters). Output `(idCol, n_tokens, token_ids,
    * pieces)`. The corpus is touched once; piece→id resolution is a
    * join against the vocab table with order restored by position
    * (the [[Bpe.encode]] regroup discipline — no vocab-sized literal
    * in the plan).
    */
  def encode(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      vocab: DataFrame,
      maxPieceLen: Int = 8,
      lowercase: Boolean = true): DataFrame = {
    val rows = vocab.select("piece", "score", "token_id")
      .collect().map(r => (r.getString(0), r.getDouble(1), r.getInt(2)))
    require(rows.nonEmpty, "Unigram.encode: empty vocabulary")
    val pieces = rows.map(t => (t._1, t._2)).toSeq
    val unk = pieces.map(_._2).min - 10.0
    val toks0 = TextAnalysis.tokens(col(textCol))
    val toks = if (lowercase) transform(toks0, t => lower(t)) else toks0
    val spark = docs.sparkSession
    import spark.implicits._
    val vocabIds = rows.map(t => (t._1, t._3)).toSeq.toDF("__p", "__vid")
    val exploded = docs
      .select(col(idCol), posexplode(toks).as(Seq("__wpos", "__word")))
      .select(col(idCol), col("__wpos"),
        posexplode(graft.functions.UnigramViterbi(col("__word"), pieces,
          maxPieceLen, unk)).as(Seq("__ppos", "__p")))
    exploded
      .join(vocabIds, Seq("__p"), "left")
      .groupBy(col(idCol))
      .agg(
        array_sort(collect_list(struct(
          col("__wpos"), col("__ppos"),
          coalesce(col("__vid"), lit(UnkId)).as("__vid"),
          col("__p")))).as("__seq"))
      .select(col(idCol),
        size(col("__seq")).cast("long").as("n_tokens"),
        transform(col("__seq"), s => s.getField("__vid")).as("token_ids"),
        transform(col("__seq"), s => s.getField("__p")).as("pieces"))
  }
}
