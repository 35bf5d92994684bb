package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class WordPieceSpec extends SparkTestBase {
  import spark.implicits._

  test("train: likelihood scores pick rare-part pairs over frequent ones; alphabet floor") {
    // the classic WordPiece-vs-BPE discriminator corpus: "hug" is the
    // most frequent word, but g+##s has the rarer parts.
    //   words: hug ×10, pug ×5, hugs ×5
    //   symbols: h:15, ##u:20, p:5, ##g:20, ##s:5
    //   pairs:  (h,##u):15  score 15/(15·20) = 0.050
    //           (##u,##g):20 score 20/(20·20) = 0.050
    //           (p,##u):5   score 5/(5·20)  = 0.050
    //           (##g,##s):5 score 5/(20·5)  = 0.050
    // all tie at 0.05 → lexical (l, r) tie-break: "##g","##s" < "##u"
    // < "h" < "p" — so (##g,##s) wins the first merge, NOT the
    // frequency argmax (##u,##g) BPE would take.
    val docs = (Seq.fill(10)("hug") ++ Seq.fill(5)("pug") ++
      Seq.fill(5)("hugs")).toDF("text")
    val vocab = WordPiece.train(docs, "text", vocabSize = 7,
      minPairCount = 1, batchSize = 1)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    // [UNK]=0, alphabet sorted: ##g,##s,##u,h,p → ids 1..5, then the
    // first merge product ##gs at 6 (vocabSize 7 caps there)
    assert(vocab == Map("[UNK]" -> 0, "##g" -> 1, "##s" -> 2, "##u" -> 3,
      "h" -> 4, "p" -> 5, "##gs" -> 6), s"got $vocab")
  }

  test("train: continuation marker strips on the product; batching stays symbol-disjoint") {
    val docs = Seq.fill(20)("abcd").toDF("text")
    // one word type: pairs (a,##b),(##b,##c),(##c,##d) all count 20;
    // scores 20/400 each → tie-break picks (##b,##c) first; with
    // batchSize=8 compatible batching then skips (a,##b) and (##c,##d)
    // (they share ##b / ##c)… wait — (a,##b) shares ##b with the
    // accepted (##b,##c), (##c,##d) shares ##c. So ONE merge this
    // batch; next round pairs (a,##bc),(##bc,##d) → (##bc,##d) by
    // score ((20/(20·20)) both → lexical), then (a,##bcd). Products:
    // ##bc, ##bcd, abcd.
    val vocab = WordPiece.train(docs, "text", vocabSize = 64,
      minPairCount = 1, batchSize = 8)
      .select("piece").as[String].collect().toSeq
    assert(vocab == Seq("[UNK]", "##b", "##c", "##d", "a",
      "##bc", "##bcd", "abcd"), s"got $vocab")
  }

  test("driver and Spark backends train identical vocabularies") {
    val words = (Seq.fill(10)("hug") ++ Seq.fill(5)("pug") ++ Seq.fill(5)("hugs") ++
      Seq("the quick brown fox jumps over the lazy dog", "the jug the box the fox",
        "\uFF01a \uD83D\uDE00a \uFF01a \uD83D\uDE00a")).toDF("text")
    val cases = Seq(
      ("batchSize = 1", 8, 1L, 1),
      ("batched", 64, 1L, 8),
      ("minPairCount stop", 64, 3L, 16),
      ("zero merges", 0, 2L, 16))
    val alphabet = 1 + WordPiece.wordTypes(words, "text")
      .select(explode(col("__syms"))).distinct().count().toInt
    cases.foreach { case (name, merges, minPairCount, batchSize) =>
      val Seq(driver, onSpark) = Seq(Long.MaxValue, 0L).map { bound =>
        val v = MergeTraining.localBound.withValue(bound)(
          WordPiece.train(words, "text", vocabSize = alphabet + merges,
            minPairCount = minPairCount, batchSize = batchSize))
        (v.collect().map(r => (r.getString(0), r.getInt(1))).toSeq, v.schema)
      }
      assert(driver == onSpark, s"$name: vocabularies differ")
      val products = driver._1.size - alphabet
      if (merges == 0) assert(products == 0, name)
      else assert(products > 0 && products <= merges, s"$name: $products products")
      if (name == "minPairCount stop") assert(products < merges, name)
    }
    // the U+FF01 / U+1F600 pairs tie on score; Spark's UTF-8 order takes
    // U+FF01 first
    val tie = Seq.fill(2)("\uFF01a \uD83D\uDE00a").toDF("text")
    Seq(Long.MaxValue, 0L).foreach { bound =>
      val v = MergeTraining.localBound.withValue(bound)(
        WordPiece.train(tie, "text", vocabSize = 5, minPairCount = 1, batchSize = 1))
        .select("piece").as[String].collect().toSeq
      assert(v.last == "\uFF01a", s"got $v")
    }
  }

  test("encode: greedy longest-match-first, whole-word UNK, maxInputChars, order restored") {
    val vocab = Seq("[UNK]", "un", "##aff", "##able", "##ably", "a",
      "##b", "ab").zipWithIndex.toDF("piece", "token_id")
    val docs = Seq(
      (1L, "unaffable"),
      (2L, "unaffably ab"),
      (3L, "unaffordable"), // ##ord not in vocab -> whole word UNK
      (4L, "abab aaaa")     // greedy: ab+##... a? "abab": ab, then "ab" needs ##ab -> not in vocab; ##a? no -> UNK
    ).toDF("doc_id", "text")
    val out = WordPiece.encode(docs, "doc_id", "text", vocab)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        (r.getSeq[String](r.fieldIndex("pieces")).toList,
          r.getSeq[Int](r.fieldIndex("token_ids")).toList)).toMap
    assert(out(1L)._1 == List("un", "##aff", "##able"), s"got ${out(1L)}")
    assert(out(1L)._2 == List(1, 2, 3))
    assert(out(2L)._1 == List("un", "##aff", "##ably", "ab"), s"got ${out(2L)}")
    assert(out(3L)._1 == List("[UNK]"), s"got ${out(3L)}")
    assert(out(3L)._2 == List(0))
    // "abab": ab matches, then continuation "##a"/"##ab" absent -> UNK
    // "aaaa": a, then ##a absent -> UNK; both words collapse to [UNK]
    assert(out(4L)._1 == List("[UNK]", "[UNK]"), s"got ${out(4L)}")
    // maxInputChars: long word -> UNK without scanning
    val long = WordPiece.encode(Seq((9L, "a" * 101)).toDF("doc_id", "text"),
      "doc_id", "text", vocab, maxInputChars = 100)
      .collect().head.getSeq[String](3).toList
    assert(long == List("[UNK]"))
  }

  test("round trip: every trained word re-encodes UNK-free and reassembles") {
    val docs = Seq(
      "the quick brown fox jumps over the lazy dog",
      "pack my box with five dozen liquor jugs",
      "the jug the box the fox").toDF("text")
    val vocab = WordPiece.train(docs, "text", vocabSize = 80,
      minPairCount = 1)
    val enc = WordPiece.encode(docs.withColumn("id", monotonically_increasing_id()),
      "id", "text", vocab)
    val rows = enc.select("pieces").as[Seq[String]].collect()
    assert(rows.nonEmpty)
    rows.foreach { pieces =>
      assert(!pieces.contains("[UNK]"), s"trained corpus must encode UNK-free: $pieces")
    }
    // reassembly: strip ## and concatenate = original words, in order
    val docsWords = docs.as[String].collect().map(_.split("\\s+").toList)
    val rebuilt = enc.orderBy("id").select("pieces").as[Seq[String]].collect()
      .map { pieces =>
        pieces.foldLeft(List.empty[String]) { (acc, p) =>
          if (p.startsWith("##")) acc.init :+ (acc.last + p.drop(2))
          else acc :+ p
        }
      }
    assert(rebuilt.toSet == docsWords.map(_.toList).toSet,
      s"rebuilt $rebuilt vs $docsWords")
    // non-BMP safety: surrogate pairs never split
    val emoji = WordPiece.train(Seq("😀x 😀y").toDF("text"),
      "text", vocabSize = 32, minPairCount = 1)
      .select("piece").as[String].collect()
    assert(emoji.contains("😀"), s"got ${emoji.toList}")
    assert(!emoji.exists(p => p.length == 1 && Character.isSurrogate(p.charAt(0))),
      s"unpaired surrogate leaked: ${emoji.toList}")
  }

  test("loud on degenerate inputs; vocab plan stays operator-embedded at 64k") {
    intercept[IllegalArgumentException](
      WordPiece.train(Seq("x").toDF("text"), "text", vocabSize = 0))
    intercept[IllegalArgumentException](
      WordPiece.train(Seq.empty[String].toDF("text"), "text", vocabSize = 4))
    intercept[IllegalArgumentException](
      WordPiece.encode(Seq((1L, "x")).toDF("doc_id", "text"), "doc_id",
        "text", Seq.empty[(String, Int)].toDF("piece", "token_id")))
    // 64k-piece vocab: plan text bounded (table rides in the operator)
    val n = 65536
    val big = ((0 until n).map(i => f"p$i%05x") ++ Seq("[UNK]", "p") ++
      "0123456789abcdef".map("##" + _))
      .zipWithIndex.toDF("piece", "token_id")
    val out = WordPiece.encode(Seq((1L, "p000ff pzz")).toDF("doc_id", "text"),
      "doc_id", "text", big)
    val planText = out.queryExecution.optimizedPlan.toString
    assert(planText.length < 20000,
      s"plan text ${planText.length} chars — vocab leaked as a literal")
    val pieces = out.collect().head.getSeq[String](3).toList
    assert(pieces == List("p000ff", "[UNK]"), s"got $pieces")
  }
}
