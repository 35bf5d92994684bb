package graft.operators

import scala.collection.mutable

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Specs for distributed BPE merge learning, checked against a
  * straightforward single-node reference implementation of the Sennrich
  * et al. algorithm with the same (count desc, pair asc) tie-break.
  */
class BpeSpec extends SparkTestBase {
  import spark.implicits._

  private def refApply(syms: Vector[String], l: String, r: String): Vector[String] = {
    val out = mutable.ArrayBuffer[String]()
    syms.foreach { x =>
      if (out.nonEmpty && out.last == l && x == r) out(out.length - 1) = l + r
      else out += x
    }
    out.toVector
  }

  private def refSyms(word: String): Vector[String] =
    word.codePoints().toArray.toVector
      .map(cp => new String(Character.toChars(cp))) :+ Bpe.EndOfWord

  private def refLearn(
      words: Map[String, Long],
      numMerges: Int,
      minCount: Long): (Seq[(String, String)], Map[String, Vector[String]]) = {
    var wt = words.map { case (w, n) => w -> refSyms(w) } // word -> syms
    val counts = words
    val merges = mutable.ListBuffer[(String, String)]()
    var stop = false
    while (merges.size < numMerges && !stop) {
      val pc = mutable.Map[(String, String), Long]()
      for ((w, syms) <- wt; i <- 0 until syms.length - 1) {
        val k = (syms(i), syms(i + 1))
        pc(k) = pc.getOrElse(k, 0L) + counts(w)
      }
      val best = pc.toSeq.sortBy { case ((l, r), c) => (-c, l, r) }.headOption
      best match {
        case Some(((l, r), c)) if c >= minCount =>
          merges += ((l, r))
          wt = wt.map { case (w, syms) => w -> refApply(syms, l, r) }
        case _ => stop = true
      }
    }
    (merges.toSeq, wt)
  }

  private val corpus = Seq(
    "low low low low low lower lower newest newest newest newest newest newest",
    "widest widest widest new new new lower lowest",
    "low new newer wider wide widest newest")

  private def wordCounts: Map[String, Long] =
    corpus.flatMap(_.split("\\s+")).filter(_.nonEmpty)
      .groupBy(identity).map { case (w, g) => w -> g.size.toLong }

  test("learnMerges equals the reference algorithm, merges and segmentations") {
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val (merges, wt) = Bpe.learnMerges(docs, "text", numMerges = 12)
    val (refMerges, refWt) = refLearn(wordCounts, 12, 2L)
    assert(merges.map(m => (m.left, m.right)) == refMerges)
    assert(merges.map(_.rank) == merges.indices.toSeq)
    val gotWt = wt.as[(String, Long, Seq[String])].collect()
      .map { case (w, _, s) => w -> s.toVector }.toMap
    graft.core.Caches.releaseCheckpoint(wt)
    assert(gotWt == refWt)
    assert(merges.nonEmpty && refMerges.nonEmpty)
  }

  test("batched learning is bit-identical to one-merge-at-a-time learning") {
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val (seq1, wt1) = Bpe.learnMerges(docs, "text", numMerges = 12, batchSize = 1)
    val (seq16, wt16) = Bpe.learnMerges(docs, "text", numMerges = 12, batchSize = 16)
    val segs1 = wt1.as[(String, Long, Seq[String])].collect().toSet
    val segs16 = wt16.as[(String, Long, Seq[String])].collect().toSet
    graft.core.Caches.releaseCheckpoint(wt1)
    graft.core.Caches.releaseCheckpoint(wt16)
    assert(seq1 == seq16)
    assert(segs1 == segs16)
  }

  test("approximate batching: deterministic, lossless, independent within batch") {
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val (m1, wt1) = Bpe.learnMerges(docs, "text", numMerges = 12,
      batchSize = 8, exact = false)
    val (m2, wt2) = Bpe.learnMerges(docs, "text", numMerges = 12,
      batchSize = 8, exact = false)
    assert(m1 == m2) // deterministic across runs
    assert(m1.map(_.rank) == m1.indices.toSeq)
    // segmentations stay lossless: units concatenate back to word+sentinel
    val segs = wt1.as[(String, Long, Seq[String])].collect()
    graft.core.Caches.releaseCheckpoint(wt1)
    graft.core.Caches.releaseCheckpoint(wt2)
    segs.foreach { case (w, _, syms) =>
      assert(syms.mkString("") == w + Bpe.EndOfWord, s"lossy segmentation of $w")
    }
    // batchSize=1 degenerates to the sequential algorithm exactly
    val (mSeq, wtSeq) = Bpe.learnMerges(docs, "text", numMerges = 12,
      batchSize = 1, exact = false)
    graft.core.Caches.releaseCheckpoint(wtSeq)
    val (refMerges, _) = refLearn(wordCounts, 12, 2L)
    assert(mSeq.map(m => (m.left, m.right)) == refMerges)
    assert(m1.nonEmpty && m1.size == 12)
  }

  test("non-BMP characters stay whole code points, not surrogate halves") {
    // U+1F600 GRINNING FACE is outside the BMP: a code-unit split would
    // yield two unpaired surrogates; symbols must keep it intact
    val docs = Seq((1L, "a😀b a😀b")).toDF("doc_id", "text")
    val (merges, wt) = Bpe.learnMerges(docs, "text", numMerges = 1)
    val syms = wt.as[(String, Long, Seq[String])].collect().head._3
    graft.core.Caches.releaseCheckpoint(wt)
    // one merge applied; the underlying pre-merge symbols were the three
    // code points + sentinel, so the merged first pair is (a, 😀) by the
    // lexical tie-break
    assert(merges.nonEmpty)
    assert(syms.mkString("") == "a😀b" + Bpe.EndOfWord)
    assert(syms.forall(s => !s.exists(c => Character.isSurrogate(c) &&
      s.length == 1)), s"unpaired surrogate in $syms")
  }

  test("learnMerges stops early below minPairCount") {
    val docs = Seq((1L, "ab cd")).toDF("doc_id", "text") // every pair count 1
    val (merges, wt) = Bpe.learnMerges(docs, "text", numMerges = 5)
    graft.core.Caches.releaseCheckpoint(wt)
    assert(merges.isEmpty)
  }

  test("encode applies learned merges to new text, preserving token order") {
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val (merges, wt) = Bpe.learnMerges(docs, "text", numMerges = 10)
    graft.core.Caches.releaseCheckpoint(wt)
    // "lowest" seen in training, "lows" and "zap" are novel words (novel
    // chars segment to characters)
    val newDocs = Seq((7L, "lowest lows zap"), (8L, "")).toDF("doc_id", "text")
    val out = Bpe.encode(newDocs, "doc_id", "text", merges)
      .as[(Long, Seq[String])].collect().toMap
    val expect = Seq("lowest", "lows", "zap").flatMap { w =>
      merges.foldLeft(refSyms(w)) { (s, m) => refApply(s, m.left, m.right) }
    }
    assert(out(7L) == expect)
    // empty text -> no tokens -> no joined rows; doc absent by contract
    assert(!out.contains(8L))
    // each word's units concatenate back to word + sentinel (lossless)
    assert(out(7L).mkString("").replace(Bpe.EndOfWord, " ").trim
      == "lowest lows zap")
  }

  test("learn + encode leave no persisted state once the owning scope releases") {
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (_, pins) = graft.core.Caches.collectPins {
      val (merges, wt) = Bpe.learnMerges(docs, "text", numMerges = 10)
      graft.core.Caches.releaseCheckpoint(wt)
      // encode is checkpoint-free since the single-expression rewrite;
      // this guards the contract (learnMerges' rounds stay the only pins)
      Bpe.encode(docs, "doc_id", "text", merges).count()
    }
    pins.release()
    val leaked = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(leaked.isEmpty, s"leaked persisted RDDs: $leaked")
  }

  test("learning is deterministic across repeated runs") {
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val (m1, wt1) = Bpe.learnMerges(docs, "text", numMerges = 8)
    graft.core.Caches.releaseCheckpoint(wt1)
    val (m2, wt2) = Bpe.learnMerges(docs, "text", numMerges = 8)
    graft.core.Caches.releaseCheckpoint(wt2)
    assert(m1 == m2)
  }

  /** `learn` on the driver backend, then on the Spark backend: each side's
    * merges, word-type rows and word-type schema. */
  private def onBothBackends(learn: => (Seq[Bpe.Merge], org.apache.spark.sql.DataFrame))
      : Seq[(Seq[Bpe.Merge], Set[(String, Long, Seq[String])], org.apache.spark.sql.types.StructType)] =
    Seq(Long.MaxValue, 0L).map { bound =>
      val (merges, wt) = MergeTraining.localBound.withValue(bound)(learn)
      val rows = wt.as[(String, Long, Seq[String])].collect().toSet
      graft.core.Caches.releaseCheckpoint(wt)
      (merges, rows, wt.schema)
    }

  test("driver and Spark backends learn identical merges, segmentations and schemas") {
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val cases = Seq[(String, () => (Seq[Bpe.Merge], org.apache.spark.sql.DataFrame))](
      "exact" -> (() => Bpe.learnMerges(docs, "text", numMerges = 12)),
      "exact = false" -> (() => Bpe.learnMerges(docs, "text", numMerges = 12,
        batchSize = 8, exact = false)),
      "batchSize = 1" -> (() => Bpe.learnMerges(docs, "text", numMerges = 6,
        batchSize = 1)),
      "byte-level" -> (() => Bpe.learnByteMerges(docs, "text", numMerges = 12)),
      "minPairCount stop" -> (() => Bpe.learnMerges(docs, "text", numMerges = 12,
        minPairCount = 8L)),
      "zero merges" -> (() => Bpe.learnMerges(Seq((1L, "ab cd")).toDF("doc_id", "text"),
        "text", numMerges = 5)))
    cases.foreach { case (name, learn) =>
      val Seq(driver, onSpark) = onBothBackends(learn())
      assert(driver._1 == onSpark._1, s"$name: merges differ")
      assert(driver._2 == onSpark._2, s"$name: segmentations differ")
      assert(driver._3 == onSpark._3, s"$name: schemas differ")
      name match {
        case "zero merges" => assert(driver._1.isEmpty)
        case "minPairCount stop" =>
          assert(driver._1.nonEmpty && driver._1.size < 12, driver._1)
        case _ => assert(driver._1.nonEmpty)
      }
    }
  }

  test("candidate ties break in Spark's UTF-8 order on both backends") {
    // after (a, </w>), the pairs led by U+FF01 and by U+1F600 tie at 2;
    // UTF-8 bytes put U+FF01 (EF BC 81) first, UTF-16 units put U+1F600
    // (D83D DE00) first
    val docs = Seq((1L, "\uFF01a \uD83D\uDE00a \uFF01a \uD83D\uDE00a"))
      .toDF("doc_id", "text")
    val want = Seq(("a", Bpe.EndOfWord), ("\uFF01", "a" + Bpe.EndOfWord),
      ("\uD83D\uDE00", "a" + Bpe.EndOfWord))
    onBothBackends(Bpe.learnMerges(docs, "text", numMerges = 3)).foreach {
      case (merges, _, _) => assert(merges.map(m => (m.left, m.right)) == want)
    }
  }

  // ---- byte-level (GPT-2 family) -----------------------------------

  private def refPreTokens(text: String): Vector[String] = {
    val m = java.util.regex.Pattern.compile(Bpe.Gpt2PreTokenPattern)
      .matcher(text)
    val out = mutable.ArrayBuffer[String]()
    while (m.find()) out += m.group()
    out.toVector
  }

  private def refByteSyms(word: String): Vector[String] =
    word.getBytes(java.nio.charset.StandardCharsets.UTF_8).toVector
      .map(b => String.valueOf(
        graft.functions.ByteLevelAlphabet.byteToChar(b & 0xFF)))

  private def refByteLearn(
      words: Map[String, Long],
      numMerges: Int,
      minCount: Long): (Seq[(String, String)], Map[String, Vector[String]]) = {
    var wt = words.map { case (w, _) => w -> refByteSyms(w) }
    val merges = mutable.ListBuffer[(String, String)]()
    var stop = false
    while (merges.size < numMerges && !stop) {
      val pc = mutable.Map[(String, String), Long]()
      for ((w, syms) <- wt; i <- 0 until syms.length - 1) {
        val k = (syms(i), syms(i + 1))
        pc(k) = pc.getOrElse(k, 0L) + words(w)
      }
      val best = pc.toSeq.sortBy { case ((l, r), c) => (-c, l, r) }.headOption
      best match {
        case Some(((l, r), c)) if c >= minCount =>
          merges += ((l, r))
          wt = wt.map { case (w, syms) => w -> refApply(syms, l, r) }
        case _ => stop = true
      }
    }
    (merges.toSeq, wt)
  }

  test("GPT-2 pre-tokenizer: published split behavior on pinned cases") {
    // leading space attaches to the following run; contractions split;
    // punctuation runs separate; interior whitespace splits so that the
    // LAST space before a word stays with the word
    assert(refPreTokens("Hello world!") == Vector("Hello", " world", "!"))
    assert(refPreTokens("I'm sure you're") ==
      Vector("I", "'m", " sure", " you", "'re"))
    assert(refPreTokens("a  b") == Vector("a", " ", " b"))
    assert(refPreTokens("ab12 cd") == Vector("ab", "12", " cd"))
    assert(refPreTokens("tail  ") == Vector("tail", "  "))
    assert(refPreTokens("") == Vector())
    // Unicode whitespace counts as \\s under the pattern's (?U) flag,
    // matching Python re's str semantics: an NBSP or LINE SEPARATOR
    // splits a punctuation run instead of riding inside it (Java's
    // ASCII-only \\s would glue "!\u00A0!" into ONE run)
    assert(refPreTokens("!\u00A0!") == Vector("!", "\u00A0", "!"))
    assert(refPreTokens("!\u2028!") == Vector("!", "\u2028", "!"))
    assert(refPreTokens("a\u00A0b") == Vector("a", "\u00A0", "b"))
    // Python str \s ALSO matches U+001C-U+001F (file/group/record/unit
    // separators: str.isspace() is true for them though Unicode gives
    // them no White_Space property); the widened [\s\x1C-\x1F] class
    // keeps exact parity: they split runs like any whitespace instead
    // of riding inside the punctuation branch
    assert(refPreTokens("!\u001C!") == Vector("!", "\u001C", "!"))
    assert(refPreTokens("a\u001Fb") == Vector("a", "\u001F", "b"))
    assert(refPreTokens("tail\u001C\u001D") ==
      Vector("tail", "\u001C\u001D"))
    assert(refPreTokens("x \u001C y") == Vector("x", " \u001C", " y"))
    // the SPARK side tokenizes identically (regexp_extract_all shares
    // the Java regex semantics)
    val docs = Seq((1L, "Hello world! I'm a  b ab12")).toDF("doc_id", "text")
    val got = docs.select(explode(regexp_extract_all(col("text"),
        lit(Bpe.Gpt2PreTokenPattern), lit(0))).as("t"))
      .as[String].collect().toVector
    assert(got == refPreTokens("Hello world! I'm a  b ab12"))
  }

  test("byte alphabet: reversible 256-point table with the published anchors") {
    val a = graft.functions.ByteLevelAlphabet
    // published anchors: space -> 'Ġ' (U+0120), newline -> 'Ċ' (U+010A),
    // visible ASCII maps to itself
    assert(a.byteToChar(0x20) == 'Ġ')
    assert(a.byteToChar(0x0A) == 'Ċ')
    assert(a.byteToChar('A'.toInt) == 'A')
    assert(a.byteToChar('~'.toInt) == '~')
    // bijective: 256 distinct symbols, inverse round-trips every byte
    assert(a.byteToChar.toSet.size == 256)
    (0 until 256).foreach { b =>
      assert((a.charToByte(a.byteToChar(b)) & 0xFF) == b)
    }
  }

  test("learnByteMerges equals the byte-level reference algorithm") {
    val docs = corpus.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val preCounts = corpus.flatMap(refPreTokens)
      .groupBy(identity).map { case (w, g) => w -> g.size.toLong }
    val (merges, wt) = Bpe.learnByteMerges(docs, "text", numMerges = 12)
    val (refMerges, refWt) = refByteLearn(preCounts, 12, 2L)
    val gotWt = wt.as[(String, Long, Seq[String])].collect()
      .map { case (w, _, s) => w -> s.toVector }.toMap
    graft.core.Caches.releaseCheckpoint(wt)
    assert(merges.map(m => (m.left, m.right)) == refMerges)
    assert(gotWt == refWt)
    // space-prefixed word types learn 'Ġ'-leading units — the GPT-2
    // boundary convention (no </w> sentinel anywhere)
    assert(gotWt.keySet.exists(_.startsWith(" ")))
    assert(gotWt.forall { case (_, syms) => !syms.contains(Bpe.EndOfWord) })
  }

  test("encodeBytes round-trips exactly, including multi-byte and control bytes") {
    val texts = Seq(
      "low lower newest the the the",
      "Héllo 🌍 world",        // é (2 bytes), 🌍 (4 bytes)
      "tabs\tand\nnewlines  plus I'm",
      "")
    val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
    val (merges, wt) = Bpe.learnByteMerges(docs, "text", numMerges = 10)
    graft.core.Caches.releaseCheckpoint(wt)
    val decoded = Bpe.encodeBytes(docs, "doc_id", "text", merges)
      .select(col("doc_id"), Bpe.decodeBytes(col("bpe_tokens")).as("t"))
      .as[(Long, String)].collect().toMap
    texts.zipWithIndex.foreach { case (t, i) =>
      if (t.nonEmpty) assert(decoded(i.toLong) == t, s"doc $i mangled")
      else assert(!decoded.contains(i.toLong)) // no pre-tokens -> no row
    }
    // decode refuses symbols outside the alphabet loudly
    val bad = Seq((1L, Seq("☃"))).toDF("id", "units")
    val e = intercept[Exception] { // IllegalArgumentException locally,
      bad.select(Bpe.decodeBytes(col("units"))).collect()
    } // SparkException-wrapped on a cluster
    assert(e.getMessage.contains("byte-level alphabet") ||
      e.getCause != null, e.toString)
  }
}
