package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftSqlBridge
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Apply a full BPE merge list to a symbol array in ONE expression.
  *
  * The declarative alternative — one `aggregate` fold per merge, chained
  * with `withColumn` — carries the merge count into the PLAN: 24 merges
  * is 24 nested fold expressions (already needing lineage checkpoints
  * every 8 to keep analysis bounded), and a production 32k–64k-merge
  * tokenizer is flatly unreachable (thousands of checkpoint jobs, codegen
  * far past method limits). This expression carries the merge list in the
  * OPERATOR instead: one plan node, one pass over the vocabulary, the
  * rank loop as a tight JVM loop.
  *
  * Semantics are exactly the chained-fold semantics (spec-pinned against
  * the same single-node reference in BpeSpec): merges apply in rank
  * order, each as one greedy left-to-right pass where the accumulator's
  * last symbol merges with the current one ("aaaa" + (a,a) → [aa, aa]).
  * A per-word symbol-presence set skips ranks that cannot apply — the
  * common case for long merge lists, making per-word cost
  * O(|merges| set-lookups + |applicable| · |word|).
  *
  * `CodegenFallback` is deliberate: this evaluates over the DISTINCT-word
  * table (vocabulary-sized, never corpus-sized), and generating a
  * 32k-iteration merge loop into Janino would burst method limits for no
  * gain. Null input → null; symbols must be non-null strings (the
  * contract of `Bpe.initialSymbols`).
  *
  * `contPrefix` (empty for plain BPE) is the continuation marker of
  * WordPiece-style symbol alphabets: when set, the merge PRODUCT strips
  * the right symbol's leading marker (`"un" + "##able" → "unable"`,
  * `"##a" + "##b" → "##ab"`) — the left symbol keeps its own marker, so
  * word-initial and word-internal pieces stay distinct.
  */
case class BpeApplyMerges(
    child: Expression,
    merges: Seq[(String, String)],
    contPrefix: String = "")
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_bpe_apply"

  @transient private lazy val mergeArr: Array[(String, String, String)] =
    BpeApplyMerges.prepare(merges, contPrefix)

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val syms = new Array[String](arr.numElements())
    var i = 0
    while (i < syms.length) { syms(i) = arr.getUTF8String(i).toString; i += 1 }
    val out = BpeApplyMerges.rewrite(syms, mergeArr)
    val res = new Array[Any](out.length)
    var k = 0
    while (k < out.length) { res(k) = UTF8String.fromString(out(k)); k += 1 }
    new GenericArrayData(res)
  }

  override protected def withNewChildInternal(newChild: Expression): BpeApplyMerges =
    copy(child = newChild)
}

object BpeApplyMerges {
  /** The symbol merging `l` with `r` produces: `l + r`, less `r`'s
    * leading `contPrefix` when one is set. */
  def product(l: String, r: String, contPrefix: String): String =
    if (contPrefix.nonEmpty && r.startsWith(contPrefix))
      l + r.substring(contPrefix.length)
    else l + r

  /** `(left, right, product)` per merge, in application order. */
  def prepare(
      merges: Seq[(String, String)],
      contPrefix: String): Array[(String, String, String)] =
    merges.map { case (l, r) => (l, r, product(l, r, contPrefix)) }.toArray

  /** `syms` rewritten under the [[prepare]]d `merges` — the one definition
    * of merge application, shared by this expression and the driver-side
    * trainer (`graft.operators.MergeTraining`). `syms` is never mutated;
    * the result may be `syms` itself when no merge applies.
    */
  def rewrite(syms: Array[String], merges: Array[(String, String, String)]): Array[String] = {
    var cur = syms
    var n = syms.length
    val present = new java.util.HashSet[String]()
    var i = 0
    while (i < n) { present.add(cur(i)): Unit; i += 1 }
    var m = 0
    while (m < merges.length) {
      val (l, r, prod) = merges(m)
      // necessary condition only — stale `present` entries (symbols fully
      // consumed by earlier merges) cost a wasted pass, never wrong output
      if (n > 1 && present.contains(l) && present.contains(r)) {
        val out = new Array[String](n)
        var k = 0
        var j = 0
        while (j < n) {
          val x = cur(j)
          if (k > 0 && out(k - 1) == l && x == r) out(k - 1) = prod
          else { out(k) = x; k += 1 }
          j += 1
        }
        if (k < n) {
          cur = out
          n = k
          present.add(prod): Unit
        }
      }
      m += 1
    }
    if (n == cur.length) cur else java.util.Arrays.copyOf(cur, n)
  }

  /** Column face: `syms` rewritten under `merges` in rank order. */
  def apply(syms: Column, merges: Seq[(String, String)]): Column =
    GraftSqlBridge.column(BpeApplyMerges(GraftSqlBridge.expression(syms), merges))

  /** Column face with a WordPiece-style continuation marker. */
  def apply(syms: Column, merges: Seq[(String, String)], contPrefix: String): Column =
    GraftSqlBridge.column(
      BpeApplyMerges(GraftSqlBridge.expression(syms), merges, contPrefix))
}

/** GPT-2's reversible byte↔unicode alphabet (Radford et al. 2019,
  * `bytes_to_unicode` in the published encoder.py): every byte 0–255
  * maps to ONE printable BMP character — visible ASCII/Latin-1 bytes
  * map to themselves, the 68 control/whitespace bytes map to 256+n in
  * ascending byte order (so 0x20 → U+0120 'Ġ', 0x0A → U+010A 'Ċ').
  * Byte-level BPE runs its merges over THIS alphabet: no byte is ever
  * out-of-vocabulary, and decode is exact byte-wise inversion.
  */
object ByteLevelAlphabet {
  private val identityBytes: Set[Int] =
    (('!'.toInt to '~'.toInt) ++ (0xA1 to 0xAC) ++ (0xAE to 0xFF)).toSet

  /** byte value (0–255) → its single-character symbol */
  val byteToChar: Array[Char] = {
    val arr = new Array[Char](256)
    var n = 0
    var b = 0
    while (b < 256) {
      if (identityBytes(b)) arr(b) = b.toChar
      else { arr(b) = (256 + n).toChar; n += 1 }
      b += 1
    }
    arr
  }

  /** symbol character → byte value; the exact inverse of [[byteToChar]] */
  val charToByte: Map[Char, Byte] =
    byteToChar.zipWithIndex.map { case (c, b) => c -> b.toByte }.toMap
}

/** A pre-token string → its byte-level initial symbol array: UTF-8
  * bytes, each mapped through [[ByteLevelAlphabet.byteToChar]] to a
  * one-character string. The byte-level sibling of `Bpe.initialSymbols`
  * — no end-of-word sentinel (GPT-2 encodes the word boundary as the
  * leading-space byte 'Ġ' inside the pre-token itself).
  *
  * `CodegenFallback` is deliberate for the same reason as
  * [[BpeApplyMerges]]: this evaluates over the DISTINCT pre-token
  * table, vocabulary-sized, never corpus-sized.
  */
case class ByteLevelSymbols(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_byte_symbols"

  override def nullSafeEval(input: Any): Any = {
    val bytes = input.asInstanceOf[UTF8String].getBytes
    val res = new Array[Any](bytes.length)
    var i = 0
    while (i < bytes.length) {
      res(i) = UTF8String.fromString(
        String.valueOf(ByteLevelAlphabet.byteToChar(bytes(i) & 0xFF)))
      i += 1
    }
    new GenericArrayData(res)
  }

  override protected def withNewChildInternal(
      newChild: Expression): ByteLevelSymbols = copy(child = newChild)
}

object ByteLevelSymbols {
  def apply(word: Column): Column =
    GraftSqlBridge.column(ByteLevelSymbols(GraftSqlBridge.expression(word)))
}

/** Inverse of the byte-level encoding: an array of merged symbol strings
  * → the original text, by mapping every character of every symbol back
  * through [[ByteLevelAlphabet.charToByte]] and UTF-8-decoding the byte
  * stream. A character outside the 324-point alphabet is a CONTRACT
  * violation (the input was not produced by byte-level BPE) and throws
  * loudly rather than decoding garbage.
  */
case class ByteLevelDecode(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_byte_decode"

  override def nullSafeEval(input: Any): Any = {
    val arr = input.asInstanceOf[ArrayData]
    val out = new java.io.ByteArrayOutputStream()
    var i = 0
    while (i < arr.numElements()) {
      val s = arr.getUTF8String(i).toString
      var j = 0
      while (j < s.length) {
        val c = s.charAt(j)
        ByteLevelAlphabet.charToByte.get(c) match {
          case Some(b) => out.write(b & 0xFF)
          case None => throw new IllegalArgumentException(
            s"graft_byte_decode: character U+${c.toInt.toHexString} is " +
              "outside the byte-level alphabet — the input was not " +
              "produced by byte-level BPE")
        }
        j += 1
      }
      i += 1
    }
    UTF8String.fromBytes(out.toByteArray)
  }

  override protected def withNewChildInternal(
      newChild: Expression): ByteLevelDecode = copy(child = newChild)
}

object ByteLevelDecode {
  def apply(syms: Column): Column =
    GraftSqlBridge.column(ByteLevelDecode(GraftSqlBridge.expression(syms)))
}
