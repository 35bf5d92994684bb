package graft.operators

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.DynamicVariable

import org.apache.spark.sql.{DataFrame, Observation, Row}
import org.apache.spark.sql.functions._

import graft.core.{Caches, Loop}
import graft.functions.BpeApplyMerges

/** The merge-training core [[Bpe]] and [[WordPiece]] share: the rounds
  * over a `(__word, __n, __syms)` word-type table that pick a batch of
  * adjacent-symbol pairs, record them, and rewrite every word's symbols.
  *
  * Two backends run the rounds:
  *  - `Driver`: the table is collected once and every round — pair
  *    counts, the top candidates, the selection, the rewrite — runs in
  *    driver memory. Chosen while the table holds fewer than
  *    [[LocalCellBound]] cells.
  *  - `Distributed`: every round is a Spark aggregate + `TakeOrdered`
  *    and a checkpointed [[BpeApplyMerges]] rewrite on [[Loop.iterate]];
  *    the only backend for tables at or above the bound.
  *
  * A round's cost on Spark is mostly fixed (about 75 ms a round over a
  * few-thousand-row table in perfbench's corpus_curation), and the exact
  * selection rule accepts only 1–2 merges per round on natural text, so
  * on a small table the rounds are scheduler overhead; the driver
  * backend removes them. Both backends call the
  * same selection rule ([[select]]), the same merge rewrite
  * ([[BpeApplyMerges.rewrite]]) and the same candidate order (Spark's
  * UTF-8 binary string order, [[Utf8Order]]), so they learn the same
  * merges.
  */
private[operators] object MergeTraining {

  /** A merge candidate: adjacent symbols `(l, r)` and their occurrence
    * count, weighted by word frequency. */
  final case class Cand(l: String, r: String, cnt: Long)

  /** Word-type tables below this many cells (rows + Σ|syms|) train on the
    * driver. Sized from rounds of `Bpe.learnMerges` (exact, one merge per
    * round) on synthetic Zipf word-type tables, `local[4]` on a 4-core VM,
    * the caller session at 4 shuffle partitions:
    *
    * | cells | driver round | Spark round |
    * |---|---|---|
    * | 82k | 3 ms | 193 ms |
    * | 472k | 37 ms | 245 ms |
    * | 995k | 77 ms | 354 ms |
    * | 1.94M | 160 ms | 508 ms |
    *
    * A driver round stays under a Spark round past 2M cells; the bound
    * sits at 1M so the collected table (one string per symbol) stays a
    * small share of a default driver heap, as [[Dedup.LocalEdgeThreshold]]
    * does for union-find.
    */
  val LocalCellBound: Long = 1L * 1000 * 1000

  /** The bound in force; tests pin it to 0 to run the Spark backend on
    * small inputs. */
  private[operators] val localBound = new DynamicVariable[Long](LocalCellBound)

  /** How a trainer orders candidates, on both backends: each returns
    * the first `n` pairs under the same total order. */
  trait Ranking {
    def onSpark(wt: DataFrame, n: Int): IndexedSeq[Cand]
    def onDriver(t: LocalTable, n: Int): IndexedSeq[Cand]
  }

  /** Spark's string order: unsigned UTF-8 bytes, which is code-point
    * order — not `String.compareTo`, which puts a surrogate pair (U+10000
    * and up) below U+E000–U+FFFF. At the first differing UTF-16 unit the
    * two strings share every earlier code point, so comparing the code
    * points that start there decides.
    */
  val Utf8Order: Ordering[String] = (a: String, b: String) => {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n && a.charAt(i) == b.charAt(i)) i += 1
    if (i == n) Integer.compare(a.length, b.length)
    else Integer.compare(a.codePointAt(i), b.codePointAt(i))
  }

  /** The tie-break of every candidate order: (l, r) in [[Utf8Order]]. */
  def comparePairs(a: Cand, b: Cand): Int = {
    val l = Utf8Order.compare(a.l, b.l)
    if (l != 0) l else Utf8Order.compare(a.r, b.r)
  }

  /** Candidates sorted by (count desc, l, r) — BPE's order. */
  val ByCountOrder: Ordering[Cand] = (a: Cand, b: Cand) => {
    val c = java.lang.Long.compare(b.cnt, a.cnt)
    if (c != 0) c else comparePairs(a, b)
  }

  /** The first `n` of `items` under `order`, sorted: a bounded heap
    * whose head is the worst item kept. */
  def top[T](items: Iterator[T], n: Int)(order: Ordering[T]): IndexedSeq[T] = {
    val heap = new java.util.PriorityQueue[T](math.max(1, n), order.reverse)
    items.foreach { x =>
      if (heap.size < n) heap.add(x): Unit
      else if (n > 0 && order.compare(x, heap.peek) < 0) { heap.poll(); heap.add(x): Unit }
    }
    val out = new ArrayBuffer[T](heap.size)
    while (!heap.isEmpty) out += heap.poll()
    out.reverse.toIndexedSeq
  }

  /** One round's batch: the selection rule both trainers and both
    * backends use. Fetches the first `want * 4 + 8` candidates from
    * `cands` (over-fetched so the disjointness scan has room to fill the
    * batch; the size only bounds batch yield, never correctness) and
    * scans them in order, accepting pairs whose symbols are disjoint from
    * every pair accepted before. Empty when there is no candidate or the
    * first is below `minPairCount`: training stops.
    *
    * `exact` (see [[Bpe.learnMerges]] for the proof) stops the scan at
    * the first candidate sharing a symbol and keeps only the accepted
    * merges counted strictly above every candidate not accepted (the
    * barrier), seen or past the fetched horizon; the first is always
    * kept. Otherwise the scan skips sharing candidates and keeps filling
    * the batch (compatible batching).
    */
  def select(
      cands: Int => IndexedSeq[Cand],
      want: Int,
      minPairCount: Long,
      exact: Boolean): Seq[(String, String)] = {
    val topN = want * 4 + 8
    val cs = cands(topN)
    if (cs.isEmpty || cs.head.cnt < minPairCount) Nil
    else {
      val used = scala.collection.mutable.Set.empty[String]
      val picked = ArrayBuffer.empty[Cand]
      var barrier = // unseen pairs exist only if the fetch truncated
        if (cs.length == topN) cs.last.cnt else Long.MinValue
      var scanning = true
      // exact-mode invariant: `barrier` ends ≥ the count of EVERY
      // candidate not accepted — seen (sharing / batch-full / below
      // min) or unseen (bounded by the count where the scan stopped,
      // or by the truncation tail) — so `cnt > barrier` certifies no
      // disturbed pair can tie an accepted merge
      cs.iterator.takeWhile(_ => scanning).foreach { c =>
        if (used.contains(c.l) || used.contains(c.r)) {
          if (exact) {
            barrier = math.max(barrier, c.cnt)
            scanning = false // first sharing candidate caps the batch
          } // compatible: skip and keep scanning
        } else if (picked.size < want && c.cnt >= minPairCount) {
          picked += c; used += c.l; used += c.r
        } else { // batch full, or counts sorted below minPairCount
          barrier = math.max(barrier, c.cnt)
          scanning = false
        }
      }
      val safe =
        if (exact) picked.head +: picked.tail
          .takeWhile(c => c.cnt > barrier && c.cnt >= minPairCount)
        else picked.toSeq
      safe.map(c => (c.l, c.r)).toSeq
    }
  }

  /** The merges accepted so far, up to `budget`; [[next]] runs the
    * selection for one round. */
  final class Rounds(budget: Int, batchSize: Int, minPairCount: Long, exact: Boolean) {
    private val merges = ArrayBuffer.empty[(String, String)]

    /** Accepted merges, in order. */
    def accepted: Seq[(String, String)] = merges.toSeq

    /** The next batch, or None once the budget is spent or [[select]]
      * stops. */
    def next(cands: Int => IndexedSeq[Cand]): Option[Seq[(String, String)]] =
      if (merges.size >= budget) None
      else {
        val batch = select(cands, math.min(batchSize, budget - merges.size),
          minPairCount, exact)
        if (batch.isEmpty) None else { merges ++= batch; Some(batch) }
      }
  }

  /** Adjacent-pair counts of a word-type table on Spark:
    * `(__l, __r, __cnt)`, weighted by word count. */
  def pairCounts(wt: DataFrame): DataFrame =
    wt.where(size(col("__syms")) >= 2)
      .select(col("__n"), explode(transform(
        sequence(lit(0), size(col("__syms")) - 2),
        i => struct(element_at(col("__syms"), i + 1).as("l"),
          element_at(col("__syms"), i + 2).as("r")))).as("__p"))
      .groupBy(col("__p.l").as("__l"), col("__p.r").as("__r"))
      .agg(sum(col("__n")).as("__cnt"))

  /** Symbol counts of a word-type table on Spark: `(__s, __sc)`,
    * weighted by word count. */
  def symbolCounts(wt: DataFrame): DataFrame =
    wt.select(col("__n"), explode(col("__syms")).as("__s"))
      .groupBy("__s").agg(sum(col("__n")).as("__sc"))

  /** A collected word-type table: the driver backend's state. */
  final class LocalTable(schema: org.apache.spark.sql.types.StructType, rows: Array[Row]) {
    private val symIdx = schema.fieldIndex("__syms")
    private val counts = rows.map(_.getLong(schema.fieldIndex("__n")))
    private val syms: Array[Array[String]] = rows.map(_.getSeq[String](symIdx).toArray)

    /** Distinct symbols, unordered. */
    def alphabet: Array[String] = syms.iterator.flatMap(_.iterator).distinct.toArray

    /** [[MergeTraining.pairCounts]] in memory, in no order. */
    def pairs: Iterator[Cand] = {
      val acc = new java.util.HashMap[(String, String), Array[Long]]()
      var w = 0
      while (w < syms.length) {
        val s = syms(w)
        var i = 0
        while (i < s.length - 1) {
          val k = (s(i), s(i + 1))
          val a = acc.get(k)
          if (a == null) acc.put(k, Array(counts(w))) else a(0) += counts(w)
          i += 1
        }
        w += 1
      }
      acc.asScala.iterator.map { case ((l, r), c) => Cand(l, r, c(0)) }
    }

    /** [[MergeTraining.symbolCounts]] in memory. */
    def symbolCounts: java.util.HashMap[String, Array[Long]] = {
      val acc = new java.util.HashMap[String, Array[Long]]()
      syms.indices.foreach(w => syms(w).foreach { x =>
        val a = acc.get(x)
        if (a == null) acc.put(x, Array(counts(w))) else a(0) += counts(w)
      })
      acc
    }

    /** Rewrite every word's symbols under `batch`. */
    def merge(batch: Seq[(String, String)], contPrefix: String): Unit = {
      val ms = BpeApplyMerges.prepare(batch, contPrefix)
      syms.indices.foreach(w => syms(w) = BpeApplyMerges.rewrite(syms(w), ms))
    }

    /** The table's rows with the current symbols. */
    def toRows: java.util.List[Row] =
      rows.indices.map(w => Row.fromSeq(rows(w).toSeq.updated(symIdx, syms(w).toSeq))).asJava
  }

  /** A checkpointed word-type table and the backend its rounds run on. */
  sealed abstract class Table {
    /** Distinct symbols, unordered; call before [[learn]]. */
    def alphabet(): Array[String]

    /** Run `rounds` to the end, ranking candidates by `rank` and
      * rewriting with `contPrefix`. */
    def learn(rounds: Rounds, rank: Ranking, contPrefix: String): Unit

    /** The table after [[learn]]: `(__word, __n, __syms)`, the schema the
      * Spark backend's rewrite gives (the initial one when nothing
      * merged). */
    def result(): DataFrame
  }

  private final class Distributed(held: Caches.Held, wt0: DataFrame) extends Table {
    private var last = wt0

    def alphabet(): Array[String] =
      wt0.select(explode(col("__syms")).as("__s")).distinct()
        .collect().map(_.getString(0))

    // the final state is held: released with the scope unless the
    // scope's result reads it
    def learn(rounds: Rounds, rank: Ranking, contPrefix: String): Unit =
      last = held.adopt(Loop.iterate(wt0) { (wt, _) =>
        rounds.next(rank.onSpark(wt, _)).map(batch =>
          wt.withColumn("__syms", BpeApplyMerges(col("__syms"), batch, contPrefix)))
      })

    def result(): DataFrame = last
  }

  private final class Driver(wt0: DataFrame) extends Table {
    private val table = new LocalTable(wt0.schema, wt0.collect())
    private var merged = false

    def alphabet(): Array[String] = table.alphabet

    def learn(rounds: Rounds, rank: Ranking, contPrefix: String): Unit =
      Iterator.continually(rounds.next(rank.onDriver(table, _)))
        .takeWhile(_.isDefined)
        .foreach { batch => table.merge(batch.get, contPrefix); merged = true }

    // unmerged, the checkpoint itself, as on Spark; merged, a driver-local
    // frame (no checkpoint to release) typed by the rewrite expression
    def result(): DataFrame =
      if (!merged) wt0
      else wt0.sparkSession.createDataFrame(table.toRows, wt0.withColumn("__syms",
        BpeApplyMerges(col("__syms"), Nil)).schema)
  }

  /** Checkpoint `wordTypes` in `held`, measuring its size with
    * `observe()` on the checkpoint job itself (no extra Spark action),
    * and pick the backend: the driver below [[localBound]] cells, Spark
    * otherwise.
    */
  def open(held: Caches.Held, wordTypes: DataFrame): Table = {
    val seen = Observation()
    val wt0 = held(wordTypes.observe(seen,
      count(lit(1)).as("rows"), coalesce(sum(size(col("__syms"))), lit(0L)).as("syms")))
    val m = seen.get
    val cells = m("rows").asInstanceOf[Long] + m("syms").asInstanceOf[Long]
    if (cells < localBound.value) new Driver(wt0) else new Distributed(held, wt0)
  }
}
