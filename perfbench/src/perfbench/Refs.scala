package perfbench

import scala.collection.mutable

/** Plain-Scala references the workload outputs are checked against. */
object Refs {
  /** Power iteration over the distinct directed edges: every node starts at
    * 1/n and receives (1−d)/n + d·Σ pr(u)/outdeg(u); dangling mass leaks. */
  def pageRank(edges: Seq[(Long, Long)], iterations: Int, d: Double): Map[String, Double] = {
    val e = edges.distinct
    val nodes = e.flatMap { case (a, b) => Seq(a, b) }.distinct
    val n = nodes.size.toDouble
    val outDeg = e.groupBy(_._1).map { case (k, v) => k -> v.size.toDouble }
    var pr = nodes.map(_ -> 1.0 / n).toMap
    (1 to iterations).foreach { _ =>
      val in = mutable.Map.empty[Long, Double].withDefaultValue(0.0)
      e.foreach { case (a, b) => in(b) += pr(a) / outDeg(a) }
      pr = nodes.map(v => v -> ((1 - d) / n + d * in(v))).toMap
    }
    pr.map { case (k, v) => k.toString -> v }
  }

  /** Sequential peel (Batagelj–Zaversnik): repeatedly remove a node of
    * minimum remaining degree; its coreness is the running maximum of the
    * degrees seen at removal. Undirected, self-loops and duplicates dropped. */
  def coreness(edges: Seq[(Long, Long)]): Map[String, Long] = {
    val adj = mutable.Map.empty[Long, mutable.Set[Long]]
    edges.foreach { case (a, b) =>
      if (a != b) {
        adj.getOrElseUpdate(a, mutable.Set.empty) += b
        adj.getOrElseUpdate(b, mutable.Set.empty) += a
      }
    }
    val deg = mutable.Map.empty[Long, Int] ++ adj.map { case (k, v) => k -> v.size }
    val queue = mutable.TreeSet.empty[(Int, Long)] ++ deg.iterator.map(_.swap)
    val out = mutable.Map.empty[String, Long]
    var k = 0
    while (queue.nonEmpty) {
      val (dv, v) = queue.head
      queue -= ((dv, v))
      k = math.max(k, dv)
      out(v.toString) = k
      adj(v).foreach { u =>
        if (deg.contains(u)) {
          queue -= ((deg(u), u)); deg(u) -= 1; queue += ((deg(u), u))
        }
      }
      deg -= v
    }
    out.toMap
  }

  /** Connected components by union-find, as a set of node sets. */
  def components(edges: Seq[(Long, Long)]): Set[Set[Long]] = {
    val parent = mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) => parent(find(a)) = find(b) }
    parent.keys.toSeq.groupBy(find).values.map(_.toSet).toSet
  }

  /** (node, label) rows as a set of node sets — compares components as
    * partitions, whatever label each engine picks. */
  def partition(rows: Seq[(Long, Long)]): Set[Set[Long]] =
    rows.groupBy(_._2).values.map(_.map(_._1).toSet).toSet

  /** Round half up to `scale` decimals, as Spark's `round` does. */
  def round(x: Double, scale: Int): Double =
    BigDecimal(x).setScale(scale, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** Sequential BPE (Sennrich) over lowercased whitespace words with an
    * end-of-word symbol: each step merges the most frequent adjacent pair,
    * ties broken by (left, right) ascending, applied greedily left to
    * right. Stops at `numMerges` or when the best count is below
    * `minPairCount`. */
  def bpeMerges(texts: Seq[String], numMerges: Int, minPairCount: Long = 2): Seq[(String, String)] = {
    val counts = texts.flatMap(_.split("\\s+").filter(_.nonEmpty).map(_.toLowerCase))
      .groupBy(identity).map { case (w, ws) => w -> ws.size.toLong }
    var words = counts.toSeq.map { case (w, n) =>
      (w.codePoints().toArray.map(cp => new String(Character.toChars(cp))).toVector :+ "</w>", n)
    }
    val out = mutable.ArrayBuffer.empty[(String, String)]
    var done = false
    while (!done && out.size < numMerges) {
      val pc = mutable.Map.empty[(String, String), Long].withDefaultValue(0L)
      words.foreach { case (s, n) => (0 until s.length - 1).foreach(i => pc((s(i), s(i + 1))) += n) }
      if (pc.isEmpty) done = true
      else {
        val ((l, r), c) = pc.toSeq.minBy { case ((l, r), c) => (-c, l, r) }
        if (c < minPairCount) done = true
        else {
          out += ((l, r))
          words = words.map { case (s, n) =>
            val b = Vector.newBuilder[String]
            var i = 0
            while (i < s.length) {
              if (i < s.length - 1 && s(i) == l && s(i + 1) == r) { b += l + r; i += 2 }
              else { b += s(i); i += 1 }
            }
            (b.result(), n)
          }
        }
      }
    }
    out.toSeq
  }

  /** Exact cosine top-k scores per query (rounded to 6 decimals, the
    * precision the library ranks at), best first. */
  def topKScores(corpus: Seq[(Long, Array[Double])], queries: Seq[(Long, Array[Double])],
      k: Int): Map[Long, Seq[Double]] = {
    queries.map { case (q, qv) =>
      q -> corpus.map { case (_, v) => round(cosine(qv, v), 6) }
        .sorted(Ordering[Double].reverse).take(k)
    }.toMap
  }

  def cosine(a: Array[Double], b: Array[Double]): Double = {
    def norm(v: Array[Double]) = math.sqrt(v.map(x => x * x).sum)
    a.zip(b).map { case (x, y) => x * y }.sum / (norm(a) * norm(b))
  }

  /** Same multiset of rows, doubles compared to 9 significant digits. */
  def sameRows(a: Seq[org.apache.spark.sql.Row], b: Seq[org.apache.spark.sql.Row]): Boolean = {
    def norm(r: org.apache.spark.sql.Row) = r.toSeq.map {
      case d: Double => f"$d%.9g"
      case x => String.valueOf(x)
    }.mkString("|")
    a.map(norm).sorted == b.map(norm).sorted
  }

  /** Jaccard of two texts' distinct lowercased word-trigram sets. */
  def shingleJaccard(a: String, b: String): Double = {
    def sh(t: String) = t.toLowerCase.split("\\s+").filter(_.nonEmpty).sliding(3).map(_.mkString(" ")).toSet
    val (x, y) = (sh(a), sh(b))
    if (x.isEmpty && y.isEmpty) 1.0 else (x & y).size.toDouble / (x | y).size
  }
}
