package perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.{Dedup, Graphs}

/** Iterative graph jobs on a seeded power-law edge list: PageRank,
  * coreness and star-contraction connected components. Every pass is a
  * chain of short driver-scheduled rounds over a small graph, so the
  * per-round fixed cost of the loop machinery dominates — the layer an
  * iteration-core or AQE-gate change moves. Uses no io, ct or llm.
  *
  * Graph: [[Components]] Barabási–Albert components (each new node links
  * to [[M]] distinct earlier nodes, degree-proportionally) plus isolated
  * edges. The shape comes from a constant seed; `--seed` relabels the
  * nodes and orders the edges. Peel depth and contraction rounds follow
  * the shape, so every seed runs the same number of loop rounds while
  * labels, hash layouts and partition contents differ.
  */
final class GraphLoops extends Workload {
  val Nodes = 400
  val M = 2
  val Components = Seq(0.4, 0.3, 0.2, 0.1)
  val IsolatedEdges = 20
  val Iterations = 3
  val Damping = 0.85
  val ShapeSeed = 20240601L

  private var edges: Seq[(Long, Long)] = Nil
  private var edgeDf: DataFrame = _
  private var refPr: Map[String, Double] = Map.empty
  private var refCore: Map[String, Long] = Map.empty
  private var refComps: Set[Set[Long]] = Set.empty
  private var outPr: Map[String, Double] = Map.empty
  private var outCore: Map[String, Long] = Map.empty
  private var outComps: Set[Set[Long]] = Set.empty

  def inputs: String =
    s"${edges.size} directed edges over ${edges.flatMap(e => Seq(e._1, e._2)).distinct.size} nodes, " +
      s"${edges.size * 16} bytes as two int64 columns"

  def setup(spark: SparkSession, seed: Long, work: String): Unit = {
    val shape = new scala.util.Random(ShapeSeed)
    val out = mutable.ArrayBuffer.empty[(Int, Int)]
    var next = 0
    Components.foreach { share =>
      val nodes = next until next + (Nodes * share).toInt
      next = nodes.end
      // seed clique of M+1 nodes, then preferential attachment
      val ends = mutable.ArrayBuffer.empty[Int]
      for (i <- 0 to M; j <- 0 until i) {
        out += ((nodes(i), nodes(j))); ends += nodes(i); ends += nodes(j)
      }
      (M + 1 until nodes.size).foreach { i =>
        val targets = mutable.LinkedHashSet.empty[Int]
        while (targets.size < M) targets += ends(shape.nextInt(ends.size))
        targets.foreach { t => out += ((nodes(i), t)); ends += nodes(i); ends += t }
      }
    }
    (0 until IsolatedEdges).foreach { _ => out += ((next, next + 1)); next += 2 }
    val rnd = new scala.util.Random(seed * 1000003L + 11)
    val ids = rnd.shuffle((0L until next.toLong).toVector)
    edges = rnd.shuffle(out.toSeq).map { case (a, b) => (ids(a), ids(b)) }
    edgeDf = spark.createDataFrame(edges).toDF("src", "dst")
    refPr = Refs.pageRank(edges, Iterations, Damping)
    refCore = Refs.coreness(edges)
    refComps = Refs.components(edges)
  }

  def pass(p: Pass): Unit = {
    outPr = p.call("graphs.pageRank") {
      Graphs.pageRank(edgeDf, "src", "dst", iterations = Iterations, damping = Damping)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    }
    outCore = p.call("graphs.coreness") {
      Graphs.coreness(edgeDf, "src", "dst")
        .collect().map(r => r.getAs[String]("node") -> r.getAs[Long]("coreness")).toMap
    }
    outComps = p.call("dedup.connectedComponents") {
      Refs.partition(Dedup.connectedComponents(edgeDf, "src", "dst", algorithm = "stars")
        .collect().toSeq.map(r => r.getAs[Long]("node") -> r.getAs[Long]("comp")))
    }
  }

  def check(): Seq[String] = {
    val pr =
      if (outPr.keySet != refPr.keySet) Seq(s"pageRank: ${outPr.size} nodes, expected ${refPr.size}")
      else refPr.collect {
        case (n, want) if math.abs(outPr(n) - want) > 2e-6 =>
          s"pageRank($n) = ${outPr(n)}, power iteration gives $want"
      }.take(3).toSeq
    val core = refCore.collect {
      case (n, want) if !outCore.get(n).contains(want) =>
        s"coreness($n) = ${outCore.get(n)}, sequential peel gives $want"
    }.take(3).toSeq ++
      (if (outCore.size != refCore.size) Seq(s"coreness: ${outCore.size} nodes, expected ${refCore.size}") else Nil)
    val cc =
      if (outComps != refComps)
        Seq(s"connectedComponents: ${outComps.size} components, union-find gives ${refComps.size}")
      else Nil
    pr ++ core ++ cc
  }
}
