package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase

class GraphsSpec extends SparkTestBase {
  import spark.implicits._

  test("pageRank on a symmetric cycle is uniform at every iteration count") {
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"),
      ("b", "a"), ("c", "b"), ("a", "c")).toDF("src", "dst")
    Seq(1, 4).foreach { k =>
      val pr = Graphs.pageRank(e, "src", "dst", iterations = k)
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(pr.size == 3)
      pr.values.foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-6,
        s"cycle must stay uniform, got $pr"))
    }
  }

  test("pageRank matches a single-node reference implementation") {
    // small directed graph with asymmetric in-degrees
    val edges = Seq(
      ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c"))
    val d = 0.85
    val k = 3
    // reference power iteration with the SAME nano quantization
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = nodes.length
    val out = edges.groupBy(_._1).map { case (s, es) => s -> es.length }
    var pr = nodes.map(_ -> 1.0 / n).toMap
    (1 to k).foreach { _ =>
      val in = nodes.map { v =>
        v -> edges.filter(_._2 == v).map { case (s, _) =>
          math.round(pr(s) / out(s) * 1e9)
        }.sum
      }.toMap
      pr = nodes.map(v => v -> ((1.0 - d) / n + d * (in(v) / 1e9))).toMap
    }
    val got = Graphs.pageRank(edges.toDF("src", "dst"), "src", "dst",
      iterations = k, damping = d)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.keySet == pr.keySet)
    nodes.foreach { v =>
      assert(got(v) == pr(v), s"node $v: got ${got(v)}, want ${pr(v)}")
    }
    // 'c' has three in-edges and must outrank everything
    assert(got("c") > got("a") && got("c") > got("b") && got("c") > got("d"))
    // 'd' has no in-edges: floor + nothing
    assert(math.abs(got("d") - (1.0 - d) / n) < 1e-12)
  }

  test("weighted pageRank splits mass by weight and matches the reference") {
    // a splits 4:3 between b and c; duplicate (a,c) edges sum (1+2)
    val edges = Seq(
      ("a", "b", 4L), ("a", "c", 1L), ("a", "c", 2L),
      ("b", "a", 1L), ("c", "a", 1L), ("x", "a", 0L)) // zero weight drops
    val d = 0.85
    val k = 2
    val collapsed = edges.groupBy(e => (e._1, e._2))
      .map { case ((s, t), es) => (s, t, es.map(_._3).sum.toDouble) }
      .toSeq.filter(_._3 > 0)
    val nodes = collapsed.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val n = nodes.length
    val wsum = collapsed.groupBy(_._1).map { case (s, es) => s -> es.map(_._3).sum }
    var ref = nodes.map(_ -> 1.0 / n).toMap
    (1 to k).foreach { _ =>
      val in = nodes.map { v =>
        v -> collapsed.filter(_._2 == v).map { case (s, _, w) =>
          math.round(ref(s) * w / wsum(s) * 1e9)
        }.sum
      }.toMap
      ref = nodes.map(v => v -> ((1.0 - d) / n + d * (in(v) / 1e9))).toMap
    }
    val got = Graphs.pageRank(edges.toDF("src", "dst", "w"), "src", "dst",
      iterations = k, damping = d, weightCol = Some("w"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.keySet == ref.keySet, "x drops with its zero-weight edge")
    nodes.foreach(v => assert(got(v) == ref(v),
      s"node $v: got ${got(v)}, want ${ref(v)}"))
    // the 4:3 split is the only thing distinguishing b from c
    assert(got("b") > got("c"))
  }

  test("duplicate edges collapse; nulls drop; empty graph is loud") {
    val e = Seq(("a", "b"), ("a", "b"), ("b", "a"),
      (null.asInstanceOf[String], "x")).toDF("src", "dst")
    val pr = Graphs.pageRank(e, "src", "dst", iterations = 2)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // x only appears via the null-src edge, which drops — graph is {a, b}
    assert(pr.keySet == Set("a", "b"))
    assert(math.abs(pr("a") - pr("b")) < 1e-9)
    intercept[IllegalArgumentException] {
      Graphs.pageRank(Seq.empty[(String, String)].toDF("src", "dst"),
        "src", "dst")
    }
  }

  test("edge prep plans only hash-aggregate/join exchanges — every stage hub-splittable") {
    val e = Seq(("a", "b"), ("a", "b"), ("a", "c"), ("b", "c"))
      .toDF("src", "dst")
    Seq(None, Some("w")).foreach { wc =>
      val in = wc.map(c => e.withColumn(c, lit(1L))).getOrElse(e)
      val plan = Graphs.prepEdges(in, "src", "dst", wc)
        .queryExecution.executedPlan.toString
      // dedup agg + totals agg + totals join-back: at most three
      // exchanges, all hash-aggregate/join shapes that spread a hub
      // over hash(src, dst) partials or AQE skew splits — never a
      // window or src-only repartition that pins a hub to one task
      val shuffles = "Exchange hashpartitioning".r.findAllIn(plan).length
      assert(shuffles <= 3,
        s"edge prep (weighted=$wc) grew extra exchanges, got $shuffles:\n$plan")
      assert(!plan.contains("Window"),
        s"edge prep (weighted=$wc) must not window per source:\n$plan")
      assert(!plan.contains("Exchange rangepartitioning"),
        "no sort-based exchange expected in edge prep")
    }
  }

  test("personalizedPageRank matches a seed-restart reference; off-graph seeds loud") {
    val edges = Seq(
      ("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("d", "c"))
    val d = 0.85
    val k = 3
    val seeds = Seq("a", "zzz-not-in-graph") // only 'a' binds
    // reference: teleport mass restarts at the single in-graph seed
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val out = edges.groupBy(_._1).map { case (s, es) => s -> es.length }
    val seedSet = seeds.toSet.intersect(nodes.toSet)
    var pr = nodes.map(v =>
      v -> (if (seedSet(v)) 1.0 / seedSet.size else 0.0)).toMap
    (1 to k).foreach { _ =>
      val in = nodes.map { v =>
        v -> edges.filter(_._2 == v).map { case (s, _) =>
          math.round(pr(s) / out(s) * 1e9)
        }.sum
      }.toMap
      pr = nodes.map(v => v ->
        ((if (seedSet(v)) (1.0 - d) / seedSet.size else 0.0)
          + d * (in(v) / 1e9))).toMap
    }
    val got = Graphs.personalizedPageRank(edges.toDF("src", "dst"),
      "src", "dst", seeds.toDF("node"), "node",
      iterations = k, damping = d)
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(got.keySet == pr.keySet)
    nodes.foreach(v =>
      assert(got(v) == pr(v), s"node $v: got ${got(v)}, want ${pr(v)}"))
    // mass concentrates near the seed's neighborhood; the dangling-in
    // node d gets exactly zero (no teleport, no in-edges)
    assert(got("d") == 0.0)
    assert(got("a") > got("d") && got("b") > 0.0 && got("c") > 0.0)
    // all seeds off-graph -> loud
    intercept[IllegalArgumentException] {
      Graphs.personalizedPageRank(edges.toDF("src", "dst"), "src", "dst",
        Seq("nope").toDF("node"), "node")
    }
  }

  test("triangleCounts: hand-counted triangles, hubs without closure count zero") {
    import spark.implicits._
    // K4 on {a,b,c,d} = 4 triangles, each node in 3; a star center s with
    // leaves x,y,z closes nothing; duplicate + reversed edges collapse
    val edges = Seq(
      ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d"),
      ("b", "a"), ("a", "b"), // dup + reverse
      ("s", "x"), ("s", "y"), ("s", "z")).toDF("src", "dst")
    val out = Graphs.triangleCounts(edges, "src", "dst")
      .collect().map(r => r.getString(0) -> r.getAs[Long]("triangles")).toMap
    assert(out == Map("a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L),
      s"K4 members close 3 each; star nodes close none: $out")
    // total triangles = sum/3 = 4
    assert(out.values.sum / 3 == 4L)
    // self-loops are ignored
    val withLoop = edges.union(Seq(("a", "a")).toDF("src", "dst"))
    val loop = Graphs.triangleCounts(withLoop, "src", "dst")
      .collect().map(r => r.getString(0) -> r.getAs[Long]("triangles")).toMap
    assert(loop == out)
  }

  test("clusteringCoefficients: clique pegs 1, star center 0, degree-1 leaves 0") {
    import spark.implicits._
    val edges = Seq(
      ("a", "b"), ("a", "c"), ("b", "c"), // triangle abc
      ("c", "d"),                          // pendant
      ("s", "x"), ("s", "y"), ("s", "z")). // star
      toDF("src", "dst")
    val out = Graphs.clusteringCoefficients(edges, "src", "dst")
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("degree"), r.getAs[Long]("triangles"),
          r.getAs[Double]("cc"))).toMap
    assert(out("a") == ((2L, 1L, 1.0)) && out("b") == ((2L, 1L, 1.0)))
    // c: degree 3 (a, b, d), 1 triangle -> 2·1/(3·2) = 0.333333
    assert(out("c") == ((3L, 1L, 0.333333)))
    assert(out("d") == ((1L, 0L, 0.0)), "degree-1 defines cc = 0")
    assert(out("s") == ((3L, 0L, 0.0)), "star center closes nothing")
    assert(out.size == 8)
  }

  test("kCore: cascading peel reaches the fixpoint; chains unravel, cores survive") {
    import spark.implicits._
    // triangle abc anchors a 2-core; chain c-d-e must unravel in CASCADE
    // (e first, then d — two peeling rounds)
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"))
      .toDF("src", "dst")
    val core2 = Graphs.kCore(edges, "src", "dst", k = 2)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("degree")).toMap
    assert(core2 == Map("a" -> 2L, "b" -> 2L, "c" -> 2L),
      s"the chain must unravel completely: $core2")
    // no 3-core exists
    assert(Graphs.kCore(edges, "src", "dst", k = 3).count() == 0)
    // k=1 keeps every non-isolated node at its simple-graph degree
    val core1 = Graphs.kCore(edges, "src", "dst", k = 1)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("degree")).toMap
    assert(core1 == Map("a" -> 2L, "b" -> 2L, "c" -> 3L, "d" -> 2L, "e" -> 1L))
    intercept[IllegalArgumentException](Graphs.kCore(edges, "src", "dst", 0))
  }

  test("hits: hubs and authorities separate; scores L1-normalize; no leaks") {
    import spark.implicits._
    // h1 points at both authorities, h2 at one; pure sources have
    // authority 0, pure sinks have hub 0
    val edges = Seq(("h1", "a1"), ("h1", "a2"), ("h2", "a1"),
      ("h1", "a1") /* dup collapses */).toDF("src", "dst")
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val out = Graphs.hits(edges, "src", "dst", iterations = 3)
    val m = out.collect().map(r => r.getString(0) ->
      (r.getAs[Double]("hub"), r.getAs[Double]("authority"))).toMap
    assert(m("h1")._1 > m("h2")._1, "h1 links more authority mass")
    assert(m("a1")._2 > m("a2")._2, "a1 is pointed at by more hub mass")
    assert(m("a1")._1 == 0.0 && m("a2")._1 == 0.0, "sinks have hub 0")
    assert(m("h1")._2 == 0.0 && m("h2")._2 == 0.0, "sources have authority 0")
    val hubSum = m.values.map(_._1).sum
    val authSum = m.values.map(_._2).sum
    assert(math.abs(hubSum - 1.0) < 1e-5 && math.abs(authSum - 1.0) < 1e-5,
      s"L1 normalization: $hubSum / $authSum")
    graft.core.Caches.releaseCheckpoint(out)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "hits must not leak pins/checkpoints")
    intercept[IllegalArgumentException](
      Graphs.hits(edges.where($"src" === "zz"), "src", "dst"))
  }

  test("coreness: full decomposition equals per-k membership; equals a reference peel") {
    import spark.implicits._
    // K4 {a,b,c,d} (coreness 3) + chain d-p-q (coreness 1) + triangle
    // hanging off p: {p,r,t} (coreness 2)
    val edges = Seq(
      ("a", "b"), ("a", "c"), ("a", "d"), ("b", "c"), ("b", "d"), ("c", "d"),
      ("d", "p"), ("p", "q"),
      ("p", "r"), ("r", "t"), ("t", "p")).toDF("src", "dst")
    val out = Graphs.coreness(edges, "src", "dst")
      .collect().map(r => r.getString(0) -> r.getAs[Long]("coreness")).toMap
    assert(out == Map(
      "a" -> 3L, "b" -> 3L, "c" -> 3L, "d" -> 3L,
      "p" -> 2L, "r" -> 2L, "t" -> 2L,
      "q" -> 1L), s"unexpected decomposition: $out")
    // consistency with kCore membership at every k
    (1 to 3).foreach { k =>
      val members = Graphs.kCore(edges, "src", "dst", k)
        .select("node").as[String].collect().toSet
      val expect = out.filter(_._2 >= k).keySet
      assert(members == expect, s"k=$k: $members != $expect")
    }
    // one disjoint union of graph families (ids prefixed per graph), so
    // one Spark call covers them all, against the plain-Scala peel
    val rnd = new scala.util.Random(7)
    def erdosRenyi(n: Int, p: Double) =
      for (i <- 0 until n; j <- i + 1 until n if rnd.nextDouble() < p)
        yield (s"$i", s"$j")
    def barabasiAlbert(n: Int, m: Int) = {
      val ends = scala.collection.mutable.ArrayBuffer.empty[Int]
      val out = scala.collection.mutable.ArrayBuffer.empty[(String, String)]
      for (i <- 0 to m; j <- 0 until i) { out += ((s"$i", s"$j")); ends ++= Seq(i, j) }
      (m + 1 until n).foreach { i =>
        val targets = scala.collection.mutable.LinkedHashSet.empty[Int]
        while (targets.size < m) targets += ends(rnd.nextInt(ends.size))
        targets.foreach { t => out += ((s"$i", s"$t")); ends ++= Seq(i, t) }
      }
      out.toSeq
    }
    def clique(ids: Seq[String]) =
      for (i <- ids.indices; j <- i + 1 until ids.size) yield (ids(i), ids(j))
    def path(ids: Seq[String]) = ids.zip(ids.tail)
    val families: Seq[(String, Seq[(String, String)])] = Seq(
      "er_sparse" -> erdosRenyi(30, 0.08),
      "er_mid" -> erdosRenyi(30, 0.2),
      "er_dense" -> erdosRenyi(30, 0.35),
      "ba2" -> barabasiAlbert(60, 2),
      "ba3" -> barabasiAlbert(60, 3),
      "path30" -> path((0 until 30).map(_.toString)),
      "star" -> (1 to 12).map(i => ("hub", s"l$i")),
      "k6" -> clique((1 to 6).map(_.toString)),
      "k5_chain" -> (clique((1 to 5).map(_.toString)) ++
        path(Seq("5", "c1", "c2", "c3"))),
      "two_k4" -> (clique(Seq("a1", "a2", "a3", "a4")) ++
        clique(Seq("b1", "b2", "b3", "b4")) ++ path(Seq("a4", "p1", "p2", "b1"))),
      "messy" -> Seq(("x", "y"), ("y", "x"), ("x", "y"), ("y", "z"), ("z", "x"),
        ("z", "z"), ("w", "w"), (null, "x"), ("y", null), (null, null), ("z", "v")))
    val union = families.flatMap { case (g, es) =>
      def id(v: String) = if (v == null) null else s"$g:$v"
      es.map { case (x, y) => (id(x), id(y)) }
    }
    val unionDf = union.toDF("src", "dst")
    val want = referenceCoreness(union)
    val got = Graphs.coreness(unionDf, "src", "dst")
      .collect().map(r => r.getString(0) -> r.getAs[Long]("coreness")).toMap
    assert(got == want, s"coreness differs from the peel at " +
      (got.keySet ++ want.keySet).filter(v => got.get(v) != want.get(v)).take(5)
        .map(v => s"$v: ${got.get(v)} vs ${want.get(v)}").mkString(", "))
    // every k-core: membership and in-core degree, and one empty level
    val adj = simpleAdjacency(union)
    (1L to want.values.max + 1).foreach { k =>
      val members = want.filter(_._2 >= k).keySet
      val wantK = members.map(v => v -> adj(v).count(members).toLong).toMap
      val gotK = Graphs.kCore(unionDf, "src", "dst", k.toInt)
        .collect().map(r => r.getString(0) -> r.getAs[Long]("degree")).toMap
      assert(gotK == wantK, s"k=$k: ${gotK.size} members vs ${wantK.size}")
    }
  }

  /** The simple undirected graph of `edges`: NULL endpoints and
    * self-loops drop, duplicate and reversed edges collapse. */
  private def simpleAdjacency(edges: Seq[(String, String)]): Map[String, Set[String]] =
    edges.collect { case (x, y) if x != null && y != null && x != y => Seq(x -> y, y -> x) }
      .flatten.groupBy(_._1).map { case (v, es) => v -> es.map(_._2).toSet }

  /** Reference coreness: the textbook ascending peel — at level k remove,
    * cascading, every node of degree ≤ k; the removed have coreness k. */
  private def referenceCoreness(edges: Seq[(String, String)]): Map[String, Long] = {
    val adj = scala.collection.mutable.Map.empty[String, scala.collection.mutable.Set[String]]
    simpleAdjacency(edges).foreach { case (v, ns) => adj(v) = scala.collection.mutable.Set(ns.toSeq: _*) }
    val ref = scala.collection.mutable.Map.empty[String, Long]
    var k = 1L
    while (adj.nonEmpty) {
      var changed = true
      while (changed) {
        val toDrop = adj.filter(_._2.size <= k).keys.toSeq
        changed = toDrop.nonEmpty
        toDrop.foreach { v =>
          ref(v) = k
          adj(v).foreach(u => adj.get(u).foreach(_ -= v))
          adj.remove(v)
        }
      }
      k += 1
    }
    ref.toMap
  }

  test("degreeAssortativity: star is -1, regular cycle has no variance (null)") {
    import spark.implicits._
    val star = Seq(("s", "x"), ("s", "y"), ("s", "z")).toDF("src", "dst")
    val r = Graphs.degreeAssortativity(star, "src", "dst").collect().head
    assert(r.getAs[Long]("n_edges") == 3L)
    assert(r.getAs[Double]("assortativity") == -1.0,
      "a star is maximally disassortative")
    val cycle = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("d", "a"))
      .toDF("src", "dst")
    val rc = Graphs.degreeAssortativity(cycle, "src", "dst").collect().head
    assert(rc.getAs[Long]("n_edges") == 4L)
    assert(rc.isNullAt(rc.fieldIndex("assortativity")),
      "degree-regular graphs have zero variance -> null")
  }

  test("kHopReachability: min-hop BFS with early exit, cycles, off-graph seeds") {
    import spark.implicits._
    // a -> b -> c -> a (cycle), c -> d, e isolated-from-seeds, plus a
    // SHORTCUT a -> d that must win the min-hop race (1 vs 3)
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"),
      ("a", "d"), ("x", "e")).toDF("src", "dst")
    val out = Graphs.kHopReachability(edges, "src", "dst",
      Seq("a").toDF("seed"), "seed", maxHops = 5)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("hops")).toMap
    assert(out == Map("a" -> 0L, "b" -> 1L, "d" -> 1L, "c" -> 2L),
      s"unexpected reachability: $out")
    // hop budget truncates: maxHops = 1 sees only direct successors
    val one = Graphs.kHopReachability(edges, "src", "dst",
      Seq("a").toDF("seed"), "seed", maxHops = 1)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("hops")).toMap
    assert(one == Map("a" -> 0L, "b" -> 1L, "d" -> 1L))
    // an off-graph seed reports itself at hops 0 and reaches nothing
    val off = Graphs.kHopReachability(edges, "src", "dst",
      Seq("zz").toDF("seed"), "seed", maxHops = 3)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("hops")).toMap
    assert(off == Map("zz" -> 0L))
    // empty seed set is loud; checkpoints do not leak
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[IllegalArgumentException] {
      Graphs.kHopReachability(edges, "src", "dst",
        Seq.empty[String].toDF("seed"), "seed", 2)
    }
    val res = Graphs.kHopReachability(edges, "src", "dst",
      Seq("a").toDF("seed"), "seed", 5)
    res.collect()
    graft.core.Caches.releaseCheckpoint(res)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "kHopReachability must not leak pins/checkpoints")
  }

  test("shortestPaths: weighted relaxation, round bounds, min-collapsed parallel edges, loud paths") {
    import spark.implicits._
    // a→b(5), a→c(2), c→b(1), b→d(1), c→d(10); plus a parallel a→c(7)
    // that the (src,dst)-min prep must collapse to 2
    val edges = Seq(("a", "b", 5L), ("a", "c", 2L), ("c", "b", 1L),
      ("b", "d", 1L), ("c", "d", 10L), ("a", "c", 7L)).toDF("src", "dst", "w")
    def run(k: Int, seed: String = "a") =
      Graphs.shortestPaths(edges, "src", "dst", "w",
        Seq(seed).toDF("seed"), "seed", maxRounds = k)
        .collect().map(r => r.getString(0) -> r.getAs[Long]("dist")).toMap
    // converged: b via a→c→b (3), d via a→c→b→d (4)
    assert(run(5) == Map("a" -> 0L, "b" -> 3L, "c" -> 2L, "d" -> 4L))
    // round bound = min over paths of ≤ k edges, exactly
    assert(run(1) == Map("a" -> 0L, "b" -> 5L, "c" -> 2L))
    assert(run(2) == Map("a" -> 0L, "b" -> 3L, "c" -> 2L, "d" -> 6L))
    // off-graph seed: itself at 0
    assert(run(3, seed = "zz") == Map("zz" -> 0L))
    // zero-weight cycle terminates (strict-improvement frontier drains)
    val cyc = Seq(("a", "b", 0L), ("b", "a", 0L)).toDF("src", "dst", "w")
    val c = Graphs.shortestPaths(cyc, "src", "dst", "w",
      Seq("a").toDF("seed"), "seed", maxRounds = 50)
      .collect().map(r => r.getString(0) -> r.getAs[Long]("dist")).toMap
    assert(c == Map("a" -> 0L, "b" -> 0L))
    // loud: negative weights, empty seeds; nothing leaks either way
    val before = spark.sparkContext.getPersistentRDDs.keySet
    intercept[IllegalArgumentException] {
      Graphs.shortestPaths(Seq(("a", "b", -1L)).toDF("src", "dst", "w"),
        "src", "dst", "w", Seq("a").toDF("seed"), "seed", 3)
    }
    intercept[IllegalArgumentException] {
      Graphs.shortestPaths(edges, "src", "dst", "w",
        Seq.empty[String].toDF("seed"), "seed", 3)
    }
    val res = Graphs.shortestPaths(edges, "src", "dst", "w",
      Seq("a").toDF("seed"), "seed", 5)
    res.collect()
    graft.core.Caches.releaseCheckpoint(res)
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "shortestPaths must not leak pins/checkpoints")
  }

  test("stronglyConnectedComponents equals a Tarjan reference on planted and pseudorandom graphs") {
    import spark.implicits._
    // single-node Tarjan (iterative, explicit stack) as ground truth
    def tarjan(edges: Seq[(String, String)]): Map[String, String] = {
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
        .withDefaultValue(Seq.empty)
      val index = scala.collection.mutable.Map.empty[String, Int]
      val low = scala.collection.mutable.Map.empty[String, Int]
      val onStack = scala.collection.mutable.Set.empty[String]
      val stack = scala.collection.mutable.Stack.empty[String]
      val scc = scala.collection.mutable.Map.empty[String, String]
      var counter = 0
      def strongconnect(v0: String): Unit = {
        // explicit work stack: (node, child iterator)
        val work = scala.collection.mutable.Stack[(String, Iterator[String])]()
        def push(v: String): Unit = {
          index(v) = counter; low(v) = counter; counter += 1
          stack.push(v); onStack += v
          work.push((v, adj(v).iterator))
        }
        push(v0)
        while (work.nonEmpty) {
          val (v, it) = work.top
          if (it.hasNext) {
            val w = it.next()
            if (!index.contains(w)) push(w)
            else if (onStack(w)) low(v) = math.min(low(v), index(w))
          } else {
            work.pop()
            if (work.nonEmpty)
              low(work.top._1) = math.min(low(work.top._1), low(v))
            if (low(v) == index(v)) {
              val comp = scala.collection.mutable.Buffer.empty[String]
              var w = ""
              while ({ w = stack.pop(); onStack -= w; comp += w; w != v }) ()
              val m = comp.min
              comp.foreach(scc(_) = m)
            }
          }
        }
      }
      nodes.foreach(v => if (!index.contains(v)) strongconnect(v))
      scc.toMap
    }
    def run(edges: Seq[(String, String)]): Map[String, String] =
      Graphs.stronglyConnectedComponents(edges.toDF("src", "dst"),
        "src", "dst")
        .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // planted: two cycles bridged one-way, a tendril, a self-loop
    val planted = Seq(("a", "b"), ("b", "c"), ("c", "a"), // scc {a,b,c}
      ("c", "d"), ("d", "e"), ("e", "d"),                 // scc {d,e}
      ("e", "f"),                                          // f singleton
      ("g", "g"),                                          // self-loop
      ("h", "a"))                                          // h singleton into the cycle
    assert(run(planted) == tarjan(planted))
    // a one-way pair must NOT merge (the weakly-connected trap)
    assert(run(Seq(("x", "y"))) == Map("x" -> "x", "y" -> "y"))
    // pseudorandom digraphs vs Tarjan, fixed seeds
    Seq(7, 23, 99).foreach { seed =>
      val rnd = new scala.util.Random(seed)
      val es = (1 to 60).map(_ =>
        (s"n${rnd.nextInt(18)}", s"n${rnd.nextInt(18)}"))
      assert(run(es) == tarjan(es), s"seed $seed diverged")
    }
    // nothing leaks either way
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val res = Graphs.stronglyConnectedComponents(
      planted.toDF("src", "dst"), "src", "dst")
    res.collect()
    graft.core.Caches.releaseCheckpoint(res)
    // loud phase bound: a 6-link path needs ~6 peel phases
    intercept[IllegalStateException] {
      Graphs.stronglyConnectedComponents(
        (1 to 6).map(i => (s"p$i", s"p${i + 1}")).toDF("src", "dst"),
        "src", "dst", maxPhases = 2)
    }
    assert((spark.sparkContext.getPersistentRDDs.keySet -- before).isEmpty,
      "SCC must not leak pins/checkpoints")
  }

  test("checkpoint-rotating operators leak nothing on success or on a loud failure") {
    val e = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"), ("d", "e"),
      ("e", "c")).toDF("src", "dst")
    val empty = e.where($"src" === "zz")
    // fails the first job that evaluates an edge
    val poisoned = e.withColumn("dst",
      when($"src" === "d", raise_error(lit("poisoned edge")))
        .otherwise($"dst"))
    def pinned = spark.sparkContext.getPersistentRDDs.keySet.toSet
    // (operator, success run, loud-failure run)
    val cases = Seq[(String, () => DataFrame, () => DataFrame)](
      ("pageRank", () => Graphs.pageRank(e, "src", "dst", iterations = 5),
        () => Graphs.pageRank(empty, "src", "dst")),
      ("kCore", () => Graphs.kCore(e, "src", "dst", 2),
        () => Graphs.kCore(poisoned, "src", "dst", 2)),
      ("coreness", () => Graphs.coreness(e, "src", "dst"),
        () => Graphs.coreness(poisoned, "src", "dst")),
      ("labelPropagationCommunities",
        () => Graphs.labelPropagationCommunities(e, "src", "dst"),
        () => Graphs.labelPropagationCommunities(poisoned, "src", "dst")),
      ("louvainCommunities",
        () => Graphs.louvainCommunities(e, "src", "dst"),
        () => Graphs.louvainCommunities(empty, "src", "dst")))
    cases.foreach { case (name, ok, loud) =>
      val before = pinned
      val (out, pins) = graft.core.Caches.collectPins(ok())
      assert(out.count() > 0L, s"$name: empty result")
      pins.release()
      assert((pinned -- before).isEmpty, s"$name leaked on success")
      intercept[Exception](loud())
      assert((pinned -- before).isEmpty, s"$name leaked on a loud failure")
    }
  }

  test("kHopEdges is hub-skew-safe: pair-keyed hash-aggregate dedup, no src-only exchange, exact on a planted mega-hub") {
    import spark.implicits._
    // a 100k-out-degree hub: a repartition(__s) would drag its whole
    // edge list into ONE task that AQE cannot split (bare exchanges are
    // unsplittable); the pair-keyed distinct spreads it over
    // hash(src, dst) with map-side partials
    val hub = (1 to 100000).map(i => ("hub", s"d$i"))
    val rest = Seq(("a", "b"), ("b", "c"), ("a", "b")) // dup collapses
    val edges = (hub ++ rest).toDF("src", "dst")
    val prepped = Graphs.kHopEdges(edges, "src", "dst")
    val plan = prepped.queryExecution.executedPlan.toString
    // no src-only exchange of any kind: the single shuffle is the
    // pair-keyed dedup aggregate, which AQE can split
    assert(!plan.contains("REPARTITION_BY_COL"),
      s"bare repartition pins the hub to one unsplittable task:\n$plan")
    val srcOnly = "hashpartitioning\\(__s#\\d+, \\d+\\)".r
      .findAllIn(plan).length
    assert(srcOnly == 0,
      s"src-only exchange pins the hub to one task:\n$plan")
    assert("hashpartitioning\\(__s#\\d+, __d#\\d+".r
      .findFirstIn(plan).nonEmpty,
      s"dedup must exchange on BOTH keys:\n$plan")
    assert(plan.contains("HashAggregate") && !plan.contains("Window"),
      s"dedup must be a hash aggregate:\n$plan")
    assert(prepped.count() == 100002L, "dup edge must collapse")
    // BFS across the hub stays exact
    val out = Graphs.kHopReachability(edges, "src", "dst",
      Seq("hub").toDF("seed"), "seed", maxHops = 1)
    assert(out.count() == 100001L)
    graft.core.Caches.releaseCheckpoint(out)
  }

  test("graph family survives a planted 100k-degree hub: scc/adamicAdar/harmonic/randomWalks exact, no hub-pinning plan shape") {
    import spark.implicits._
    // regression net for every kHopEdges consumer (round-11/12 additions
    // ride the same prep): a 100k-out-degree hub must flow through
    // hash-aggregate/join exchanges only — a per-source Window, a bare
    // repartition(src), or a cartesian would pin its edge list into ONE
    // unsplittable task (randomWalks' old rank-indexed pick did exactly
    // that; this spec keeps it out)
    val n = 100000
    val star = spark.range(1, n + 1)
      .selectExpr("'hub' AS src", "concat('l', id) AS dst")
    // every executed plan during the consumer runs is captured and
    // swept for the pin patterns
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = plans.add(qe.executedPlan.toString)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      // --- randomWalks: the hub's first step replays the rendezvous
      // argmin over all 100k neighbors, computed independently here
      val walks = Graphs.randomWalks(star, "src", "dst",
        walksPerNode = 1, walkLength = 2, seed = "hubspec")
      val hubStep1 = walks.where(col("origin") === "hub" && col("step") === 1)
        .collect().map(_.getAs[String]("node")).toSeq
      val nbrs = (1 to n).map(i => s"l$i")
      assert(hubStep1 == Seq(walkPick("hubspec", "hub", 0, 0, "hub", nbrs)))
      // leaves have no out-edges: the only walk rows are the hub's
      // (step 0 start + step 1 pick; step 2 dead-ends at a leaf)
      assert(walks.count() == 2L)
      graft.core.Caches.releaseCheckpoint(walks)

      // --- harmonicCentrality: hub seed reaches every leaf at hop 1
      val harm = Graphs.harmonicCentrality(star, "src", "dst",
        Seq("hub").toDF("seed"), "seed", maxHops = 1)
      val stats = harm.agg(count(lit(1)), min("harmonic_micros"),
        max("harmonic_micros"), min("n_sources"), max("n_sources")).head()
      assert(stats.getLong(0) == n.toLong)
      assert(stats.getLong(1) == 1000000L && stats.getLong(2) == 1000000L)
      assert(stats.getLong(3) == 1L && stats.getLong(4) == 1L)
      graft.core.Caches.releaseCheckpoint(harm)

      // --- adamicAdar: the hub is excluded BY CONTRACT (deg > maxDegree)
      // from wedge centers AND from the Jaccard neighborhoods, so the
      // star contributes nothing; the planted motif (u, v sharing z1-z3,
      // u also touching the hub) is the only prediction — and its
      // Jaccard denominator must NOT count u's hub neighbor
      val motif = Seq(("u", "z1"), ("u", "z2"), ("u", "z3"),
        ("v", "z1"), ("v", "z2"), ("v", "z3"), ("u", "hub")).toDF("src", "dst")
      val aa = Graphs.adamicAdar(star.unionByName(motif), "src", "dst",
        maxDegree = 100L)
      val got = aa.collect().map(r => (r.getAs[String]("node_a"),
        r.getAs[String]("node_b")) -> ((r.getAs[Long]("n_common"),
        r.getAs[Long]("aa_nanos"), r.getAs[Long]("ra_nanos"),
        r.getAs[Long]("jaccard_micros")))).toMap
      val aaU = math.round(1e9 / math.log(4.0)) // wedge center u, deg 4
      val aaV = math.round(1e9 / math.log(3.0)) // wedge center v, deg 3
      val aaZ = math.round(1e9 / math.log(2.0)) // wedge centers z_i, deg 2
      // consistent cap throughout: the hub NEVER counts — not as a
      // wedge center (deg 100001 > 100) and not in any Jaccard
      // neighborhood (da(u) = 3, not 4, so (u,v) reads 1000000, not
      // 750000; (hub,z_i)'s denominator is the hub's 100001 SUB-CAP
      // leaf+u neighbors, giving round(1e6/100002) = 10)
      val zPair = ((2L, aaU + aaV, 250000000L + 333333333L, 1000000L))
      val hubZ = ((1L, aaU, 250000000L,
        math.round(1000000.0 / (100001 + 2 - 1))))
      assert(got == Map(
        ("u", "v") -> ((3L, 3 * aaZ, 1500000000L, 1000000L)),
        ("z1", "z2") -> zPair, ("z1", "z3") -> zPair, ("z2", "z3") -> zPair,
        ("hub", "z1") -> hubZ, ("hub", "z2") -> hubZ, ("hub", "z3") -> hubZ),
        got.toString)
      graft.core.Caches.releaseCheckpoint(aa)

      // --- sampledBetweenness: hub seed reaches 100k leaves at hop 1,
      // all dead ends — every leaf is a zero-betweenness observation
      val bt = Graphs.sampledBetweenness(star, "src", "dst",
        Seq("hub").toDF("seed"), "seed", maxHops = 2)
      val bstats = bt.agg(count(lit(1)), max("betweenness_micros"),
        min("n_seeds"), max("n_seeds")).head()
      assert(bstats.getLong(0) == n.toLong && bstats.getLong(1) == 0L)
      assert(bstats.getLong(2) == 1L && bstats.getLong(3) == 1L)
      graft.core.Caches.releaseCheckpoint(bt)

      // --- SCC: bidirectional star = ONE 100k+1-node component (the
      // fused F/B fixpoint crosses the hub both ways), plus a separate
      // 3-cycle; phases stay O(components), not O(degree)
      val bidi = star.unionByName(star.select(col("dst").as("src"),
        col("src").as("dst")))
      val cyc = Seq(("c1", "c2"), ("c2", "c3"), ("c3", "c1")).toDF("src", "dst")
      val scc = Graphs.stronglyConnectedComponents(
        bidi.unionByName(cyc), "src", "dst")
      val comps = scc.groupBy(col("scc"))
        .agg(count(lit(1)).as("sz")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(comps.values.toSeq.sorted == Seq(3L, (n + 1).toLong), comps.toString)
      graft.core.Caches.releaseCheckpoint(scc)
    } finally spark.listenerManager.unregister(listener)
    // flush the async listener bus: wait until no new plans arrive
    var last = -1
    var spins = 0
    while (plans.size() != last && spins < 20) {
      last = plans.size(); spins += 1; Thread.sleep(250)
    }
    assert(plans.size() > 0, "listener captured no plans — the net is dead")
    plans.forEach { p =>
      assert(!p.contains("Window"),
        s"a per-key window pins the hub to one task:\n$p")
      assert(!p.contains("CartesianProduct"),
        s"cartesian over the hub fan-out:\n$p")
      assert(!p.contains("REPARTITION_BY_COL"),
        s"bare repartition is AQE-unsplittable:\n$p")
    }
  }

  test("labelPropagationCommunities: two bridged cliques separate; deterministic; directed input symmetrized") {
    import spark.implicits._
    // {a,b,c} clique + {d,e,f} clique + one bridge c-d, each edge given
    // in ONE direction only (the operator symmetrizes). Hand-traced
    // three synchronous rounds: the cliques converge to separate labels
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"),
      ("d", "e"), ("d", "f"), ("e", "f"), ("c", "d"),
      ("a", "a")) // self-loop: dropped
      .toDF("src", "dst")
    def run() = Graphs.labelPropagationCommunities(edges, "src", "dst",
      iterations = 3)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    val out = run()
    assert(out == Map("a" -> "a", "b" -> "a", "c" -> "a",
      "d" -> "c", "e" -> "c", "f" -> "c"),
      s"hand-traced 3-round labels: $out")
    assert(out == run(), "fixed synchronous schedule must be deterministic")
    // round 1 alone: every node adopts its neighborhood's min label
    // (all neighbor labels are distinct in round 1 — pure tie-break)
    val one = Graphs.labelPropagationCommunities(edges, "src", "dst",
      iterations = 1)
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(one == Map("a" -> "b", "b" -> "a", "c" -> "a",
      "d" -> "c", "e" -> "d", "f" -> "d"), s"round-1 labels: $one")
    intercept[IllegalArgumentException](
      Graphs.labelPropagationCommunities(edges, "src", "dst", 0))
  }

  test("louvainCommunities: bridged cliques recovered, modularity >= LPA's, deterministic, loud guards") {
    import spark.implicits._
    // the LPA fixture: two triangles bridged by c-d (self-loop dropped)
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"),
      ("d", "e"), ("d", "f"), ("e", "f"), ("c", "d"),
      ("a", "a")).toDF("src", "dst")
    def run() = Graphs.louvainCommunities(edges, "src", "dst", rounds = 3)
    val out = run().collect().map(r => r.getString(0) -> r.getString(1)).toMap
    // the two cliques must land in two communities with the bridge cut
    val cliqueA = Set("a", "b", "c").map(out)
    val cliqueB = Set("d", "e", "f").map(out)
    assert(cliqueA.size == 1 && cliqueB.size == 1 && cliqueA != cliqueB,
      s"cliques must separate: $out")
    // every Louvain move provably raises Q — on the planted graph the
    // result must score >= the LPA partition (both reach the optimum
    // 2·178571429 nanos here, the modularity spec's hand value)
    val qLouvain = Graphs.modularity(edges, "src", "dst", run(),
      "node", "community").head().getAs[Long]("modularity_nanos")
    val lpa = Graphs.labelPropagationCommunities(edges, "src", "dst", 3)
    val qLpa = Graphs.modularity(edges, "src", "dst", lpa,
      "node", "community").head().getAs[Long]("modularity_nanos")
    assert(qLouvain >= qLpa, s"louvain $qLouvain < lpa $qLpa")
    assert(qLouvain == 2L * 178571429L, s"optimum expected, got $qLouvain")
    // where LPA's majority vote is blind, the gain objective is not: on
    // a 4-cycle with one chord, moves only happen when Q strictly rises,
    // so no oscillation — and the run is deterministic
    assert(run().collect().map(r => (r.getString(0), r.getString(1)))
      .sorted.toSeq ==
      run().collect().map(r => (r.getString(0), r.getString(1)))
        .sorted.toSeq)
    intercept[IllegalArgumentException](
      Graphs.louvainCommunities(edges, "src", "dst", rounds = 0))
    intercept[IllegalArgumentException](
      Graphs.louvainCommunities(edges.where(lit(false)), "src", "dst"))
  }

  test("modularity: two cliques + bridge hand-computed; singleton fill-in for unlabeled nodes; empty loud") {
    import spark.implicits._
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "c"),
      ("d", "e"), ("d", "f"), ("e", "f"), ("c", "d")).toDF("src", "dst")
    val comms = Seq(("a", "x"), ("b", "x"), ("c", "x"),
      ("d", "y"), ("e", "y"), ("f", "y")).toDF("node", "community")
    val out = Graphs.modularity(edges, "src", "dst", comms,
      "node", "community").collect().head
    // m=7; per community: ec=3, deg=7 -> term = 3/7 - (7/14)^2,
    // nanos = round(0.17857142857...e9) = 178571429, x2 communities
    assert(out.getAs[Long]("m") == 7L)
    assert(out.getAs[Long]("n_communities") == 2L)
    assert(out.getAs[Long]("modularity_nanos") == 2L * 178571429L,
      s"got ${out.getAs[Long]("modularity_nanos")}")
    // the LPA assignment on this graph reaches the same partition, so
    // the same score — composition the q_modularity oracle relies on
    val lpa = Graphs.labelPropagationCommunities(edges, "src", "dst", 3)
    val viaLpa = Graphs.modularity(edges, "src", "dst", lpa,
      "node", "community").collect().head
    assert(viaLpa.getAs[Long]("modularity_nanos") == 2L * 178571429L)
    // nodes missing from the assignment become singletons: labeling
    // only {a,b,c} leaves d,e,f as their own communities (all their
    // edges inter-community except none — each singleton has ec=0)
    val partial = Graphs.modularity(edges, "src", "dst",
      comms.where(col("community") === "x"), "node", "community")
      .collect().head
    assert(partial.getAs[Long]("n_communities") == 4L,
      s"x + three singletons, got ${partial.getAs[Long]("n_communities")}")
    intercept[IllegalArgumentException](
      Graphs.modularity(edges.where(lit(false)), "src", "dst", comms,
        "node", "community"))
  }

  test("prepEdges is hub-skew-safe: no per-source window, partial-aggregated totals, exact on a planted mega-hub") {
    import spark.implicits._
    // one mega-hub source fanning wide plus normal sources: at web scale
    // a hub's out-degree is 10⁸, so no stage may demand its whole edge
    // set in one task — that rules out repartition(__src) and a
    // per-source WINDOW (windows have no partial aggregation and AQE
    // cannot split them; a hash aggregate + join-back has/can)
    val hub = (1 to 5000).map(i => ("hub", s"d$i", 2.0))
    val rest = Seq(("a", "b", 1.0), ("a", "c", 3.0), ("b", "c", 5.0),
      ("a", "b", 1.0)) // duplicate edge: weights SUM
    val edges = (hub ++ rest).toDF("src", "dst", "w")
    val prepped = Graphs.prepEdges(edges, "src", "dst", Some("w"))
    val plan = prepped.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"per-source window would pin a hub's edges to one task:\n$plan")
    assert(plan.contains("partial_sum"),
      s"per-source totals must carry map-side partials:\n$plan")
    val wsums = prepped.select("__src", "__wsum").distinct().collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(wsums == Map("hub" -> 10000.0, "a" -> 5.0, "b" -> 5.0),
      s"unexpected per-source totals: $wsums")
    val ab = prepped.where(col("__src") === "a" && col("__dst") === "b")
      .select("__w").as[Double].collect().toSeq
    assert(ab == Seq(2.0), "duplicate edge weights must sum in the dedup")
    // unweighted twin: __wsum is the out-degree, same aggregate shape
    val un = Graphs.prepEdges(edges, "src", "dst", None)
    assert(!un.queryExecution.executedPlan.toString.contains("Window"))
    val unsums = un.select("__src", "__wsum").distinct().collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(unsums == Map("hub" -> 5000.0, "a" -> 2.0, "b" -> 1.0))
  }

  test("adamicAdar scores common neighbors, caps hubs, excludes existing") {
    // z adjacent to a,b,c (deg 3); w adjacent to a,b (deg 2); a-b direct
    val edges = Seq(("z", "a"), ("z", "b"), ("z", "c"),
      ("w", "a"), ("w", "b"), ("a", "b")).toDF("s", "d")
    val out = Graphs.adamicAdar(edges, "s", "d")
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))).toMap
    val via3 = math.round(1e9 / math.log(3.0)) // z's AA contribution
    val ra3 = math.round(1e9 / 3.0)
    // a-b exists -> excluded; (a,c) and (b,c) share z only.
    // deg: a=3 (z,w,b), b=3, c=1, z=3, w=2
    assert(!out.contains(("a", "b")))
    // jaccard(a,c) = 1 / (3 + 1 - 1)
    assert(out(("a", "c")) ==
      ((1L, via3, ra3, math.round(1000000.0 / 3))))
    assert(out(("b", "c")) ==
      ((1L, via3, ra3, math.round(1000000.0 / 3))))
    // (w, z) share a AND b (both deg 3); jaccard = 2/(2 + 3 - 2)
    assert(out(("w", "z")) ==
      ((2L, 2 * via3, 2 * ra3, math.round(2000000.0 / 3))))
    // keep existing pairs when asked
    val withExisting = Graphs.adamicAdar(edges, "s", "d",
      excludeExisting = false)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(withExisting.contains(("a", "b")))
    // hub cap: z (deg 3) over the cap -> its wedges vanish
    val capped = Graphs.adamicAdar(edges, "s", "d", maxDegree = 2)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(!capped.contains(("a", "c")) && !capped.contains(("b", "c")))
    intercept[IllegalArgumentException](
      Graphs.adamicAdar(edges, "s", "d", maxDegree = 1))
  }

  test("harmonicCentrality sums per-seed inverse hop distances exactly") {
    val path = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"),
      ("c", "d"), ("d", "c")).toDF("s", "d")
    val seeds = Seq("a", "d").toDF("seed")
    val out = Graphs.harmonicCentrality(path, "s", "d", seeds, "seed", 3)
      .collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    // a<->b<->c<->d: from a: b1 c2 d3; from d: c1 b2 a3
    assert(out("a") == ((1L, 333333L)))
    assert(out("b") == ((2L, 1500000L)))
    assert(out("c") == ((2L, 1500000L)))
    assert(out("d") == ((1L, 333333L)))
    // hop cap drops the far endpoints but keeps middles intact
    val capped = Graphs.harmonicCentrality(path, "s", "d", seeds, "seed", 2)
      .collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(!capped.contains("a") && !capped.contains("d"))
    assert(capped("b") == 1500000L && capped("c") == 1500000L)
    intercept[IllegalArgumentException](
      Graphs.harmonicCentrality(path, "s", "d", seeds.limit(0), "seed", 2))
    intercept[IllegalArgumentException](
      Graphs.harmonicCentrality(path, "s", "d", seeds, "seed", 0))
    val manySeeds = Seq.tabulate(65)(i => s"n$i").toDF("seed")
    assert(intercept[IllegalArgumentException](
      Graphs.harmonicCentrality(path, "s", "d", manySeeds, "seed", 2))
      .getMessage.contains("64"))
  }

  /** Single-node Brandes with the operator's exact quantization:
    * per-edge micro-rounded dependency contributions, LONG sums.
    */
  private def brandesRef(edges: Seq[(String, String)], seeds: Seq[String],
      maxHops: Int): Map[String, (Long, Long)] = {
    val adj = edges.distinct.groupBy(_._1)
      .view.mapValues(_.map(_._2).distinct).toMap
      .withDefaultValue(Seq.empty)
    val bet = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    val nSeeds = scala.collection.mutable.Map.empty[String, Long]
      .withDefaultValue(0L)
    for (s <- seeds.distinct) {
      val dist = scala.collection.mutable.Map(s -> 0)
      val sigma = scala.collection.mutable.Map(s -> 1.0)
      val levels = scala.collection.mutable.ArrayBuffer(Seq(s))
      var h = 1
      var frontier = Seq(s)
      while (frontier.nonEmpty && h <= maxHops) {
        val contrib = scala.collection.mutable.Map.empty[String, Double]
          .withDefaultValue(0.0)
        for (u <- frontier; w <- adj(u) if !dist.contains(w))
          contrib(w) += sigma(u)
        frontier = contrib.keys.toSeq.sorted
        frontier.foreach { w => dist(w) = h; sigma(w) = contrib(w) }
        if (frontier.nonEmpty) levels += frontier
        h += 1
      }
      val delta = scala.collection.mutable.Map.empty[String, Long]
        .withDefaultValue(0L)
      for (lvl <- (levels.length - 1) to 1 by -1;
           w <- levels(lvl);
           u <- levels(lvl - 1) if adj(u).contains(w))
        delta(u) += math.round(
          (sigma(u) / sigma(w)) * (1000000.0 + delta(w)))
      for (v <- dist.keys if dist(v) > 0) {
        bet(v) += delta(v)
        nSeeds(v) += 1L
      }
    }
    nSeeds.keys.map(v => v -> ((nSeeds(v), bet(v)))).toMap
  }

  test("sampledBetweenness equals the quantized Brandes reference; bridges dominate; loud contracts") {
    def run(edges: Seq[(String, String)], seeds: Seq[String],
        maxHops: Int = 8): Map[String, (Long, Long)] = {
      val out = Graphs.sampledBetweenness(edges.toDF("s", "d"), "s", "d",
        seeds.toDF("seed"), "seed", maxHops)
      val m = out.collect().map(r => r.getAs[String]("node") ->
        ((r.getAs[Long]("n_seeds"), r.getAs[Long]("betweenness_micros"))))
        .toMap
      graft.core.Caches.releaseCheckpoint(out)
      m
    }
    def sym(e: Seq[(String, String)]) = e ++ e.map(_.swap)
    // path a-b-c-d, all seeds: middles carry the traffic, ends are 0
    val path = sym(Seq(("a", "b"), ("b", "c"), ("c", "d")))
    val allSeeds = Seq("a", "b", "c", "d")
    val p = run(path, allSeeds)
    assert(p == brandesRef(path, allSeeds, 8), p.toString)
    assert(p("a")._2 == 0L && p("d")._2 == 0L)
    assert(p("b")._2 == p("c")._2 && p("b")._2 > 0L)
    // star: every leaf-to-leaf geodesic crosses the hub — from 2 leaf
    // seeds the hub accumulates 2 seeds x 3 other leaves x 1e6
    val star = sym((1 to 4).map(i => ("hub", s"l$i")))
    val st = run(star, Seq("l1", "l2"))
    assert(st == brandesRef(star, Seq("l1", "l2"), 8), st.toString)
    assert(st("hub") == ((2L, 6000000L)))
    // diamond a->{b,c}->d (directed): split dependency, sigma_d = 2
    val dia = Seq(("a", "b"), ("a", "c"), ("b", "d"), ("c", "d"))
    val di = run(dia, Seq("a"))
    assert(di == brandesRef(dia, Seq("a"), 8), di.toString)
    assert(di("b") == ((1L, 500000L)) && di("c") == ((1L, 500000L)))
    assert(di("d") == ((1L, 0L)))
    // pseudorandom digraphs vs the reference, fixed seeds
    Seq(5, 17).foreach { sd =>
      val rnd = new scala.util.Random(sd)
      val es = (1 to 50).map(_ =>
        (s"n${rnd.nextInt(14)}", s"n${rnd.nextInt(14)}"))
        .filter(e => e._1 != e._2)
      val seeds = Seq("n0", "n1", "n2")
      assert(run(es, seeds) == brandesRef(es, seeds, 8), s"seed $sd diverged")
    }
    // hop cap truncates the DAG consistently with the reference
    assert(run(path, Seq("a"), maxHops = 2) == brandesRef(path, Seq("a"), 2))
    // loud contracts
    intercept[IllegalArgumentException](run(path, Nil))
    intercept[IllegalArgumentException](run(path, allSeeds, maxHops = 0))
    intercept[IllegalArgumentException](
      run(path, (1 to 65).map(i => s"s$i")))
  }

  /** The documented rendezvous rule: argmin over neighbors of
    * sha256(seed:origin:walk:step:node:dst)'s first 15 hex digits,
    * ties to the smaller dst.
    */
  private def walkPick(seed: String, origin: String, walk: Int, step: Int,
      node: String, nbrs: Seq[String]): String =
    nbrs.map { d =>
      val hex = java.security.MessageDigest.getInstance("SHA-256")
        .digest(s"$seed:$origin:$walk:$step:$node:$d".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      (java.lang.Long.parseLong(hex.take(15), 16), d)
    }.min._2

  test("randomWalks replays the documented hash choices exactly") {
    val edges = Seq(("a", "b"), ("a", "c"), ("b", "a"), ("a", "b"))
      .toDF("s", "d")
    val out = Graphs.randomWalks(edges, "s", "d",
      walksPerNode = 2, walkLength = 3, seed = "t")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .toSet
    // distinct out-neighbors: a -> {b, c}, b -> {a}; c dead-ends
    val nbrs = Map("a" -> Vector("b", "c"), "b" -> Vector("a"))
    val expected = scala.collection.mutable.Set.empty[(String, Int, Int, String)]
    for (origin <- Seq("a", "b"); walk <- 0 until 2) {
      var node = origin
      expected += ((origin, walk, 0, node))
      var step = 0
      var alive = true
      while (step < 3 && alive) {
        nbrs.get(node) match {
          case Some(ns) =>
            node = walkPick("t", origin, walk, step, node, ns)
            expected += ((origin, walk, step + 1, node))
            step += 1
          case None => alive = false
        }
      }
    }
    assert(out == expected.toSet)
    // dead ends truncate: any trajectory row AT c is that walk's last
    val byWalk = out.groupBy(r => (r._1, r._2))
    byWalk.values.foreach { rows =>
      rows.filter(_._4 == "c").foreach { r =>
        assert(rows.map(_._3).max == r._3, "no step may follow a dead end")
      }
    }
  }

  test("randomWalks is partitioning-invariant and loud on bad bounds") {
    val edges = Seq.tabulate(60)(i =>
      (s"n${i % 12}", s"n${(i * 7 + 1) % 12}")).toDF("s", "d")
    val a = Graphs.randomWalks(edges.repartition(1), "s", "d",
      walksPerNode = 2, walkLength = 5).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .toSet
    val b = Graphs.randomWalks(edges.repartition(9), "s", "d",
      walksPerNode = 2, walkLength = 5).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getInt(2), r.getString(3)))
      .toSet
    assert(a == b)
    // every node has out-edges here, so no walk terminates early
    assert(a.count(_._3 == 5) == 12 * 2)
    intercept[IllegalArgumentException](
      Graphs.randomWalks(edges, "s", "d", walksPerNode = 0))
    intercept[IllegalArgumentException](
      Graphs.randomWalks(edges, "s", "d", walkLength = 0))
    intercept[IllegalArgumentException](
      Graphs.randomWalks(edges, "s", "d", seed = "a:b"))
  }
}
