package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.{Caches, Loop}

/** Iterative graph analytics over edge DataFrames — the operator class
  * (alongside [[Dedup.connectedComponents]]) for link-structure signals
  * in a crawl corpus: PageRank-style authority feeds per-domain quality
  * priors ([[Urls.registrableDomain]] gives the nodes; hyperlinks or
  * co-citation give the edges).
  *
  * Design for determinism ACROSS ENGINES, not just across runs: each
  * iteration's neighbor contributions are quantized to integer
  * nano-units (`round(pr/deg · 1e9)` as long) and summed as longs —
  * integer addition is order-free, so the result is bit-identical
  * whatever the partitioning, and bit-identical in any other engine
  * mirroring the same expressions (the DuckDB oracle unrolls the same
  * iterations). The 1e-9 quantization per edge per iteration is far
  * below anything a ranking consumer can observe; a double `sum()`
  * here would instead be partition-order-dependent in the last bits —
  * the class of float-flakiness this library eliminates everywhere
  * (BM25's sorted fold, the SCD micros discipline).
  *
  * Scale shape per iteration: one broadcast-or-shuffle join of edges
  * against the (node, pr) table, one groupBy on the destination —
  * map-side partial sums of longs — and a left join back to the node
  * set. Lineage is truncated with an eager localCheckpoint every 4th
  * iteration and after the last ([[graft.core.Loop.iterate]] releases
  * each as soon as the next is materialized), so `iterations` bounds
  * neither the plan depth nor analysis time.
  */
object Graphs {

  /** PageRank by power iteration. `edges` is a DIRECTED edge list
    * (duplicate edges are collapsed); rank mass flows src → dst with
    * uniform split over each source's out-edges — or, with `weightCol`,
    * proportionally to edge weight. Nodes = every id appearing as src
    * or dst. Returns (`node` string, `pr` double), summing to ~1 when
    * every node has an out-edge.
    *
    * Engine-exact reproducibility (the nano-unit story above) holds for
    * the unweighted form and for INTEGER-VALUED weights (counts — the
    * common case): their double sums are exact. Fractional weights sum
    * with ordinary FP order-sensitivity in the per-source totals.
    *
    * Dangling nodes (no out-edges) simply leak their damped mass — the
    * standard simplification; pass a symmetrized edge list (both
    * directions) or add self-loops for the strict-PageRank treatment.
    * One bounded driver scalar (the node count); everything else stays
    * distributed.
    */
  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 3,
      damping: Double = 0.85,
      weightCol: Option[String] = None): DataFrame = {
    require(iterations >= 1 && iterations <= 1000,
      s"iterations must be in 1..1000, got $iterations")
    require(damping > 0.0 && damping < 1.0,
      s"damping must be in (0, 1), got $damping")
    val eDeg = graft.core.Caches.pin(prepEdges(edges, srcCol, dstCol, weightCol))
    val nodes = graft.core.Caches.pin(nodesOf(eDeg))
    try {
      val n = nodes.count()
      require(n > 0, "pageRank: empty graph")
      // uniform form: every node teleports; reset and init are the same
      // scalar for all nodes (lit(x) and a column holding x are
      // bit-identical doubles, so this refactor changes no value)
      pageRankIterations(
        eDeg,
        nodes.withColumn("__reset", lit((1.0 - damping) / n))
          .withColumn("__init", lit(1.0 / n)),
        n, iterations, damping)
    }
    // finally, not success-path-only: the empty-graph require and any
    // mid-iteration failure would otherwise leak both session-lifetime
    // pins on every retry (the result is checkpointed — nothing
    // references the pins after return either way)
    finally { eDeg.unpersist(); nodes.unpersist() }
  }

  /** Personalized PageRank: teleport mass restarts at `seeds` instead of
    * everywhere — authority RELATIVE to a trusted set (curated quality
    * domains → a crawl-wide quality prior; a topic's hub pages → topical
    * authority). Same nano-unit engine-exact discipline, same per-
    * iteration shape as [[pageRank]]; only the reset/init columns
    * differ: seeds start with `1/|seeds∩nodes|` and receive the whole
    * `(1−d)` teleport share each step, non-seeds start at 0 and receive
    * none. Seeds that are not graph nodes carry no mass; loud when none
    * remain.
    */
  def personalizedPageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      seedCol: String,
      iterations: Int = 3,
      damping: Double = 0.85,
      weightCol: Option[String] = None): DataFrame = {
    require(iterations >= 1 && iterations <= 1000,
      s"iterations must be in 1..1000, got $iterations")
    require(damping > 0.0 && damping < 1.0,
      s"damping must be in (0, 1), got $damping")
    val eDeg = graft.core.Caches.pin(prepEdges(edges, srcCol, dstCol, weightCol))
    val seedSet = seeds
      .select(col(seedCol).cast("string").as("node"))
      .where(col("node").isNotNull).distinct()
      .withColumn("__s", lit(1))
    // seed flags ride the pinned node table so no iteration re-joins
    val flagged = graft.core.Caches.pin(
      nodesOf(eDeg).join(seedSet, Seq("node"), "left")
        .select(col("node"), coalesce(col("__s"), lit(0)).as("__s")))
    try {
      val nk = flagged.agg(count(lit(1)), coalesce(sum(col("__s")), lit(0L))).head()
      val k = nk.getLong(1)
      require(k > 0, "personalizedPageRank: no seed is a node of the graph")
      val isSeed = col("__s") === 1
      pageRankIterations(
        eDeg,
        flagged
          .withColumn("__reset",
            when(isSeed, lit((1.0 - damping) / k)).otherwise(lit(0.0)))
          .withColumn("__init",
            when(isSeed, lit(1.0 / k)).otherwise(lit(0.0)))
          .drop("__s"),
        nk.getLong(0), iterations, damping)
    } finally { eDeg.unpersist(); flagged.unpersist() }
  }

  /** [[kHopReachability]]'s edge dedup: a hash aggregate on BOTH keys
    * (`distinct` on the pair), so a mega-hub's edge list spreads over
    * hash(src, dst) with map-side partials and the one exchange is
    * AQE-splittable — never the `repartition(__s)` it replaces, which
    * dragged the hub's whole edge list into ONE task AQE cannot split.
    * No src layout is pre-built: each hop's frontier is orders of
    * magnitude smaller than the graph, so AQE broadcasts it and the
    * pinned edges never move at all; a frontier too big to broadcast
    * takes the sort-merge path, whose exchanges AQE skew-splits.
    */
  private[operators] def kHopEdges(
      edges: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame =
    edges.select(col(srcCol).cast("string").as("__s"),
      col(dstCol).cast("string").as("__d"))
      .where(col("__s").isNotNull && col("__d").isNotNull)
      .distinct()

  /** Weighted single-source(-set) shortest paths, bounded: the minimum
    * cost over directed paths of at most `maxRounds` edges from any
    * seed to each reachable node — the weighted upgrade of
    * [[kHopReachability]] (crawl-tier trust propagation where link
    * quality matters, not just link count; cheapest-transform chains in
    * a derivation graph).
    *
    * Algorithm: level-synchronous frontier Bellman–Ford. Round r
    * relaxes only edges out of nodes IMPROVED in round r−1, so work is
    * frontier-sized, and after round r the distance table is EXACTLY
    * `min over paths of ≤ r edges` (the textbook invariant — which is
    * what makes an unrolled-relaxation SQL oracle equal the operator
    * bit-for-bit). Early exit when a round improves nothing.
    *
    * Weights are cast to LONG and summed exactly — no float order
    * sensitivity (callers quantize fractional costs to integer units
    * first: the micro/nano discipline). Negative weights are REJECTED
    * loudly up front (one aggregate over the prepped edges):
    * Bellman–Ford tolerates them only globally-converged, and a
    * bounded-round result under negatives is not a shortest path.
    *
    * Prep follows the [[kHopEdges]] discipline: parallel edges
    * collapse to their MIN weight by a hash aggregate on (src, dst) —
    * map-side partials, mega-hub rows hash-spread, AQE-splittable, no
    * layout pin. Per round: one edge⋈frontier join, one min-aggregate
    * on dst, one join against the standing distances to keep strict
    * improvements, and one merged+checkpointed distance table
    * (previous checkpoint released immediately — plan depth and
    * analysis time stay O(1) in `maxRounds`).
    *
    * Returns `(node, dist)`; seeds at dist 0 whether or not they
    * appear in the edge list.
    */
  def shortestPaths(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: String,
      seeds: DataFrame,
      seedCol: String,
      maxRounds: Int): DataFrame = {
    require(maxRounds >= 1 && maxRounds <= 100,
      s"maxRounds must be in 1..100, got $maxRounds")
    val e = graft.core.Caches.pin(
      edges.select(col(srcCol).cast("string").as("__s"),
        col(dstCol).cast("string").as("__d"),
        col(weightCol).cast("long").as("__w"))
        .where(col("__s").isNotNull && col("__d").isNotNull &&
          col("__w").isNotNull)
        .groupBy("__s", "__d").agg(min(col("__w")).as("__w")))
    try {
      val minW = e.agg(min(col("__w"))).collect().head
      if (!minW.isNullAt(0) && minW.getLong(0) < 0L)
        throw new IllegalArgumentException(
          s"shortestPaths: negative edge weight ${minW.getLong(0)} — " +
            "bounded-round Bellman-Ford is only a shortest path under " +
            "non-negative weights; shift or reject them upstream")
      val dist0 = seeds
        .select(col(seedCol).cast("string").as("node"))
        .where(col("node").isNotNull).distinct()
        .withColumn("dist", lit(0L))
        .localCheckpoint(true)
      // the frontier rotates beside the distance table; round 1's is the
      // seed table itself, which the distance loop (not this block) holds
      Caches.holding { held =>
        var frontier = dist0
        Loop.iterate(dist0, rounds = maxRounds) { (dist, r) =>
          if (r == 1 && dist.limit(1).count() == 0)
            throw new IllegalArgumentException("shortestPaths: no seeds")
          val improved = e
            .join(frontier.select(col("node").as("__s"),
              col("dist").as("__fd")), "__s")
            .select(col("__d").as("node"), (col("__fd") + col("__w")).as("__cand"))
            .groupBy("node").agg(min(col("__cand")).as("__cand"))
            .join(dist.select(col("node"), col("dist").as("__old")),
              Seq("node"), "left")
            .where(col("__old").isNull || col("__cand") < col("__old"))
            .select(col("node"), col("__cand").as("dist"))
          val nextFrontier = held(improved)
          held.release(frontier)
          frontier = nextFrontier
          if (frontier.limit(1).count() == 0) None
          else Some(dist.unionByName(frontier)
            .groupBy("node").agg(min(col("dist")).as("dist")))
        }
      }
    } finally e.unpersist()
  }

  /** Minimum-hop reachability from a seed set (bounded BFS): every node
    * within `maxHops` directed hops of any seed, with its minimum hop
    * distance — crawl-frontier scoring (distance from the trusted tier),
    * contamination blast-radius ("everything within 2 links of the eval
    * set"), neighborhood expansion for graph dedup.
    *
    * Per hop: one edge⋈frontier join, one distinct, one anti-join
    * against the visited set — frontier-sized, not graph-sized, work
    * after the first hop on expander-like graphs. The edges are deduped
    * ONCE by a hash aggregate on BOTH keys ([[kHopEdges]] — map-side
    * partials, a mega-hub's edge list spread over hash(src, dst), AQE-
    * splittable; a `repartition(src)` would pin the hub to ONE task and
    * AQE cannot split a bare exchange) and pinned; the per-hop join
    * shape is AQE's call — a small frontier broadcasts (the pinned
    * edges never move at all), a huge one takes the sort-merge path
    * whose exchange skew-split handles the hub. The visited set is
    * eagerly checkpointed per hop (released as soon as the next lands) so
    * `maxHops` bounds neither plan depth nor analysis time, and the loop
    * EXITS EARLY when a frontier empties. No driver state beyond the
    * frontier-empty flag.
    *
    * Deterministic trivially (set semantics, no floats). Seeds are
    * reported at hops 0 whether or not they appear in the edge list —
    * the caller's seed set is the caller's business.
    */
  def kHopReachability(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      seedCol: String,
      maxHops: Int): DataFrame = {
    require(maxHops >= 1 && maxHops <= 100,
      s"maxHops must be in 1..100, got $maxHops")
    val e = graft.core.Caches.pin(kHopEdges(edges, srcCol, dstCol))
    try {
      val visited0 = seeds
        .select(col(seedCol).cast("string").as("node"))
        .where(col("node").isNotNull).distinct()
        .withColumn("hops", lit(0L))
        .localCheckpoint(true)
      Loop.iterate(visited0, rounds = maxHops,
        // fixpoint probe on the fresh checkpoint: no node is new at hop h
        until = (visited, h, _) =>
          visited.where(col("hops") === h).limit(1).count() == 0) {
        (visited, h) =>
          // the loud empty-seed path — the loop releases the seed checkpoint
          if (h == 1 && visited.limit(1).count() == 0)
            throw new IllegalArgumentException("kHopReachability: no seeds")
          val frontier = visited.where(col("hops") === (h - 1))
          val next = e
            .join(frontier.select(col("node").as("__s")), "__s")
            .select(col("__d").as("node")).distinct()
            .join(visited.select("node"), Seq("node"), "left_anti")
            .withColumn("hops", lit(h.toLong))
          Some(visited.unionByName(next))
      }
    } finally e.unpersist()
  }

  /** Per-node triangle counts — the local-clustering signal (link-farm
    * and spam-ring detection in a crawl graph: organic neighborhoods
    * close triangles, manufactured link wheels close MANY, isolated
    * spray patterns close none).
    *
    * Compact-forward / degree orientation (Latapy 2008): every
    * undirected edge is oriented from its lower-(degree, id) endpoint
    * to the higher, wedges are enumerated only from each node's
    * OUT-neighbors, and a wedge (t1, t2) closes iff the oriented edge
    * t1→t2 exists (orientation is a total order, so that is the only
    * direction the closing edge can carry). Out-degrees are bounded by
    * graph arboricity — a celebrity node's million in-edges generate NO
    * wedges at the celebrity — which is what makes triangle counting
    * survive power-law graphs; the naive all-wedges join squares the
    * hub degree instead.
    *
    * Shapes: one distinct, one degree aggregate, two equi-joins, one
    * explode+count. Deterministic trivially (set semantics).
    */
  def triangleCounts(
      edges: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = {
    val und = undirectedEdges(edges, srcCol, dstCol)
    triangleCore(und, degreesOf(und))
  }

  /** Triangle listing over prepared canonical edges + degrees. The
    * oriented edge list is EAGERLY checkpointed: the plan reads it
    * three times (two wedge sides + the closure probe) and Spark does
    * not deduplicate common subplans across self-joins — without the
    * checkpoint a 100 TB edge list pays the distinct+degree prep three
    * times. Registered with [[graft.core.Caches]]; callers in
    * long-lived sessions release via a `collectPins` scope.
    */
  private def triangleCore(und: DataFrame, deg: DataFrame): DataFrame =
    Caches.holding { held =>
      // orient low (deg, id) -> high (deg, id); struct comparison is
      // lexicographic, exactly the total order we need
      val withDeg = und
        .join(deg.select(col("node").as("__a"), col("__deg").as("__da")), "__a")
        .join(deg.select(col("node").as("__b"), col("__deg").as("__db")), "__b")
      val oriented = held(withDeg.select(
        when(struct(col("__da"), col("__a")) < struct(col("__db"), col("__b")),
          struct(col("__a").as("s"), col("__b").as("t"),
            col("__db").as("dt")))
          .otherwise(struct(col("__b").as("s"), col("__a").as("t"),
            col("__da").as("dt"))).as("e"))
        .select(col("e.s").as("__s"), col("e.t").as("__t"), col("e.dt").as("__dt")))
      val wedges = oriented.as("e1")
        .join(oriented.as("e2"), col("e1.__s") === col("e2.__s") &&
          (struct(col("e1.__dt"), col("e1.__t")) <
            struct(col("e2.__dt"), col("e2.__t"))))
        .select(col("e1.__s").as("__w0"), col("e1.__t").as("__w1"),
          col("e2.__t").as("__w2"))
      val closed = wedges.join(
        oriented.select(col("__s").as("__w1"), col("__t").as("__w2")),
        Seq("__w1", "__w2"))
      closed
        .select(explode(array(col("__w0"), col("__w1"), col("__w2"))).as("node"))
        .groupBy("node").agg(count(lit(1)).as("triangles"))
    }

  /** The k-core of the undirected simple graph: the maximal subgraph in
    * which every node keeps degree ≥ k — the standard "peel away the
    * fluff" cleanup before graph signals (a crawl graph's 2-core drops
    * every dead-end chain; spam sprays vanish long before organic
    * communities). Returns the surviving `(node, degree)` rows, `degree`
    * counting member neighbours (empty when no k-core exists).
    *
    * [[coreness]]'s loop with every value capped at `k`: a node stays at
    * the cap exactly while ≥ k of its neighbours do, so the nodes at the
    * cap shrink round for round as the synchronous peel's survivors (a
    * chain anchored to a core unravels one link per round). The loop
    * ends when the count at the cap stops changing: the cascade depth
    * plus one round, and at least two (round 1 has no count to compare).
    */
  def kCore(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    hIndexLoop(edges, srcCol, dstCol, k, count(when(col("h") === k, 1)), _ => -1L)
      .where(col("h") === k).select(col("node"), col("__atCap").as("degree"))
  }

  /** Full coreness decomposition: every node's core NUMBER (the largest
    * k with the node inside the k-core) — the graph-cleanup dial in one
    * table instead of one [[kCore]] call per threshold. Isolated nodes
    * (no edges) do not appear, matching every other operator over edge
    * lists.
    *
    * h-index iteration (Lü, Zhou, Zhang & Stanley, Nat. Commun. 2016):
    * every node starts at its degree, and each round replaces its value
    * by the h-index of its neighbours' values (the largest h with ≥ h
    * neighbours valued ≥ h). Values never increase and settle on the
    * core number, so the loop ends the round their sum stops changing.
    * The round count follows the longest chain of dependent decreases
    * (on a power-law graph about the peel's cascade depth), not the
    * degeneracy or the maximum degree.
    */
  def coreness(
      edges: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame =
    // round 0 sums the degrees: twice the simple edge count
    hIndexLoop(edges, srcCol, dstCol, Long.MaxValue, coalesce(sum(col("h")), lit(0L)),
      m => 2 * m).select(col("node"), col("h").as("coreness"))

  /** The h-index loop over the simple undirected graph: `(node, h)`
    * starts at `min(degree, cap)`, each round sets `h` to the h-index of
    * the neighbours' values, and `__atCap` counts the neighbours that
    * were at `cap`. The loop ends when `signal`, observed on the round's
    * checkpoint job, repeats its previous value (`signal0(edge count)`
    * stands for round 0). Returns the last state on the caller session.
    *
    * Per round, one checkpoint job (plus the state's broadcast while it
    * is under the broadcast threshold): the both-orientation adjacency
    * joins the state keyed on the neighbour — laid out by neighbour, so
    * a state too big to broadcast joins without moving it; a hash
    * aggregate counts `(node, neighbour value)` pairs with map-side
    * partials, so a hub has one row per DISTINCT neighbour value, never
    * one per neighbour; a node-keyed window over those rows takes the
    * h-index as `max over values v of min(v, #neighbours valued ≥ v)`.
    */
  private def hIndexLoop(
      edges: DataFrame, srcCol: String, dstCol: String,
      cap: Long, signal: org.apache.spark.sql.Column, signal0: Long => Long): DataFrame =
    Caches.holding { held =>
      val e0 = held(undirectedEdges(edges, srcCol, dstCol))
      val m = e0.count()
      // rounds run loop-width on a session clone ([[Loop.session]]),
      // sized by the adjacency every round scans: both orientations
      val e = Loop.rebind(e0, Loop.session(edges.sparkSession, 2 * m))
      val adj = held(e.select(col("__a").as("node"), col("__b").as("nbr"))
        .union(e.select(col("__b").as("node"), col("__a").as("nbr")))
        .repartition(col("nbr")))
      held.release(e0)
      // round 0 is lazy (round 1's job computes it); the adjacency is
      // symmetric, so a node's degree is its row count as a neighbour
      val deg = adj.groupBy(col("nbr").as("node"))
        .agg(least(count(lit(1)), lit(cap)).as("h"))
      val byValue = org.apache.spark.sql.expressions.Window
        .partitionBy("node").orderBy(col("h").desc)
      Loop.rebind(Loop.iterate(deg, until = Loop.repeats(Map("signal" -> signal0(m))),
        observe = Seq(signal.as("signal"))) { (h, _) =>
        val pairs = adj.join(h.select(col("node").as("nbr"), col("h")), "nbr")
          .groupBy("node", "h").agg(count(lit(1)).as("__n"))
        Some(pairs.withColumn("__c", sum(col("__n")).over(byValue))
          .groupBy("node").agg(max(least(col("h"), col("__c"))).as("h"),
            sum(when(col("h") === cap, col("__n"))).as("__atCap")))
      }, edges.sparkSession)
    }

  /** HITS (Kleinberg 1999): mutually recursive hub and authority
    * scores over a DIRECTED edge list — the [[pageRank]] sibling that
    * separates "points at good things" (hub: a curated link list) from
    * "is pointed at by good things" (authority: the canonical source),
    * where PageRank's single score conflates them.
    *
    * Per half-iteration: one edges⋈scores join (edges pinned; the
    * dedup hashes on BOTH endpoints so a mega-hub source's edge set is
    * never pinned into one cached partition, and each half's join is
    * AQE-skew-splittable), one destination-keyed LONG sum of
    * nano-quantized contributions (order-free — the library's
    * engine-exact discipline; the DuckDB oracle unrolls the identical
    * iterations), one L1 normalization via a broadcast 1-row total.
    * Lineage is truncated every other iteration. Duplicate edges
    * collapse; returns `(node, hub, authority)` rounded to 6 decimals.
    */
  def hits(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 2): DataFrame = {
    require(iterations >= 1 && iterations <= 1000,
      s"iterations must be in 1..1000, got $iterations")
    val e0 = graft.core.Caches.pin(
      edges.select(col(srcCol).cast("string").as("__src"),
        col(dstCol).cast("string").as("__dst"))
        .where(col("__src").isNotNull && col("__dst").isNotNull)
        .distinct())
    // half-iterations checkpoint node-sized tables per step — run them
    // loop-width on a session clone ([[Loop.session]]; the scores side is
    // a broadcast either way, so no AQE-dependent join shape is lost)
    val e = Loop.rebind(e0, Loop.session(edges.sparkSession, e0.count()))
    val nodes = graft.core.Caches.pin(
      e.select(col("__src").as("node"))
        .unionByName(e.select(col("__dst").as("node"))).distinct())
    try {
      val n = nodes.count()
      require(n > 0, "hits: empty graph")
      def half(scores: DataFrame, scoreCol: String, joinOn: String,
          outNode: String, outCol: String): DataFrame = {
        val raw = e
          .join(scores.withColumnRenamed("node", joinOn), joinOn)
          .select(col(outNode).as("node"),
            round(col(scoreCol) * 1e9).cast("long").as("__c"))
          .groupBy("node").agg(sum(col("__c")).as("__r"))
        val tot = raw.agg(sum(col("__r")).as("__t"))
        nodes.join(raw, Seq("node"), "left")
          .crossJoin(broadcast(tot))
          .select(col("node"),
            (coalesce(col("__r"), lit(0L)).cast("double") / col("__t"))
              .as(outCol))
      }
      Caches.holding { held =>
        var h = nodes.select(col("node"), lit(1.0 / n).as("h"))
        var a: DataFrame = null
        (1 to iterations).foreach { _ =>
          // checkpoint EVERY half: each score table is read twice (the
          // next half AND the final join / normalization total), and the
          // totals' scalar crossJoins would otherwise re-run the whole
          // upstream chain per consumer — measured 15 s of recompute at 2
          // iterations without this; node-sized tables, so the
          // materialization is cheap
          val prevA = a
          a = held(half(h, "h", "__src", "__dst", "a"))
          held.release(prevA)
          val prevH = h
          h = held(half(a, "a", "__dst", "__src", "h"))
          held.release(prevH)
        }
        Loop.rebind(held(h.join(a.withColumnRenamed("a", "__a"), "node")
          .select(col("node"), round(col("h"), 6).as("hub"),
            round(col("__a"), 6).as("authority"))), edges.sparkSession)
      }
    } finally { e0.unpersist(); nodes.unpersist() }
  }

  /** Degree assortativity (Newman 2002): the Pearson correlation of
    * endpoint degrees across edges — one number separating social-like
    * graphs (positive: hubs link hubs) from web/biology-like ones
    * (negative: hubs link leaves). A crawl graph whose assortativity
    * jumps between snapshots changed its wiring, not just its size.
    *
    * Each undirected edge contributes BOTH orientations (the standard
    * treatment), so the two marginals coincide and
    * `r = (n·Σxy − (Σx)²) / (n·Σx² − (Σx)²)` — pure INTEGER sums with
    * one double division: engine-exact. Returns `(n_edges, r)`;
    * `r` is null for degree-regular graphs (zero variance). Exact while
    * `Σ deg·deg` fits a long (~9·10¹⁸ — any realistic graph; sample
    * beyond). One degree aggregate + one edges⋈degrees join.
    */
  def degreeAssortativity(
      edges: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = {
    val und = undirectedEdges(edges, srcCol, dstCol)
    val deg = degreesOf(und)
    val directed = und.select(explode(array(
        struct(col("__a").as("x"), col("__b").as("y")),
        struct(col("__b").as("x"), col("__a").as("y")))).as("e"))
      .select(col("e.x"), col("e.y"))
    val withDeg = directed
      .join(deg.select(col("node").as("x"), col("__deg").as("__dx")), "x")
      .join(deg.select(col("node").as("y"), col("__deg").as("__dy")), "y")
    withDeg.agg(
        count(lit(1)).as("__n"),
        sum(col("__dx")).as("__sx"),
        sum(col("__dx") * col("__dx")).as("__sxx"),
        sum(col("__dx") * col("__dy")).as("__sxy"))
      .select(
        (col("__n") / 2).cast("long").as("n_edges"),
        when(col("__n") * col("__sxx") - col("__sx") * col("__sx") === 0,
          lit(null).cast("double"))
          .otherwise(round(
            (col("__n") * col("__sxy") - col("__sx") * col("__sx"))
              .cast("double") /
              (col("__n") * col("__sxx") - col("__sx") * col("__sx")), 6))
          .as("assortativity"))
  }

  /** Canonical undirected simple edges (a < b, self-loops and nulls
    * dropped, duplicates collapsed) — shared by the triangle family.
    */
  private def undirectedEdges(
      edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.select(
      col(srcCol).cast("string").as("__x"),
      col(dstCol).cast("string").as("__y"))
      .where(col("__x").isNotNull && col("__y").isNotNull &&
        col("__x") =!= col("__y"))
      .select(least(col("__x"), col("__y")).as("__a"),
        greatest(col("__x"), col("__y")).as("__b"))
      .distinct()

  private def degreesOf(und: DataFrame): DataFrame =
    und.select(explode(array(col("__a"), col("__b"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("__deg"))

  /** Local clustering coefficient per node:
    * `cc = 2·triangles / (deg · (deg − 1))` over the simple undirected
    * graph — how much of a node's neighborhood is actually wired
    * together. Organic communities sit well above random; a link farm's
    * spokes sit at 0; a fully manufactured clique pegs 1.0. Degree-≤1
    * nodes define cc = 0. One [[triangleCounts]] pass plus a node-sized
    * left join — exact rational, one double division, round 6.
    */
  def clusteringCoefficients(
      edges: DataFrame,
      srcCol: String,
      dstCol: String): DataFrame = {
    // und feeds the degree output AND the orientation inside the
    // triangle core — pinned so the distinct over the raw edge list
    // runs once (released by the caller's collectPins scope)
    val und = graft.core.Caches.pin(undirectedEdges(edges, srcCol, dstCol))
    val deg = degreesOf(und)
    val tri = triangleCore(und, deg)
    deg.join(tri, Seq("node"), "left")
      .select(col("node"), col("__deg").as("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        when(col("__deg") <= 1, lit(0.0))
          .otherwise(round(
            lit(2.0) * coalesce(col("triangles"), lit(0L)) /
              (col("__deg") * (col("__deg") - 1)), 6)).as("cc"))
  }

  /** Edge prep, hub-skew-safe at every stage. A web-scale graph has
    * mega-hub sources (out-degree in the hundreds of millions), so no
    * stage may require a source's whole edge set in ONE task — which
    * rules out both a `repartition(__src)` and a per-source WINDOW sum
    * (windows have no partial aggregation; every row of a partition key
    * must colocate, and AQE cannot split them). Instead:
    *
    *  1. the (src, dst) dedup is a plain hash aggregate on BOTH keys —
    *     a hub's edges spread over hash(src, dst), with map-side
    *     partials;
    *  2. the per-source weight total `__wsum` is a second hash
    *     aggregate keyed on src — partial aggregation sums each task's
    *     share locally, so the exchange carries per-task partials, not
    *     the hub's edge list;
    *  3. totals join back on src. This exchange is the one place a
    *     hub's edges converge, and it is exactly the shape AQE's skew
    *     join splits (the one-row-per-source totals side duplicates
    *     across the splits). On unskewed graphs the join leaves the
    *     result hash(src)-partitioned, which the per-iteration
    *     rank-contribution joins then reuse from the pin for free.
    *
    * `__wsum` stays bit-identical to the window form it replaces: the
    * unweighted total sums 1.0s and integer-valued weights sum exactly
    * (order-free), which is the same engine-exactness contract the
    * nano-unit iteration already relies on.
    *
    * Weighted form: mass splits over out-edges proportionally to edge
    * weight — duplicate (src, dst) pairs SUM their weights (a repeated
    * link is a stronger link); null and non-positive weights drop.
    */
  private[operators] def prepEdges(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: Option[String]): DataFrame = {
    val raw = weightCol match {
      case None =>
        edges.select(col(srcCol).cast("string").as("__src"),
          col(dstCol).cast("string").as("__dst"))
          .where(col("__src").isNotNull && col("__dst").isNotNull)
      case Some(wc) =>
        edges.select(col(srcCol).cast("string").as("__src"),
          col(dstCol).cast("string").as("__dst"),
          col(wc).cast("double").as("__w"))
          .where(col("__src").isNotNull && col("__dst").isNotNull
            && col("__w").isNotNull && col("__w") > 0)
    }
    val e = weightCol match {
      case None =>
        // duplicate edges COLLAPSE (weight stays 1.0) — count-free agg
        raw.groupBy("__src", "__dst").agg(min(lit(1.0)).as("__w"))
      case Some(_) =>
        raw.groupBy("__src", "__dst").agg(sum(col("__w")).as("__w"))
    }
    val wsums = e.groupBy("__src").agg(sum(col("__w")).as("__wsum"))
    e.join(wsums, "__src")
  }

  private def nodesOf(eDeg: DataFrame): DataFrame =
    eDeg.select(col("__src").as("node"))
      .unionByName(eDeg.select(col("__dst").as("node")))
      .distinct()

  /** One power-iteration loop over the `n` nodes carrying per-node
    * `__reset` (teleport mass per step) and `__init` (starting rank) —
    * the shared core of uniform [[pageRank]] and [[personalizedPageRank]].
    * It runs loop-width on a session clone ([[Loop.session]]): the pins
    * built on the caller's session rebind for free (so `__wsum` keeps its
    * partitioning; the nano-unit LONG sums are order-free), and the
    * result rebinds back.
    */
  private def pageRankIterations(
      pinnedEdges: DataFrame,
      nodesWithReset: DataFrame,
      n: Long,
      iterations: Int,
      damping: Double): DataFrame = {
    val spark = pinnedEdges.sparkSession
    val eDeg = Loop.rebind(pinnedEdges, Loop.session(spark, n))
    val nodes = Loop.rebind(nodesWithReset, eDeg.sparkSession)
    def powerStep(pr: DataFrame): DataFrame = {
      // pr·w/Σw — for the unweighted form w = 1.0, so this is exactly
      // pr/Σw (multiplying by 1.0 is an IEEE identity; the unweighted
      // oracle's pr/deg expression stays bit-for-bit). Ranks hash to the
      // edges' layout, not broadcast: with AQE off a broadcast is a job of
      // its own, and a broadcastable rank table bounds every out-degree.
      val sums = eDeg
        .join(pr.withColumnRenamed("node", "__src").hint("shuffle_hash"), "__src")
        .select(col("__dst").as("node"),
          round(col("pr") * col("__w") / col("__wsum") * lit(1e9))
            .cast("long").as("__nano"))
        .groupBy("node")
        .agg(sum(col("__nano")).as("__in"))
      nodes.join(sums, Seq("node"), "left")
        .select(col("node"),
          (col("__reset") + lit(damping) *
            (coalesce(col("__in"), lit(0L)) / lit(1e9))).as("pr"))
    }
    // Truncate lineage every 4 iterations and at the end — enough to
    // keep plan depth and analysis time flat at ANY iteration count,
    // without paying an eager materialization job for every single
    // iteration (a 3-iteration run is ONE executed DAG this way): loop
    // round r chains iterations 4r-3..4r lazily and is checkpointed.
    // The last checkpoint is the RESULT, registered with Caches (a
    // collectPins scope releases it after materializing downstream).
    Loop.rebind(Loop.iterate(nodes.select(col("node"), col("__init").as("pr")),
        rounds = (iterations + 3) / 4) { (pr, r) =>
      Some((4 * r - 3 to math.min(4 * r, iterations))
        .foldLeft(pr)((p, _) => powerStep(p)))
    }, spark)
  }

  /** FUSED forward+backward min-label fixpoint: one loop carries both
    * `F(u) = min{v : v →* u}` (labels flow src → dst) and
    * `B(u) = min{v : u →* v}` (dst → src), iterating until NEITHER
    * improves — one checkpoint and one convergence probe per round for
    * both directions, half the driver rounds of two separate loops
    * (iterative graph cost here is round LATENCY, not data volume).
    * Loud on non-convergence within `maxIters` (a truncated fixpoint
    * is not a reachability minimum). Returns `(node, __f, __b)`,
    * checkpointed and registered; the caller releases.
    */
  private def minLabelFixpointFB(
      e: DataFrame,
      nodes: DataFrame,
      maxIters: Int,
      what: String): DataFrame =
    Loop.iterate(
      nodes.select(col("node"), col("node").as("__f"), col("node").as("__b"))
        .localCheckpoint(true),
      rounds = maxIters,
      until = (lab, _, _) => lab.where(col("__chg")).limit(1).count() == 0,
      unconverged = Some(s"$what did not converge in $maxIters iterations — " +
        "the reachability depth exceeds maxIters; raise it")) { (lab, _) =>
      val candF = e
        .join(lab.select(col("node").as("__s"), col("__f").as("__inf")),
          "__s")
        .groupBy(col("__d").as("node")).agg(min(col("__inf")).as("__cf"))
      val candB = e
        .join(lab.select(col("node").as("__d"), col("__b").as("__inb")),
          "__d")
        .groupBy(col("__s").as("node")).agg(min(col("__inb")).as("__cb"))
      Some(lab.select("node", "__f", "__b")
        .join(candF, Seq("node"), "left")
        .join(candB, Seq("node"), "left")
        .select(col("node"),
          least(col("__f"), coalesce(col("__cf"), col("__f"))).as("__f"),
          least(col("__b"), coalesce(col("__cb"), col("__b"))).as("__b"),
          ((col("__cf").isNotNull && col("__cf") < col("__f")) ||
            (col("__cb").isNotNull && col("__cb") < col("__b")))
            .as("__chg")))
    }

  /** Strongly connected components of a DIRECTED graph — each node's
    * SCC labeled by the smallest member id (string order). The
    * dedup/crawl question the weakly-connected [[Dedup.connectedComponents]]
    * cannot answer: mutual-link cliques, redirect cycles, citation
    * rings — `a → b` alone must NOT merge a and b.
    *
    * Algorithm: iterative forward/backward min-label peeling (the
    * coloring family — Orzan 2004's scheme with min instead of max):
    * per phase over the still-active subgraph, `F(u)` = the smallest
    * id that can reach u and `B(u)` = the smallest id u can reach,
    * both carried by ONE fused fixpoint loop
    * ([[minLabelFixpointFB]] — one checkpoint + one probe per round
    * for both directions). `F(u) = B(u) = c`
    * means `c →* u` and `u →* c`, so u sits in c's SCC — and every
    * node of that SCC shares the pair, so the whole component settles
    * with label c. Settled nodes peel; edges restrict to the
    * remainder; repeat. The globally smallest active id always
    * settles, so progress is guaranteed.
    *
    * Bounds, loudly enforced: each fixpoint converges within
    * `maxIters` propagation rounds (≥ the active subgraph's
    * reachability depth) and the peel finishes within `maxPhases`
    * (≈ the depth of the SCC condensation along decreasing min-ids —
    * small on web-shaped graphs with a giant SCC, O(n) on an
    * adversarial path graph; this family of algorithms shares that
    * bound, and a truncated answer would silently mislabel, so it
    * throws instead).
    *
    * Scale shapes: the [[kHopEdges]] pair-keyed dedup once; per
    * fixpoint round one edge⋈label join + one min hash-aggregate
    * (map-side partials, AQE-splittable); per phase two endpoint
    * semi-joins shrink the edge list; checkpoint rotation keeps plan
    * depth O(1). Returns `(node, scc)` for every edge endpoint.
    */
  def stronglyConnectedComponents(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxPhases: Int = 50,
      maxIters: Int = 100): DataFrame = {
    require(maxPhases >= 1 && maxPhases <= 10000,
      s"maxPhases must be in 1..10000, got $maxPhases")
    require(maxIters >= 1 && maxIters <= 10000,
      s"maxIters must be in 1..10000, got $maxIters")
    val e0 = graft.core.Caches.pin(kHopEdges(edges, srcCol, dstCol))
    try {
      // the peel's many per-round jobs run loop-width on a session clone
      // ([[Loop.session]]); the pinned edges move across for free (shared
      // cache manager) and the result rebinds to the caller at the end
      val e0i = Loop.rebind(e0, Loop.session(edges.sparkSession, e0.count()))
      Caches.holding { held =>
        var active = held(e0i.select(col("__s").as("node"))
          .unionByName(e0i.select(col("__d").as("node"))).distinct())
        // the pinned input is never held: releasing it is a no-op
        var eAct: DataFrame = e0i.toDF()
        var out: DataFrame = null
        var phase = 0
        while (active.limit(1).count() > 0) {
          phase += 1
          if (phase > maxPhases) {
            throw new IllegalStateException(
              s"stronglyConnectedComponents did not finish in $maxPhases " +
                "phases — the SCC condensation is deeper than maxPhases " +
                "(e.g. a long path of singleton SCCs); raise it")
          }
          val fb = held.adopt(minLabelFixpointFB(eAct, active, maxIters,
            s"SCC fixpoint (phase $phase)"))
          val settled = fb
            .where(col("__f") === col("__b"))
            .select(col("node"), col("__f").as("scc"))
          val grown =
            held(if (out == null) settled else out.unionByName(settled))
          held.release(out)
          out = grown
          val remaining =
            held(active.join(settled.select("node"), Seq("node"), "left_anti"))
          held.release(active)
          active = remaining
          held.release(fb)
          val eNext = held(eAct
            .join(active.select(col("node").as("__s")), "__s")
            .join(active.select(col("node").as("__d")), "__d")
            .select("__s", "__d"))
          held.release(eAct)
          eAct = eNext
        }
        if (out == null) {
          // no edges at all — empty result with the contract schema
          e0.select(col("__s").as("node"), col("__d").as("scc")).limit(0)
        } else Loop.rebind(out, edges.sparkSession)
      }
    } finally e0.unpersist()
  }

  /** Synchronous label-propagation community detection (Raghavan 2007's
    * LPA, deterministic variant) — the community signal the rest of the
    * graph tier lacks: connected components merge everything touching,
    * PageRank ranks within the blob; LPA finds the dense regions (a
    * crawl graph's topical clusters, a transaction graph's merchant
    * neighborhoods) without a resolution parameter.
    *
    * Every node starts as its own label; each round every node adopts
    * the MOST FREQUENT label among its neighbors' previous-round labels
    * (ties → smallest label — a total order, so the fixed synchronous
    * schedule is engine-reproducible where classic asynchronous LPA is
    * visit-order-dependent). Fixed `iterations` rather than a
    * convergence test: sync LPA can 2-cycle on bipartite-ish regions,
    * and a bounded round count is the standard remedy. Neighborhoods
    * are undirected (both directions of every edge); self-loops drop;
    * isolated nodes do not appear (the edge-list convention of every
    * operator here).
    *
    * Scale shapes per round: one edges⋈labels join (labels node-sized;
    * AQE-skew-splittable — no per-source pinning, same discipline as
    * [[pageRank]]'s prep), one (node, label) count aggregate with
    * map-side partials, and a per-node argmax as min(struct(-count,
    * label)) — an AGGREGATE, not a window, because round 1's count
    * table holds one row per (hub, neighbor) and a window would pin a
    * mega-hub's whole neighborhood in one task; the struct-min's
    * partials spread it (struct order = count desc, label asc, the
    * same winner a window tie-break would pick). Labels re-checkpoint
    * per round so plan depth stays flat.
    */
  def labelPropagationCommunities(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 3): DataFrame = {
    require(iterations >= 1 && iterations <= 50,
      s"iterations must be in 1..50, got $iterations")
    val raw = edges.select(
      col(srcCol).cast("string").as("__s"),
      col(dstCol).cast("string").as("__d"))
      .where(col("__s").isNotNull && col("__d").isNotNull &&
        col("__s") =!= col("__d"))
    // both directions out of ONE pass over the input (the q_pagerank
    // explode idiom), then distinct — each neighbor counts once
    val sym0 = graft.core.Caches.pin(
      raw.select(explode(array(
          struct(col("__s"), col("__d")),
          struct(col("__d").as("__s"), col("__s").as("__d")))).as("e"))
        .select(col("e.__s").as("__s"), col("e.__d").as("__d"))
        .distinct())
    try {
      // label rounds run loop-width on a session clone ([[Loop.session]])
      val sym = Loop.rebind(sym0,
        Loop.session(edges.sparkSession, sym0.count()))
      val labels = Loop.iterate(
          sym.select(col("__s").as("node")).distinct()
            .withColumn("label", col("node"))
            .localCheckpoint(true),
          rounds = iterations) { (labels, _) =>
        val counts = sym
          .join(labels.select(col("node").as("__d"),
            col("label").as("__nl")), "__d")
          .groupBy(col("__s").as("node"), col("__nl").as("label"))
          .agg(count(lit(1)).as("__c"))
        Some(counts
          .groupBy(col("node"))
          .agg(min(struct((-col("__c")).as("nc"),
            col("label").as("l"))).as("__m"))
          .select(col("node"), col("__m.l").as("label")))
      }
      Loop.rebind(labels.select(col("node"), col("label").as("community")),
        edges.sparkSession)
    } finally sym0.unpersist()
  }

  /** Newman modularity of a community assignment over the undirected
    * simple graph — the quality dial for
    * [[labelPropagationCommunities]] (compare assignments, detect when
    * a partition is no better than random):
    * `Q = Σ_c (e_c/m − (deg_c/(2m))²)` with `m` = undirected edge
    * count, `e_c` = intra-community edges, `deg_c` = total degree of
    * community c. Nodes missing from `communities` form their own
    * singleton communities (their label is the node itself) — absent
    * rows must not silently drop edges from the sum.
    *
    * Engine-exact: each community's term is one fixed-order double
    * expression over integer counts, nano-quantized and LONG-summed
    * across communities (order-free — the library's discipline); the
    * result stays in integer nanos (no float rounding anywhere).
    * Returns ONE row `(m, n_communities, modularity_nanos)` —
    * materialized eagerly (three bounded jobs) since it is a scalar
    * audit, so the intermediate checkpoint releases before return.
    *
    * Scale shapes: canonical-edge dedup, two label joins
    * (AQE-splittable), a per-community pair of count aggregates with
    * map-side partials, one communities-sized final sum.
    */
  def modularity(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      communities: DataFrame,
      nodeCol: String,
      commCol: String): DataFrame = {
    val und = graft.core.Caches.pin(undirectedEdges(edges, srcCol, dstCol))
    try {
      val labels = communities.select(
        col(nodeCol).cast("string").as("node"),
        col(commCol).cast("string").as("__c"))
        .where(col("node").isNotNull).distinct()
      Caches.holding { held =>
        // read twice below (intra counts + degrees)
        val labeled = held(und
          .join(labels.select(col("node").as("__a"), col("__c").as("__ca")),
            Seq("__a"), "left")
          .join(labels.select(col("node").as("__b"), col("__c").as("__cb")),
            Seq("__b"), "left")
          .select(
            coalesce(col("__ca"), col("__a")).as("__ca"),
            coalesce(col("__cb"), col("__b")).as("__cb")))
        val m = labeled.count()
        require(m > 0, "modularity: empty graph")
        val intra = labeled.where(col("__ca") === col("__cb"))
          .groupBy(col("__ca").as("__c")).agg(count(lit(1)).as("__ec"))
        val degs = labeled
          .select(explode(array(col("__ca"), col("__cb"))).as("__c"))
          .groupBy("__c").agg(count(lit(1)).as("__dc"))
        val term = (coalesce(col("__ec"), lit(0L)).cast("double") /
          lit(m.toDouble)) -
          (col("__dc").cast("double") / lit(2.0 * m)) *
            (col("__dc").cast("double") / lit(2.0 * m))
        val agg = degs.join(intra, Seq("__c"), "left")
          .agg(sum(round(term * lit(1e9)).cast("long")).as("__qn"),
            count(lit(1)).as("__nc"))
          .head()
        val spark = edges.sparkSession
        import spark.implicits._
        Seq((m, agg.getAs[Long]("__nc"), agg.getAs[Long]("__qn")))
          .toDF("m", "n_communities", "modularity_nanos")
      }
    } finally und.unpersist()
  }

  /** One-level Louvain community detection (Blondel et al. 2008's
    * local-move phase) — the modularity-OPTIMIZING upgrade of
    * [[labelPropagationCommunities]] (LPA propagates majorities with no
    * objective; these moves each provably raise Newman modularity, the
    * [[modularity]] dial): every node starts in its own community, and
    * each round every node considers joining a NEIGHBOR's community,
    * taking the move with the largest modularity gain when positive.
    *
    * Exact integer gains: moving node `i` (degree `k_i`) from community
    * `A` to `B` changes `Q` by `(k_iB − k_iA')/m − k_i(Σ_B − Σ_A')/2m²`
    * with `Σ` = community total degree and the primes excluding `i`;
    * scaled by the positive constant `2m²` that is
    * `2m(k_iB − k_iA') − k_i(Σ_B − Σ_A')` — pure LONGs (loud `m ≤ 7e8`
    * bound keeps `4m²` inside 2^63), so the argmax (ties → smallest
    * community label) is engine-exact and a DuckDB twin replays every
    * move. Parallel local moves are made deterministic AND
    * oscillation-free by TWO guards from the distributed-Louvain
    * literature: parity alternation (each round runs two phases; only
    * nodes with `sha-hash(node) % 2 == phase parity` move, so the
    * frozen half anchors the objective and symmetric cliques cannot
    * swap labels across parities), and the Grappolo minimum-label rule
    * (Lu, Halappanavar & Kalyanaraman 2015) — a node in a SINGLETON
    * community may move to another singleton only when the target
    * label is smaller, which kills the two-singleton swap cycle that
    * equal gains would otherwise sustain within one parity class.
    *
    * Scale shape ([[labelPropagationCommunities]]'s): per phase ONE
    * neighbor-community count aggregate (map-side partials, no
    * per-node window), communities-sized degree rollups joined back,
    * checkpoint-rotated labels with release-on-throw. Output:
    * `(node, community)` — labels are node ids of members, as in LPA.
    */
  def louvainCommunities(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      rounds: Int = 3): DataFrame = {
    require(rounds >= 1 && rounds <= 20,
      s"rounds must be in 1..20, got $rounds")
    val raw = edges.select(
      col(srcCol).cast("string").as("__s"),
      col(dstCol).cast("string").as("__d"))
      .where(col("__s").isNotNull && col("__d").isNotNull &&
        col("__s") =!= col("__d"))
    val sym0 = graft.core.Caches.pin(
      raw.select(explode(array(
          struct(col("__s"), col("__d")),
          struct(col("__d").as("__s"), col("__s").as("__d")))).as("e"))
        .select(col("e.__s").as("__s"), col("e.__d").as("__d"))
        .distinct())
    try {
      val m2 = sym0.count()
      require(m2 > 0L, "louvainCommunities: empty graph")
      // local-move phases run loop-width on a session clone
      val sym = Loop.rebind(sym0, Loop.session(edges.sparkSession, m2))
      val m = m2 / 2
      require(m <= 700000000L,
        s"louvainCommunities: $m undirected edges — the exact 2m²-scaled " +
          "gains would overflow 2^63 beyond 7e8 edges; partition the " +
          "graph or coarsen upstream")
      val degs = graft.core.Caches.pin(
        sym.groupBy(col("__s").as("node")).agg(count(lit(1)).as("__k")))
      try {
        val labels = Loop.iterate(
            degs.select(col("node"))
              .withColumn("__c", col("node"))
              .localCheckpoint(true),
            rounds = rounds * 2) { (labels, r) =>
          val parity = (r - 1) % 2
          val commDeg = labels
            .join(degs, "node")
            .groupBy(col("__c"))
            .agg(sum(col("__k")).as("__tot"), count(lit(1)).as("__sz"))
          val kic = sym
            .join(labels.select(col("node").as("__d"),
              col("__c").as("__nc")), "__d")
            .groupBy(col("__s").as("node"), col("__nc"))
            .agg(count(lit(1)).as("__kic"))
          val cur = labels
            .join(degs, "node")
            .join(commDeg.select(col("__c"), col("__tot").as("__tota"),
              col("__sz").as("__sza")), "__c")
            .where(pmod(TextAnalysis.hash60(col("node")), lit(2L))
              === parity)
            .select(col("node"), col("__c").as("__ca"), col("__k"),
              (col("__tota") - col("__k")).as("__dega"), col("__sza"))
          val withA = cur.join(
            kic.select(col("node"), col("__nc").as("__ca"),
              col("__kic").as("__kia")),
            Seq("node", "__ca"), "left")
          val cand = withA
            .join(kic, "node")
            .where(col("__nc") =!= col("__ca"))
            .join(commDeg.select(col("__c").as("__nc"),
              col("__tot").as("__degb"), col("__sz").as("__szb")),
              "__nc")
            // Grappolo minimum-label rule: singleton -> singleton only
            // toward a smaller label (breaks same-parity swap cycles)
            .where(!(col("__sza") === 1L && col("__szb") === 1L &&
              col("__nc") > col("__ca")))
            .select(col("node"), col("__nc"),
              (lit(2L * m) * (col("__kic") -
                coalesce(col("__kia"), lit(0L))) -
                col("__k") * (col("__degb") - col("__dega")))
                .as("__gain"))
          val moves = cand.where(col("__gain") > 0L)
            .groupBy(col("node"))
            .agg(min(struct((-col("__gain")).as("g"),
              col("__nc").as("c"))).as("__m"))
            .select(col("node"), col("__m.c").as("__newc"))
          Some(labels.join(moves, Seq("node"), "left")
            .select(col("node"),
              coalesce(col("__newc"), col("__c")).as("__c")))
        }
        Loop.rebind(labels.select(col("node"), col("__c").as("community")),
          edges.sparkSession)
      } finally degs.unpersist()
    } finally sym0.unpersist()
  }

  /** Deterministic uniform random walks over the directed edge set — the
    * DeepWalk/node2vec(p=q=1) corpus generator: `walksPerNode` walks of
    * up to `walkLength` steps from every node with out-edges, emitted as
    * `(start, walk, step, node)` trajectory rows ready for skip-gram
    * windowing ([[graft.operators.TextAnalysis.collocations]] /
    * embedding training downstream).
    *
    * "Random" is a hash, not an RNG — RENDEZVOUS (highest-random-weight)
    * selection: step `s` at node `v` moves to the out-neighbor `d`
    * minimizing `sha256(seed:origin:walk:s:v:d)[0..14 hex]` (ties — a
    * ~2⁻⁶⁰ event — break on the smaller `d`). Each neighbor's hash is an
    * independent uniform draw keyed by the full walk state, so the
    * argmin is a uniform pick, and every engine, run, partitioning, and
    * resumed job walks the SAME paths (the [[Sampling]] hash-randomness
    * convention); a DuckDB recursive CTE replays the walk exactly.
    * Dead-end nodes terminate their walk early (standard DeepWalk
    * behavior).
    *
    * Scale shape: edge prep is the shared [[kHopEdges]] pair-keyed
    * dedup; each of the `walkLength` rounds is ONE frontier⋈edges hash
    * join (a mega-hub's fan-out spreads across tasks — AQE-splittable)
    * plus ONE (origin, walk)-keyed min-struct hash aggregate with
    * map-side partials, checkpoint-rotated with release-on-throw. No
    * per-source window, no neighbor index: the previous rank-indexed
    * pick sorted every hub's full edge list inside one window task —
    * exactly the single-task pin a 100M-degree node turns fatal. Total
    * output is `nodes × walksPerNode × (walkLength+1)` rows, bounded
    * loudly.
    */
  def randomWalks(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      walksPerNode: Int = 2,
      walkLength: Int = 8,
      seed: String = "graft"): DataFrame = {
    require(walksPerNode >= 1 && walksPerNode <= 1000,
      s"walksPerNode must be in 1..1000, got $walksPerNode")
    require(walkLength >= 1 && walkLength <= 64,
      s"walkLength must be in 1..64, got $walkLength")
    require(!seed.contains(":"),
      "seed must not contain ':' (it delimits the hash preimage)")
    val e = graft.core.Caches.pin(kHopEdges(edges, srcCol, dstCol))
    try Caches.holding { held =>
      var frontier = held(e.select(col("__s").as("origin")).distinct()
        .crossJoin(broadcast(spark_rangeless(walksPerNode)))
        .select(col("origin"), col("walk"), lit(0).as("step"),
          col("origin").as("node")))
      val steps = scala.collection.mutable.ArrayBuffer(frontier)
      var s = 0
      var live = true
      while (s < walkLength && live) {
        // rendezvous pick: hash every (state, neighbor) candidate,
        // keep the per-(origin, walk) min struct — dead ends simply
        // produce no candidates and the walk stops
        val next = held(frontier
          .join(e.select(col("__s").as("node"), col("__d")), Seq("node"))
          .select(col("origin"), col("walk"),
            struct(
              graft.functions.VectorFunctions.hexPrefixToLong(
                sha2(concat_ws(":", lit(seed), col("origin"),
                  col("walk").cast("string"), lit(s).cast("string"),
                  col("node"), col("__d")), 256), 15).as("__h"),
              col("__d")).as("__c"))
          .groupBy(col("origin"), col("walk"))
          .agg(min(col("__c")).as("__m"))
          .select(col("origin"), col("walk"), lit(s + 1).as("step"),
            col("__m.__d").as("node")))
        steps += next
        frontier = next
        live = frontier.limit(1).count() > 0
        s += 1
      }
      held(steps.reduce(_ unionByName _))
    } finally e.unpersist()
  }

  /** `(walk)` column 0..n-1 as a 1-row-per-value frame (a tiny driver
    * literal, not `spark.range` — the cross join side must broadcast).
    */
  private def spark_rangeless(n: Int): DataFrame = {
    val spark = org.apache.spark.sql.SparkSession.active
    import spark.implicits._
    (0 until n).toDF("walk")
  }

  /** Adamic–Adar link prediction (Adamic & Adar 2003): for node pairs
    * sharing neighbors, `AA(a,b) = Σ_z 1/ln(deg z)` over common
    * neighbors `z` — the classic "which links are missing" score
    * (crawl frontier prioritization, related-entity suggestion, graph
    * densification QA). Rare shared neighbors count more than hubs —
    * which is also why the degree cap below is a SEMANTIC, not a
    * shortcut.
    *
    * Wedges are enumerated through each shared neighbor, costing
    * deg(z)² pairs — a mega-hub would square into the exchange, so
    * neighbors with `deg > maxDegree` are EXCLUDED BY CONTRACT
    * (documented standard practice: a million-degree hub contributes
    * 1/ln(10⁶) ≈ 0.07 per pair of its million² pairs — noise that
    * costs a cluster). Per-wedge contributions quantize to nanos and
    * sum as LONGs (engine-exact); existing edges are removed when
    * `excludeExisting` (prediction means NEW links).
    *
    * Output: `(node_a, node_b, n_common, aa_nanos, ra_nanos,
    * jaccard_micros)` with `node_a < node_b` — common-neighbor count,
    * Adamic-Adar, resource allocation (Zhou 2009), and neighborhood
    * Jaccard, all from the same wedge aggregate.
    */
  def adamicAdar(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxDegree: Long = 10000L,
      excludeExisting: Boolean = true): DataFrame = {
    require(maxDegree >= 2, s"maxDegree must be >= 2, got $maxDegree")
    val raw = kHopEdges(edges, srcCol, dstCol)
    val und = graft.core.Caches.pin(
      raw.select(col("__s"), col("__d"))
        .unionByName(raw.select(col("__d").as("__s"), col("__s").as("__d")))
        .where(col("__s") =!= col("__d"))
        .distinct())
    try {
      // the per-wedge AA/RA contributions depend only on the shared
      // neighbor's degree — compute them HERE, once per node, instead of
      // per wedge row: round() on a double allocates a BigDecimal per
      // evaluation, and paying log+divide+round on every one of the
      // deg² wedge rows (tens of millions) instead of once per node was
      // the wedge stage's dominant cost. The summed longs are identical.
      val deg = und.groupBy(col("__s").as("__z"))
        .agg(count(lit(1)).as("__deg"))
        .where(col("__deg") >= 2 && col("__deg") <= maxDegree)
        .withColumn("__aa",
          round(lit(1e9) / log(col("__deg").cast("double"))).cast("long"))
        .withColumn("__ra", round(lit(1e9) / col("__deg")).cast("long"))
      // the self-join below reads adj TWICE and Spark never dedups a
      // common subplan across a self-join — materialize it once
      // (measured 64 s -> seconds at sf0.1 without this)
      val adj = graft.core.Caches.pin(
        und.select(col("__s").as("__z"), col("__d").as("__n"))
          .join(deg, "__z"))
      try Caches.holding { held =>
      val wedges = adj
        .select(col("__z"), col("__aa"), col("__ra"), col("__n").as("node_a"))
        .join(adj.select(col("__z"), col("__n").as("node_b")), Seq("__z"))
        .where(col("node_a") < col("node_b"))
      // all four classical scores from ONE wedge aggregate + a
      // broadcastable endpoint-degree join-back: common neighbors,
      // Adamic-Adar, resource allocation (Zhou 2009, Σ 1/deg), and
      // neighborhood Jaccard |Γa∩Γb| / |Γa∪Γb|. The Jaccard
      // neighborhoods apply the SAME deg ≤ maxDegree exclusion as the
      // wedge intersection — an excluded hub must vanish from both the
      // numerator and the union denominator, or Jaccard is capped
      // inconsistently relative to AA/RA's documented semantic
      // (deg-1 neighbors stay: they are real union members that simply
      // can never be common)
      val nbrDeg = und.groupBy(col("__d").as("__n2"))
        .agg(count(lit(1)).as("__nd"))
      val allDeg = und
        .join(nbrDeg.where(col("__nd") <= maxDegree),
          col("__d") === col("__n2"))
        .groupBy(col("__s").as("__node"))
        .agg(count(lit(1)).as("__d"))
      val scored = wedges
        .groupBy(col("node_a"), col("node_b"))
        .agg(count(lit(1)).as("n_common"),
          sum(col("__aa")).as("aa_nanos"),
          sum(col("__ra")).as("ra_nanos"))
        .join(allDeg.select(col("__node").as("node_a"), col("__d").as("__da")),
          "node_a")
        .join(allDeg.select(col("__node").as("node_b"), col("__d").as("__db")),
          "node_b")
        .select(col("node_a"), col("node_b"), col("n_common"),
          col("aa_nanos"), col("ra_nanos"),
          round(col("n_common") * lit(1000000.0) /
            (col("__da") + col("__db") - col("n_common"))).cast("long")
            .as("jaccard_micros"))
      held(if (!excludeExisting) scored
        else scored.join(
          und.select(least(col("__s"), col("__d")).as("node_a"),
            greatest(col("__s"), col("__d")).as("node_b")).distinct(),
          Seq("node_a", "node_b"), "left_anti"))
      } finally adj.unpersist()
    } finally und.unpersist()
  }

  /** Sampled harmonic centrality (Boldi & Vigna 2014's preferred
    * closeness variant — finite under disconnection): per node,
    * `Σ_seeds 1/d(seed, node)` over hop distances from a SEED SAMPLE,
    * hop-capped — the Eppstein–Wang estimation shape, exact for the
    * given seeds (scale the micro-sum by `(n−1)/|seeds|` for the
    * classic estimator; the raw per-seed sum is what is emitted so the
    * caller controls the normalization and the oracle stays integral).
    *
    * Per-seed distances ride ONE BFS whose state is `(seed, node)` —
    * the [[kHopReachability]] loop keyed by the pair, same checkpoint
    * rotation and release-on-throw; state is `|seeds| × reachable`,
    * which is why seeds are LOUDLY bounded (≤ 64): full-graph harmonic
    * centrality at 100 TB is a different algorithm (HyperBall), not a
    * bigger loop. Contributions quantize to micros per (seed, node)
    * and sum as LONGs — engine-exact.
    *
    * Output: `(node, n_sources, harmonic_micros)` for nodes reached by
    * ≥ 1 seed at hops ≥ 1 (a seed contributes nothing to itself).
    */
  def harmonicCentrality(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      seedCol: String,
      maxHops: Int): DataFrame = {
    require(maxHops >= 1 && maxHops <= 32,
      s"maxHops must be in 1..32, got $maxHops")
    val e = graft.core.Caches.pin(kHopEdges(edges, srcCol, dstCol))
    try {
      val seedSet = seeds
        .select(col(seedCol).cast("string").as("seed"))
        .where(col("seed").isNotNull).distinct()
      val nSeeds = seedSet.count()
      require(nSeeds > 0, "harmonicCentrality: no seeds")
      require(nSeeds <= 64,
        s"harmonicCentrality: $nSeeds seeds — the per-seed BFS state is " +
          "|seeds| x reachable; sample seeds to <= 64 upstream")
      Caches.holding { held =>
        val visited = held.adopt(Loop.iterate(
          seedSet
            .withColumn("node", col("seed"))
            .withColumn("hops", lit(0L))
            .localCheckpoint(true),
          rounds = maxHops,
          until = (visited, h, _) =>
            visited.where(col("hops") === h).limit(1).count() == 0) {
          (visited, h) =>
            val frontier = visited.where(col("hops") === (h - 1))
            val next = e
              .join(frontier.select(col("seed"), col("node").as("__s")), "__s")
              .select(col("seed"), col("__d").as("node")).distinct()
              .join(visited.select("seed", "node"), Seq("seed", "node"),
                "left_anti")
              .withColumn("hops", lit(h.toLong))
            Some(visited.unionByName(next))
        })
        held(visited.where(col("hops") > 0L)
          .groupBy(col("node"))
          .agg(count(lit(1)).as("n_sources"),
            sum(round(lit(1000000.0) / col("hops")).cast("long"))
              .as("harmonic_micros")))
      }
    } finally e.unpersist()
  }

  /** Sampled betweenness centrality (Brandes 2001, "A faster algorithm
    * for betweenness centrality", seed-sampled à la Brandes–Pich 2007):
    * per node, the summed pair-dependency `δ_s(v) = Σ_{w} σ_sv/σ_sw ·
    * [v on a shortest s→w path]` over the SEED SAMPLE — the
    * bridge/bottleneck detector (which node carries the traffic
    * between communities) that degree/harmonic metrics cannot see.
    * Exact for the given seeds; scale by `n/|seeds|` for the estimator.
    *
    * Two level-synchronous passes riding [[kHopEdges]] state shaped
    * `|seeds| × reachable` (the [[harmonicCentrality]] loop, seeds
    * LOUDLY ≤ 64):
    *
    *  - FORWARD: BFS accumulating `σ` (shortest-path counts) — a
    *    (seed, node)-keyed hash-aggregate sum per level. σ sums
    *    integer-valued doubles, EXACT until 2^53 — guarded loudly per
    *    level (path counts explode combinatorially on dense DAGs; a
    *    silent overflow would corrupt every ratio downstream).
    *  - BACKWARD: dependency accumulation from the deepest level up,
    *    one DAG-edge join + hash-aggregate per level. Each per-edge
    *    contribution `(σ_u/σ_w)·(1e6 + δ_w)` is IEEE-deterministic
    *    and rounded to micro-units BEFORE the (seed, node) LONG sum
    *    (order-free — the engine-exact discipline); levels partition
    *    nodes, so each node's δ lands exactly once.
    *
    * No window, no per-source sort — a mega-hub fans out through
    * AQE-splittable joins and map-side-combined aggregates (pinned by
    * the GraphsSpec mega-hub net). Output: `(node, n_seeds,
    * betweenness_micros)` over nodes reached at hop ≥ 1, zeros
    * included (a reached leaf IS a zero-betweenness observation);
    * per-seed self-dependency is excluded per Brandes.
    */
  def sampledBetweenness(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seeds: DataFrame,
      seedCol: String,
      maxHops: Int): DataFrame = {
    require(maxHops >= 1 && maxHops <= 32,
      s"maxHops must be in 1..32, got $maxHops")
    val e = graft.core.Caches.pin(kHopEdges(edges, srcCol, dstCol))
    try {
      // the seed checkpoint is released before the loop; the loop owns
      // its round-0 state
      val visited0 = Caches.holding { held =>
        val seedSet = held(seeds.select(col(seedCol).cast("string").as("seed"))
          .where(col("seed").isNotNull).distinct())
        val n = seedSet.count()
        require(n > 0, "sampledBetweenness: no seeds")
        require(n <= 64,
          s"sampledBetweenness: $n seeds — the per-seed state is " +
            "|seeds| x reachable; sample seeds to <= 64 upstream")
        seedSet
          .withColumn("node", col("seed"))
          .withColumn("dist", lit(0L))
          .withColumn("sigma", lit(1.0))
          .localCheckpoint(true)
      }
      var maxDist = 0
      // ---- forward: σ-accumulating BFS ----
      val visited = Loop.iterate(visited0, rounds = maxHops,
        until = (visited, h, _) => {
          val mx = visited.where(col("dist") === h)
            .agg(max(col("sigma")).as("m")).head().getAs[Any]("m")
          if (mx != null) {
            require(mx.asInstanceOf[Double] < 9007199254740992.0,
              s"sampledBetweenness: σ exceeded 2^53 at hop $h — path " +
                "counts are no longer exactly representable; lower " +
                "maxHops or sparsify upstream")
            maxDist = h
          }
          mx == null
        }) { (visited, h) =>
        val frontier = visited.where(col("dist") === (h - 1))
        Some(visited.unionByName(e
          .join(frontier.select(col("seed"), col("node").as("__s"),
            col("sigma")), "__s")
          .groupBy(col("seed"), col("__d").as("node"))
          .agg(sum(col("sigma")).as("sigma"))
          .join(visited.select("seed", "node"), Seq("seed", "node"),
            "left_anti")
          .withColumn("dist", lit(h.toLong))
          .select("seed", "node", "dist", "sigma")))
      }
      // ---- backward: per-level dependency accumulation ----
      Caches.holding { held =>
        held.adopt(visited)
        val noDelta = visited.limit(0).select(col("seed"), col("node"),
          col("dist"), lit(0L).as("delta_micros"))
        var delta: DataFrame = null // δ of every level drained so far
        var lvl = maxDist
        while (lvl >= 1) {
          // δ of the level being drained: complete by induction
          // (contributions only flow from deeper levels)
          val dAtLvl =
            if (delta == null) noDelta else delta.where(col("dist") === lvl)
          val wNodes = visited.where(col("dist") === lvl)
            .join(dAtLvl.select(col("seed"), col("node"),
              col("delta_micros")), Seq("seed", "node"), "left")
            .select(col("seed"), col("node").as("__d"),
              col("sigma").as("__sw"),
              coalesce(col("delta_micros"), lit(0L)).as("__dw"))
          val contrib = e
            .join(wNodes, "__d")
            .join(visited.where(col("dist") === (lvl - 1))
              .select(col("seed"), col("node").as("__s"),
                col("sigma").as("__su"), col("dist")), Seq("seed", "__s"))
            .select(col("seed"), col("__s").as("node"), col("dist"),
              round((col("__su") / col("__sw")) *
                (lit(1000000.0) + col("__dw"))).cast("long").as("__c"))
            .groupBy(col("seed"), col("node"), col("dist"))
            .agg(sum(col("__c")).as("delta_micros"))
          val merged =
            held(if (delta == null) contrib else delta.unionByName(contrib))
          held.release(delta)
          delta = merged
          lvl -= 1
        }
        held(visited.where(col("dist") > 0L)
          .join((if (delta == null) noDelta else delta).select(col("seed"),
            col("node"), col("delta_micros")), Seq("seed", "node"), "left")
          .groupBy(col("node"))
          .agg(count(lit(1)).as("n_seeds"),
            sum(coalesce(col("delta_micros"), lit(0L)))
              .as("betweenness_micros")))
      }
    } finally e.unpersist()
  }
}
