package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ranking-quality evaluation (nDCG@k, MRR@k, recall@k) for the search
  * and ANN tier — the harness that says whether a BM25 tweak, an RRF
  * fusion, or a quantized IVF probe actually ranks better, per query
  * and aggregated.
  *
  * Engine-exact by construction, which for ranking metrics takes care:
  *  - DCG discounts `1/log2(rank+1)` are NOT recomputed per engine —
  *    `log2` carries no cross-libm correct-rounding guarantee, so the
  *    discounts for ranks 1..k are embedded as shared double LITERALS
  *    ([[discounts]]); any engine parsing the same decimal literal gets
  *    the same double (shortest-round-trip representation).
  *  - gains are exponential `2^rel − 1` via INTEGER shift, never
  *    `pow`.
  *  - every per-rank term is quantized to nano-units and summed as
  *    longs (order-free), the library-wide discipline; one double
  *    division at the end.
  *
  * Queries with no relevant documents are DROPPED (their metrics are
  * undefined — the trec_eval convention), loud only in the sense that
  * the row count says so.
  */
object RankEval {

  /** `1/log2(r+1)` for ranks 1..k, as the exact doubles this JVM
    * computes — exported so the oracle can embed the same literals.
    */
  def discounts(k: Int): Seq[Double] =
    (1 to k).map(r => 1.0 / (math.log(r + 1.0) / math.log(2.0)))

  /** Per-query metrics of `run` (qIdCol, docIdCol, rankCol — rank
    * 1-based) against `qrels` (qIdCol, docIdCol, relCol — integer
    * graded relevance, > 0 means relevant).
    *
    * Returns (qIdCol, n_rel, hits, recall, rr, ndcg):
    *  - `recall` = relevant found in the top k / n_rel
    *  - `rr` = 1/rank of the first relevant hit (0 when none)
    *  - `ndcg` = DCG@k / ideal-DCG@k with exponential gains
    *
    * Shapes: one run⋈qrels equi-join on (query, doc), one window on the
    * qrels side for the ideal ranking, two query-keyed aggregates —
    * everything map-side-combinable, nothing corpus-sized.
    */
  def rankingMetrics(
      run: DataFrame,
      qrels: DataFrame,
      qIdCol: String,
      docIdCol: String,
      rankCol: String,
      relCol: String,
      k: Int): DataFrame = {
    require(k >= 1 && k <= 1000, s"k must be in 1..1000, got $k")
    val discLit = typedlit(discounts(k))
    val topk = run.select(
      col(qIdCol).as("__q"), col(docIdCol).as("__d"),
      when(col(rankCol).isNotNull && col(rankCol) >= 1,
        col(rankCol).cast("int"))
        .otherwise(raise_error(concat(
          lit(s"rankingMetrics: `$rankCol` must be a 1-based rank, got "),
          coalesce(col(rankCol).cast("string"), lit("NULL"))))
          .cast("int")).as("__rank"))
      .where(col("__rank") <= k)
    val rels = qrels.select(
      col(qIdCol).as("__q"), col(docIdCol).as("__d"),
      when(col(relCol).isNotNull && col(relCol).between(0, 30),
        col(relCol).cast("int"))
        .otherwise(raise_error(concat(
          lit(s"rankingMetrics: `$relCol` must be a grade in [0, 30], got "),
          coalesce(col(relCol).cast("string"), lit("NULL"))))
          .cast("int")).as("__rel"))
    // exponential gain 2^rel − 1 as a LOOKUP into an integer literal
    // (never pow — no cross-libm guarantee), then gain·discount
    // quantized to nanos: a LONG sum is order-free
    val gainLit = typedlit((0 to 30).map(r => (1L << r) - 1L))
    def termNanos(rel: org.apache.spark.sql.Column,
        pos: org.apache.spark.sql.Column) =
      round(element_at(gainLit, rel + 1).cast("double") *
        element_at(discLit, pos) * 1e9).cast("long")
    val scored = topk.join(rels, Seq("__q", "__d"), "left")
      .withColumn("__rel0", coalesce(col("__rel"), lit(0)))
      .groupBy(col("__q"))
      .agg(
        sum(termNanos(col("__rel0"), col("__rank"))).as("__dcgN"),
        count(when(col("__rel0") > 0, 1)).as("hits"),
        min(when(col("__rel0") > 0, col("__rank"))).as("__first"))
    val wIdeal = Window.partitionBy(col("__q"))
      .orderBy(col("__rel").desc, col("__d").asc)
    val ideal = rels.where(col("__rel") > 0)
      .withColumn("__pos", row_number().over(wIdeal))
      .groupBy(col("__q"))
      .agg(
        count(lit(1)).as("n_rel"),
        sum(when(col("__pos") <= k,
          termNanos(col("__rel"), col("__pos"))).otherwise(lit(0L)))
          .as("__idcgN"))
    ideal.join(scored, Seq("__q"), "left")
      .select(
        col("__q").as(qIdCol),
        col("n_rel"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        round(coalesce(col("hits"), lit(0L)) / col("n_rel").cast("double"), 6)
          .as("recall"),
        round(when(col("__first").isNotNull,
          lit(1.0) / col("__first")).otherwise(lit(0.0)), 6).as("rr"),
        round(coalesce(col("__dcgN"), lit(0L)) /
          col("__idcgN").cast("double"), 6).as("ndcg"))
  }

  /** Per-group ROC-AUC — the sliced-evaluation / fairness-audit form
    * of [[aucRoc]]: one AUC row per distinct value of `groupCols`
    * (NULL is a group), same exact-integer Mann–Whitney identity, same
    * loud label/score contracts. A model whose global AUC is strong
    * but whose per-`source` AUC collapses on one slice is learning
    * provenance, not quality — this is the gate that sees it.
    *
    * Shape: `groupBy(groups, score)` with map-side partials, then the
    * neg-below prefix runs in a window PARTITIONED BY the groups —
    * bounded by each group's distinct scores, no global ordering
    * anywhere. A single giant group degrades toward the global case;
    * use [[aucRoc]]'s range-partition discipline for that (documented
    * trade: the grouped form assumes many modest groups).
    *
    * Output: groups + `(n_pos, n_neg, auc)`; `auc` NULL for
    * single-class groups.
    */
  def aucRocByGroup(
      df: DataFrame,
      scoreCol: String,
      labelCol: String,
      groupCols: Seq[String]): DataFrame = {
    require(groupCols.nonEmpty,
      "aucRocByGroup needs group columns — use aucRoc for the global form")
    val groups = groupCols.map(col)
    val g = aucScoreCounts(df, scoreCol, labelCol, groupCols, "aucRocByGroup")
    val w = Window.partitionBy(groups: _*).orderBy(col("__s"))
      .rowsBetween(Window.unboundedPreceding, -1)
    g.withColumn("__below", coalesce(sum(col("__neg")).over(w), lit(0L)))
      .groupBy(groups: _*)
      .agg(
        sum(col("__pos")).as("n_pos"),
        sum(col("__neg")).as("n_neg"),
        sum(col("__pos") * (lit(2L) * col("__below") + col("__neg")))
          .as("__num2"))
      .select(groups ++ Seq(col("n_pos"), col("n_neg"),
        round(when(col("n_pos") === 0L || col("n_neg") === 0L, lit(null))
          .otherwise(col("__num2").cast("double") /
            (lit(2L) * col("n_pos") * col("n_neg"))), 6).as("auc")): _*)
  }

  /** Exact ROC-AUC of a binary scorer — the Mann–Whitney identity
    * `AUC = P(s⁺ > s⁻) + ½·P(s⁺ = s⁻)` computed from per-distinct-score
    * counts, NOT from per-row global ranks:
    *
    *   2·AUC·P·N = Σₛ (2·posₛ·negBelowₛ + posₛ·negₛ)
    *
    * All terms are BIGINT up to the one final division, so the value is
    * engine- and partitioning-exact (ties handled by the ½ term — the
    * trapezoidal tie convention every library uses).
    *
    * Scale shape: ONE corpus-sized `groupBy(score)` with map-side
    * partials; the neg-below prefix runs on the distinct-scores table
    * via range-repartition + per-physical-partition window + a
    * broadcast of per-partition offsets (the [[Sampling.deterministicShuffle]]
    * discipline) — a plain un-partitioned window would collapse a
    * continuous score column's distinct table into ONE task at 100×.
    *
    * Loud contracts: labels must be 0/1 after an int cast and scores
    * non-NULL (a NULL score has no rank position; null ordering is not
    * engine-portable) — violations fail with counts, never dilute.
    * Output: one row `(n_pos, n_neg, auc)`; `auc` NULL when either
    * class is absent (undefined, not 0 — an all-one-class eval set is
    * a harness bug worth surfacing).
    */
  def aucRoc(df: DataFrame, scoreCol: String, labelCol: String): DataFrame =
    aucFromScoreCounts(aucScoreCounts(df, scoreCol, labelCol, Nil, "aucRoc"))

  /** Per-(groups…, score) label counts `(groups…, __s, __pos, __neg)`:
    * the sum-mergeable cells [[aucRoc]], [[aucRocByGroup]] and the
    * streamed AUC log ([[graft.streaming.StreamingOps.aucLogSink]]) are
    * computed FROM, after the loud contracts (labels 0/1 after an int
    * cast, non-NULL scores; both counted in one aggregate). `who`
    * prefixes the messages.
    */
  private[graft] def aucScoreCounts(
      df: DataFrame,
      scoreCol: String,
      labelCol: String,
      groupCols: Seq[String],
      who: String): DataFrame = {
    val y = col(labelCol).cast("int")
    val bad = df.agg(
      count(when(y.isNull || (y =!= 0 && y =!= 1), 1)),
      count(when(col(scoreCol).isNull, 1))).head()
    require(bad.getLong(0) == 0L,
      s"$who: ${bad.getLong(0)} row(s) have a label that is null or " +
        s"outside {0, 1} after casting `$labelCol` to int")
    require(bad.getLong(1) == 0L,
      s"$who: ${bad.getLong(1)} row(s) have a NULL `$scoreCol`")
    df.groupBy(groupCols.map(col) :+ col(scoreCol).as("__s"): _*)
      .agg(sum(y.cast("long")).as("__pos"),
        sum(lit(1L) - y.cast("long")).as("__neg"))
  }

  /** The AUC tail shared by [[aucRoc]] and
    * [[graft.streaming.StreamingOps.aucFromLog]]: per-distinct-score
    * `(__s, __pos, __neg)` counts → one exact AUC row. Counts are
    * SUM-MERGEABLE (the Mann–Whitney statistic only reads totals per
    * score), which is what makes the streamed eval equal the batch one.
    */
  private[graft] def aucFromScoreCounts(counts: DataFrame): DataFrame = {
    val g = graft.core.Caches.pin(counts
      .groupBy(col("__s"))
      .agg(sum(col("__pos")).as("__pos"), sum(col("__neg")).as("__neg"))
      .repartitionByRange(
        counts.sparkSession.sparkContext.defaultParallelism, col("__s"))
      .sortWithinPartitions(col("__s"))
      .withColumn("__pid", spark_partition_id()))
    try graft.core.Caches.holding { held =>
      val offsets = g.groupBy(col("__pid"))
        .agg(sum(col("__neg")).as("__pn"))
        .withColumn("__off", coalesce(
          sum(col("__pn")).over(Window.orderBy("__pid")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .select(col("__pid"), col("__off"))
      val below = g
        .withColumn("__run", coalesce(
          sum(col("__neg")).over(Window.partitionBy(col("__pid"))
            .orderBy(col("__s"))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
        .join(broadcast(offsets), "__pid")
        .select(col("__pos"), col("__neg"),
          (col("__run") + col("__off")).as("__below"))
      held(below.agg(
          coalesce(sum(col("__pos")), lit(0L)).as("n_pos"),
          coalesce(sum(col("__neg")), lit(0L)).as("n_neg"),
          coalesce(sum(col("__pos") * (lit(2L) * col("__below") + col("__neg"))),
            lit(0L)).as("__num2"))
        .select(col("n_pos"), col("n_neg"),
          round(when(col("n_pos") === 0L || col("n_neg") === 0L, lit(null))
            .otherwise(col("__num2").cast("double") /
              (lit(2L) * col("n_pos") * col("n_neg"))), 6).as("auc")))
    } finally g.unpersist()
  }

  /** Bradley–Terry strength ratings from pairwise preference outcomes
    * via the MM algorithm (Hunter 2004, "MM algorithms for generalized
    * Bradley–Terry models") — the rating model behind LLM-arena
    * leaderboards and RLHF preference analysis (Elo is its online
    * approximation): θ_i estimates P(i beats j) = θ_i/(θ_i+θ_j), fit by
    * the monotone-likelihood update
    * `θ_i ← W_i / Σ_j (n_ij + n_ji)/(θ_i + θ_j)`, renormalized to mean
    * 1 each pass. Consumes exactly the shape
    * [[graft.operators.Selection.preferencePairs]] emits.
    *
    * Deterministic: fixed `iters` passes, driver arithmetic folded in
    * sorted item order, one portable normalization per pass — the
    * DuckDB twin unrolls the same stages (the fitEM discipline) and the
    * contraction keeps unordered-sum noise far below the 6-dp compare.
    *
    * Scale shape: ONE corpus-sized groupBy to the (winner, loser) count
    * matrix; everything after runs on the driver over ≤ maxItems²
    * cells (eager loud refusal — items are MODELS/SOURCES/policies,
    * never documents). MM requires every item to have at least one win
    * and one loss (else its θ diverges to 0/∞) — refused loudly with
    * the item named; full strong-connectivity is the caller's contract
    * (this guard is the cheap necessary condition). NULL items refused.
    * Output: `(item, wins, losses, theta, rank)` — theta at 6 dp, rank
    * 1 = strongest, ties broken by item ascending.
    */
  def bradleyTerry(
      matches: DataFrame,
      winnerCol: String,
      loserCol: String,
      iters: Int = 20,
      maxItems: Int = 256): DataFrame = {
    require(iters >= 1 && iters <= 1000, s"iters must be in 1..1000, got $iters")
    require(maxItems >= 2 && maxItems <= 1024,
      s"maxItems must be in 2..1024, got $maxItems")
    val spark = matches.sparkSession
    import spark.implicits._
    val nulls = matches.agg(count(when(col(winnerCol).isNull ||
      col(loserCol).isNull, 1)).as("__n")).head().getAs[Long]("__n")
    require(nulls == 0L,
      s"bradleyTerry: $nulls NULL `$winnerCol`/`$loserCol` row(s) — an " +
        "anonymous outcome rates nothing; filter upstream")
    // item-count guard BEFORE the count-matrix collect: a
    // doc-granularity input must refuse here, not OOM the driver
    // (distinct items <= maxItems bounds the collected matrix at
    // maxItems^2 rows)
    val nItems = matches.select(col(winnerCol).cast("string").as("__i"))
      .unionAll(matches.select(col(loserCol).cast("string").as("__i")))
      .agg(countDistinct(col("__i")).as("__k")).head().getAs[Long]("__k")
    require(nItems <= maxItems,
      s"bradleyTerry: $nItems items (> maxItems=$maxItems) — " +
        "items are models/sources, not documents; aggregate upstream")
    val counts = matches
      .groupBy(col(winnerCol).cast("string").as("__w"),
        col(loserCol).cast("string").as("__l"))
      .agg(count(lit(1)).as("__n"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    require(counts.nonEmpty, "bradleyTerry: no matches")
    val items = counts.flatMap(c => Seq(c._1, c._2)).distinct.sorted
    require(items.length >= 2, "bradleyTerry: fewer than 2 items")
    require(items.length <= maxItems,
      s"bradleyTerry: ${items.length} items (> maxItems=$maxItems) — " +
        "items are models/sources, not documents; aggregate upstream")
    val idx = items.zipWithIndex.toMap
    val k = items.length
    val wins = Array.fill(k)(0L)
    val losses = Array.fill(k)(0L)
    // symmetric pair totals n_ij + n_ji, folded in (winner, loser) order
    val pairN = scala.collection.mutable.Map.empty[(Int, Int), Long]
    counts.foreach { case (w, l, n) =>
      val (i, j) = (idx(w), idx(l))
      require(i != j, s"bradleyTerry: self-match on item '$w'")
      wins(i) += n; losses(j) += n
      val key = if (i < j) (i, j) else (j, i)
      pairN(key) = pairN.getOrElse(key, 0L) + n
    }
    items.indices.foreach { i =>
      require(wins(i) >= 1L && losses(i) >= 1L,
        s"bradleyTerry: item '${items(i)}' has ${wins(i)} wins / " +
          s"${losses(i)} losses — MM diverges without at least one of " +
          "each; drop undefeated/winless items or gather more matches")
    }
    val pairs = pairN.toSeq.sortBy(_._1) // deterministic fold order
    val theta = Array.fill(k)(1.0)
    for (_ <- 1 to iters) {
      val denom = Array.fill(k)(0.0)
      pairs.foreach { case ((i, j), n) =>
        val d = n.toDouble / (theta(i) + theta(j))
        denom(i) += d; denom(j) += d
      }
      var sum = 0.0
      items.indices.foreach { i =>
        theta(i) = wins(i) / denom(i)
        sum += theta(i)
      }
      items.indices.foreach(i => theta(i) = theta(i) * k / sum)
    }
    val ranked = items.indices.sortBy(i => (-theta(i), items(i)))
      .zipWithIndex.map { case (i, r) => (i, r + 1) }.toMap
    items.indices.map(i =>
        (items(i), wins(i), losses(i),
          BigDecimal(theta(i)).setScale(6,
            BigDecimal.RoundingMode.HALF_UP).toDouble, ranked(i)))
      .toDF("item", "wins", "losses", "theta", "rank")
  }

  /** Rank-biased overlap between two top-k rankings per query (Webber,
    * Moffat & Zobel 2010) — the TOP-WEIGHTED ranking agreement measure:
    * compare an old and a new ranker on live traffic with NO relevance
    * labels, where Kendall/Spearman over-weight the tail nobody reads.
    * `RBO_min@k = (1−p)/p · Σ_{d=1..k} p^d · X_d / d` with `X_d` the
    * overlap of the two depth-d prefixes; persistence `p` sets how fast
    * attention decays (0.9 ≈ top-10 focus).
    *
    * Distributed form: an item in both top-k lists enters every prefix
    * from depth `m = max(rank_a, rank_b)` on, so its total contribution
    * is the TAIL SUM `T[m] = Σ_{d=m..k} p^d/d` — precomputed once as a
    * k-length literal whose powers come from an ITERATED multiplication
    * chain (`pd ← pd·p`, not pow(), whose last bit is library-specific),
    * so the DuckDB twin rebuilds bit-identical doubles via a k-row
    * recursive CTE. Each item's term is nano-rounded at birth and
    * LONG-summed per query (order-free); one final scale + round.
    *
    * Scale shape: one filter to ranks ≤ k, one map, one query-keyed
    * aggregate — corpus-linear, no windows, no driver data beyond the
    * k-length literal. Ranks must be INTEGRAL and ≥ 1 (a rank 0, NULL,
    * or float rank is a caller bug — refused loudly). Absence from a
    * list is encoded by OMITTING the row, never by a NULL rank: each
    * input row asserts "this item holds rank_a in A and rank_b in B",
    * so items in only one list contribute nothing and must not appear.
    * Output: `(qid…, n_shared, rbo)` per query,
    * 6 dp — queries whose top-k lists share nothing emit no row (their
    * RBO_min is exactly 0).
    */
  def rankBiasedOverlap(
      df: DataFrame,
      qidCols: Seq[String],
      rankACol: String,
      rankBCol: String,
      k: Int = 10,
      p: Double = 0.9): DataFrame = {
    require(qidCols.nonEmpty, "qidCols must be non-empty")
    require(k >= 1 && k <= 1000, s"k must be in 1..1000, got $k")
    require(p > 0.0 && p < 1.0, s"p must be in (0, 1), got $p")
    Seq(rankACol, rankBCol).foreach { c =>
      df.schema(c).dataType match {
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType => ()
        case other => throw new IllegalArgumentException(
          s"rankBiasedOverlap: `$c` is $other — ranks must be INTEGRAL")
      }
    }
    val bad = df.agg(count(when(col(rankACol).isNull ||
      col(rankBCol).isNull || col(rankACol) < 1 || col(rankBCol) < 1, 1))
      .as("__b")).head().getAs[Long]("__b")
    require(bad == 0L,
      s"rankBiasedOverlap: $bad NULL or < 1 rank(s) — ranks are " +
        "1-based positions; fix the ranker output upstream")
    // tail sums T[m] = Σ_{d=m..k} p^d/d, powers by iterated multiply
    val pd = new Array[Double](k + 1)
    var acc = 1.0
    (1 to k).foreach { d => acc = acc * p; pd(d) = acc }
    val tails = new Array[Double](k + 1)
    var t = 0.0
    (k to 1 by -1).foreach { d => t = t + pd(d) / d; tails(d) = t }
    val tLit = typedlit(tails.toIndexedSeq.drop(1)) // index 1..k -> 0..k-1
    val keys = qidCols.map(col)
    df.where(col(rankACol) <= k && col(rankBCol) <= k)
      .select(keys :+ greatest(col(rankACol).cast("int"),
        col(rankBCol).cast("int")).as("__m"): _*)
      .select(keys :+ round(element_at(tLit, col("__m")) * lit(1e9))
        .cast("long").as("__t"): _*)
      .groupBy(keys: _*)
      .agg(count(lit(1)).as("n_shared"), sum(col("__t")).as("__s"))
      .select(keys ++ Seq(col("n_shared"),
        round(lit((1.0 - p) / p) * col("__s").cast("double") / lit(1e9), 6)
          .as("rbo")): _*)
  }

  /** Corpus-level BLEU of a hypothesis column against a reference
    * column (Papineni et al. 2002 — the MT/generation eval staple):
    * modified n-gram precisions `p_n = Σ_seg clipped matches / Σ_seg
    * hyp n-grams` for n = 1..4 (clipping per SEGMENT: a hypothesis
    * n-gram counts at most as often as the reference holds it), the
    * brevity penalty `BP = min(1, e^(1 − r/c))` over corpus token
    * totals, and `BLEU = BP·exp(Σ ln p_n / 4)` — 0 when any order has
    * zero matches (the corpus-BLEU convention; smoothing is a
    * sentence-level concern).
    *
    * Exactness: match/total counts are exact LONGs; the final score is
    * ONE fixed-order portable IEEE expression over them (`ln` on exact
    * rationals — the q_kn_score empirical-agreement footing).
    *
    * Scale shape: one in-row n-gram build + explode per side, one
    * (segment, order, gram) count join for the clipped matches, one
    * scalar aggregate. Output ONE row: `(hyp_tokens, ref_tokens,
    * m1, t1, p1, …, m4, t4, p4, bp, bleu)` with precisions rounded
    * to 6 (bleu computed from the UNROUNDED rationals).
    */
  def corpusBleu(
      df: DataFrame,
      idCol: String,
      refCol: String,
      hypCol: String): DataFrame = {
    import org.apache.spark.sql.DataFrame
    def toks(c: Column): Column =
      filter(split(coalesce(c, lit("")), "\\s+"), t => t =!= "")
    def grams(t: Column, n: Int): Column = transform(
      when(size(t) >= n, sequence(lit(1), size(t) - (n - 1)))
        .otherwise(array().cast("array<int>")),
      i => concat_ws(" ", slice(t, i, lit(n))))
    // tokenize once and pin: the four orders × two sides plus the
    // length scalars all read this narrow projection (9 passes)
    val base = graft.core.Caches.pin(df.select(col(idCol).as("__id"),
      toks(col(refCol)).as("__rt"), toks(col(hypCol)).as("__ht")))
    try graft.core.Caches.holding { held =>
    def sideCounts(arrCol: String, cname: String): DataFrame =
      (1 to 4).map { n =>
        base.select(col("__id"),
            explode(grams(col(arrCol), n)).as("__g"))
          .groupBy(col("__id"), col("__g"))
          .agg(count(lit(1)).as(cname))
          .select(col("__id"), lit(n).as("__n"), col("__g"), col(cname))
      }.reduce(_.unionAll(_))
    val h = sideCounts("__ht", "__hc")
    val r = sideCounts("__rt", "__rc")
    val matches = h.join(r, Seq("__id", "__n", "__g"))
      .groupBy(col("__n"))
      .agg(sum(least(col("__hc"), col("__rc"))).as("__m"))
    val totals = h.groupBy(col("__n")).agg(sum(col("__hc")).as("__t"))
    val lens = base.agg(
      coalesce(sum(size(col("__ht"))), lit(0L)).cast("long").as("__hl"),
      coalesce(sum(size(col("__rt"))), lit(0L)).cast("long").as("__rl"))
    val aggCols: Seq[Column] = (1 to 4).flatMap(n => Seq(
      coalesce(sum(when(col("__n") === n, col("__m"))), lit(0L)).as(s"m$n"),
      coalesce(sum(when(col("__n") === n, col("__t"))), lit(0L)).as(s"t$n")))
    val cells = totals.join(matches, Seq("__n"), "left")
      .select(col("__n"), col("__t"), coalesce(col("__m"), lit(0L)).as("__m"))
      .agg(aggCols.head, aggCols.tail: _*)
    val hl = col("__hl").cast("double")
    val rl = col("__rl").cast("double")
    def p(n: Int) = col(s"m$n").cast("double") / col(s"t$n").cast("double")
    val bp = when(col("__hl") >= col("__rl"), lit(1.0))
      .otherwise(exp(lit(1.0) - rl / hl))
    val anyZero = (1 to 4).map(n =>
      col(s"m$n") === 0L || col(s"t$n") === 0L).reduce(_ || _)
    val bleu = when(anyZero || col("__hl") === 0L, lit(0.0))
      .otherwise(bp * exp(
        (log(p(1)) + log(p(2)) + log(p(3)) + log(p(4))) / lit(4.0)))
    held(cells.crossJoin(lens)
      .select(Seq(col("__hl").as("hyp_tokens"), col("__rl").as("ref_tokens"))
        ++ (1 to 4).flatMap(n => Seq(col(s"m$n"), col(s"t$n"),
          round(when(col(s"t$n") === 0L, lit(0.0)).otherwise(p(n)), 6)
            .as(s"p$n")))
        ++ Seq(round(when(col("__hl") === 0L, lit(0.0)).otherwise(bp), 6)
            .as("bp"),
          round(bleu, 6).as("bleu")): _*))
    } finally base.unpersist()
  }

  /** Sentence-level chrF between a hypothesis and a reference column
    * (Popović 2015 — the character-n-gram F-score that correlates with
    * human MT judgment at the segment level where BLEU's exact-word
    * matching collapses, and the tokenization-free eval for
    * morphology-rich languages): per document, character n-gram
    * precision/recall for orders 1..6 over WHITESPACE-STRIPPED text,
    * macro-averaged over the 6 orders (absent orders contribute 0 —
    * the fixed-denominator convention), combined as
    * `chrF = (1+β²)·P·R / (β²·P + R)` with β = 2 (recall-weighted).
    *
    * Exactness: per-order matches/totals are exact LONGs; the
    * averages and F-score are ONE fixed-order portable IEEE chain
    * (p1+…+p6 in literal order), rounded to 6.
    *
    * Scale shape: one in-row char-n-gram build + explode per side and
    * order, one (doc, order, gram) count join for clipped matches, one
    * doc-keyed conditional pivot (6 orders = fixed columns, never a
    * wide shuffle), docs-sized output. Docs with both sides empty
    * score (0, 0, 0). Output: `(idCol, chrp, chrr, chrf)`.
    */
  def chrfScore(
      df: DataFrame,
      idCol: String,
      refCol: String,
      hypCol: String,
      beta: Double = 2.0): DataFrame = {
    require(beta > 0.0 && beta <= 10.0, s"beta must be in (0, 10], got $beta")
    def chars(c: Column): Column =
      regexp_replace(coalesce(c, lit("")), "\\s+", "")
    def grams(s: Column, n: Int): Column = transform(
      when(length(s) >= n, sequence(lit(1), length(s) - (n - 1)))
        .otherwise(array().cast("array<int>")),
      i => s.substr(i, lit(n)))
    def sideCounts(textCol: String, cname: String): DataFrame =
      (1 to 6).map { n =>
        df.select(col(idCol).as("__id"),
            explode(grams(chars(col(textCol)), n)).as("__g"))
          .groupBy(col("__id"), col("__g"))
          .agg(count(lit(1)).as(cname))
          .select(col("__id"), lit(n).as("__n"), col("__g"), col(cname))
      }.reduce(_.unionAll(_))
    val h = sideCounts(hypCol, "__hc")
    val r = sideCounts(refCol, "__rc")
    val m = h.join(r, Seq("__id", "__n", "__g"))
      .groupBy(col("__id"), col("__n"))
      .agg(sum(least(col("__hc"), col("__rc"))).as("__m"))
    val ht = h.groupBy(col("__id"), col("__n")).agg(sum(col("__hc")).as("__ht"))
    val rt = r.groupBy(col("__id"), col("__n")).agg(sum(col("__rc")).as("__rt"))
    val cells = ht.join(rt, Seq("__id", "__n"), "full")
      .join(m, Seq("__id", "__n"), "left")
    val pivotCols: Seq[Column] = (1 to 6).flatMap(n => Seq(
      coalesce(sum(when(col("__n") === n, col("__m"))), lit(0L)).as(s"m$n"),
      coalesce(sum(when(col("__n") === n, col("__ht"))), lit(0L)).as(s"ht$n"),
      coalesce(sum(when(col("__n") === n, col("__rt"))), lit(0L)).as(s"rt$n")))
    val pivoted = cells.groupBy(col("__id"))
      .agg(pivotCols.head, pivotCols.tail: _*)
    def cl(name: String) = coalesce(col(name), lit(0L))
    def pN(n: Int) = when(cl(s"ht$n") === 0L, lit(0.0))
      .otherwise(cl(s"m$n").cast("double") / cl(s"ht$n").cast("double"))
    def rN(n: Int) = when(cl(s"rt$n") === 0L, lit(0.0))
      .otherwise(cl(s"m$n").cast("double") / cl(s"rt$n").cast("double"))
    val chrp = (pN(1) + pN(2) + pN(3) + pN(4) + pN(5) + pN(6)) / lit(6.0)
    val chrr = (rN(1) + rN(2) + rN(3) + rN(4) + rN(5) + rN(6)) / lit(6.0)
    val b2 = lit(beta * beta)
    val chrf = when(chrp === lit(0.0) && chrr === lit(0.0), lit(0.0))
      .otherwise((lit(1.0) + b2) * chrp * chrr / (b2 * chrp + chrr))
    df.select(col(idCol)).join(
        pivoted.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .select(col(idCol), round(chrp, 6).as("chrp"),
        round(chrr, 6).as("chrr"), round(chrf, 6).as("chrf"))
  }

  /** Per-class classification report (the sklearn
    * `classification_report` shape — the first table anyone reads off
    * a quality-classifier or langid gate before trusting it to filter
    * a corpus): for every class seen as a LABEL or a PREDICTION, the
    * exact tp/fp/fn/support counts and precision / recall / F1.
    *
    * Exactness: counts are exact LONGs; each metric is ONE exact
    * rational (F1 via the identity `2·tp/(2·tp+fp+fn)` — never
    * composed from already-divided P and R), rounded to 6; a
    * zero-denominator metric is NULL (undefined, not 0 — a class never
    * predicted has no precision). NULL labels/predictions are refused
    * loudly.
    *
    * Scale shape: three map-side-combined groupBys over a two-column
    * projection, joined on the classes-sized table. Output:
    * `(clazz, support, tp, fp, fn, precision, recall, f1)`.
    */
  def classificationReport(
      df: DataFrame,
      labelCol: String,
      predCol: String): DataFrame = {
    val bad = df.agg(count(when(col(labelCol).isNull ||
      col(predCol).isNull, 1)).as("__b")).head().getAs[Long]("__b")
    require(bad == 0L,
      s"classificationReport: $bad NULL label/prediction row(s) — an " +
        "unlabeled row scores nothing; filter upstream")
    val base = df.select(col(labelCol).cast("string").as("__l"),
      col(predCol).cast("string").as("__p"))
    val tp = base.where(col("__l") === col("__p"))
      .groupBy(col("__l").as("clazz")).agg(count(lit(1)).as("__tp"))
    val sup = base.groupBy(col("__l").as("clazz"))
      .agg(count(lit(1)).as("support"))
    val pt = base.groupBy(col("__p").as("clazz"))
      .agg(count(lit(1)).as("__pt"))
    val tp0 = coalesce(col("__tp"), lit(0L))
    val sup0 = coalesce(col("support"), lit(0L))
    val pt0 = coalesce(col("__pt"), lit(0L))
    val fp = pt0 - tp0
    val fn = sup0 - tp0
    sup.join(pt, Seq("clazz"), "full").join(tp, Seq("clazz"), "left")
      .select(col("clazz"), sup0.as("support"), tp0.as("tp"), fp.as("fp"),
        fn.as("fn"),
        round(when(pt0 === 0L, lit(null).cast("double"))
          .otherwise(tp0.cast("double") / pt0.cast("double")), 6)
          .as("precision"),
        round(when(sup0 === 0L, lit(null).cast("double"))
          .otherwise(tp0.cast("double") / sup0.cast("double")), 6)
          .as("recall"),
        round(when(lit(2L) * tp0 + fp + fn === 0L,
            lit(null).cast("double"))
          .otherwise((lit(2L) * tp0).cast("double") /
            (lit(2L) * tp0 + fp + fn).cast("double")), 6).as("f1"))
  }

  /** Token-level F1 + exact match per (reference, hypothesis) pair —
    * the SQuAD-style answer-evaluation pair (Rajpurkar 2016) and the
    * standard harness metric wherever BLEU's 4-gram demand is too
    * strict (short answers, extraction): bag-of-token overlap
    * `Σ_tok min(count_ref, count_hyp)` gives precision = overlap/|hyp|
    * and recall = overlap/|ref|, whose harmonic mean collapses to the
    * EXACT rational `F1 = 2·overlap/(|ref| + |hyp|)`; `exact_match`
    * is whole-token-sequence equality. (No lowercase/punctuation
    * normalization — normalize upstream deliberately.)
    *
    * Exactness: all counts exact LONGs, each metric one rational
    * rounded to 6; an empty-vs-empty pair carries NULL metrics
    * (signal-free) but `exact_match = true`. Scale shape: one explode
    * + count per side, one (id, token) join, doc-keyed aggregates —
    * corpus-linear. Output: `(idCol, ref_tokens, hyp_tokens, overlap,
    * precision, recall, f1, exact_match)`.
    */
  def tokenF1(
      df: DataFrame,
      idCol: String,
      refCol: String,
      hypCol: String): DataFrame = {
    def toks(c: Column): Column =
      filter(split(coalesce(c, lit("")), "\\s+"), t => t =!= "")
    def counts(textCol: String, cname: String): DataFrame =
      df.select(col(idCol).as("__id"),
          explode(toks(col(textCol))).as("__t"))
        .groupBy(col("__id"), col("__t")).agg(count(lit(1)).as(cname))
    val ov = counts(refCol, "__rc").join(counts(hypCol, "__hc"),
        Seq("__id", "__t"))
      .groupBy(col("__id"))
      .agg(sum(least(col("__rc"), col("__hc"))).as("__ov"))
    val rl = col("ref_tokens")
    val hl = col("hyp_tokens")
    val o = coalesce(col("__ov"), lit(0L))
    df.select(col(idCol),
        size(toks(col(refCol))).cast("long").as("ref_tokens"),
        size(toks(col(hypCol))).cast("long").as("hyp_tokens"),
        (toks(col(refCol)) === toks(col(hypCol))).as("exact_match"))
      .join(ov.withColumnRenamed("__id", idCol), Seq(idCol), "left")
      .select(col(idCol), rl, hl, o.as("overlap"),
        round(when(hl === 0L, lit(null).cast("double"))
          .otherwise(o.cast("double") / hl.cast("double")), 6)
          .as("precision"),
        round(when(rl === 0L, lit(null).cast("double"))
          .otherwise(o.cast("double") / rl.cast("double")), 6)
          .as("recall"),
        round(when(rl + hl === 0L, lit(null).cast("double"))
          .otherwise((lit(2L) * o).cast("double") /
            (rl + hl).cast("double")), 6).as("f1"),
        col("exact_match"))
  }

  /** Normalized edit similarity per pair — classic Levenshtein over
    * code points, `1 − d/max(|a|, |b|)`: the character-granular
    * near-dup/correction metric where token overlap is too coarse
    * (OCR artifacts, diacritic drift, small edits). Both engines ship
    * the identical DP distance, so the integer `edit_distance` is
    * engine-exact and the similarity one rounded division.
    *
    * The DP is O(|a|·|b|) PER PAIR — this is a short-string operator
    * by contract: any side longer than `maxChars` is refused loudly
    * (truncate upstream deliberately; a corpus-length document pair
    * does not belong here). NULL strings read as ''. Output:
    * `(idCol, len_a, len_b, edit_distance, similarity)` — similarity
    * 1.0 for two empty strings.
    */
  def editSimilarity(
      df: DataFrame,
      idCol: String,
      aCol: String,
      bCol: String,
      maxChars: Int = 2000): DataFrame = {
    require(maxChars >= 1 && maxChars <= 10000,
      s"maxChars must be in 1..10000, got $maxChars")
    val a = coalesce(col(aCol), lit(""))
    val b = coalesce(col(bCol), lit(""))
    val over = df.agg(count(when(length(a) > maxChars ||
      length(b) > maxChars, 1)).as("__o")).head().getAs[Long]("__o")
    require(over == 0L,
      s"editSimilarity: $over row(s) exceed maxChars=$maxChars — the " +
        "DP is quadratic per pair; truncate upstream or raise maxChars " +
        "deliberately")
    val la = length(a).cast("long")
    val lb = length(b).cast("long")
    val d = levenshtein(a, b).cast("long")
    df.select(col(idCol), la.as("len_a"), lb.as("len_b"),
      d.as("edit_distance"),
      round(when(greatest(la, lb) === 0L, lit(1.0))
        .otherwise(lit(1.0) - d.cast("double") /
          greatest(la, lb).cast("double")), 6).as("similarity"))
  }

  /** ROUGE-L per (reference, hypothesis) pair (Lin 2004, "ROUGE: A
    * Package for Automatic Evaluation of Summaries") — the
    * summarization staple the BLEU/chrF/token-F1 family was missing:
    * longest-common-subsequence recall/precision over whitespace
    * tokens, with the β=1 F-measure `2·lcs/(ref_tokens+hyp_tokens)`
    * (the rouge-score default). LCS rewards in-order coverage that
    * bag-of-token F1 cannot see and n-gram BLEU penalizes too hard.
    *
    * Exactness: the LCS length is an exact integer from the classic
    * two-row DP ([[graft.functions.LcsLength]], a Catalyst expression
    * — no UDF); the DuckDB twin replays the identical row recurrence
    * as a recursive CTE (prefix-max reformulation), so `lcs` is
    * engine-exact and P/R/F one rounded division each. NULL text reads
    * as '' (zero tokens → NULL metric, the [[tokenF1]] convention).
    *
    * The DP is O(m·n) PER PAIR — a short-sequence operator by
    * contract: any side with more than `maxTokens` tokens is refused
    * loudly (truncate upstream deliberately; a corpus-length document
    * pair does not belong here). Scale shape: one scan, the DP rides
    * the projection row-local — no shuffle, no window, nothing
    * collected. Output: `(idCol, ref_tokens, hyp_tokens, lcs,
    * precision, recall, f1)`, rounded to 6.
    */
  def rougeL(
      df: DataFrame,
      idCol: String,
      refCol: String,
      hypCol: String,
      maxTokens: Int = 400): DataFrame = {
    require(maxTokens >= 1 && maxTokens <= 5000,
      s"maxTokens must be in 1..5000, got $maxTokens")
    def toks(c: Column): Column =
      filter(split(coalesce(c, lit("")), "\\s+"), t => t =!= "")
    val over = df.agg(count(when(
      size(toks(col(refCol))) > maxTokens ||
        size(toks(col(hypCol))) > maxTokens, 1)).as("__o"))
      .head().getAs[Long]("__o")
    require(over == 0L,
      s"rougeL: $over row(s) exceed maxTokens=$maxTokens — the LCS DP " +
        "is quadratic per pair; truncate upstream or raise maxTokens " +
        "deliberately")
    val rl = col("ref_tokens")
    val hl = col("hyp_tokens")
    val l = col("lcs")
    df.select(col(idCol),
        size(toks(col(refCol))).cast("long").as("ref_tokens"),
        size(toks(col(hypCol))).cast("long").as("hyp_tokens"),
        graft.functions.LcsFunctions.lcsLength(
          toks(col(refCol)), toks(col(hypCol))).cast("long").as("lcs"))
      .select(col(idCol), rl, hl, l,
        round(when(hl === 0L, lit(null).cast("double"))
          .otherwise(l.cast("double") / hl.cast("double")), 6)
          .as("precision"),
        round(when(rl === 0L, lit(null).cast("double"))
          .otherwise(l.cast("double") / rl.cast("double")), 6)
          .as("recall"),
        round(when(rl + hl === 0L, lit(null).cast("double"))
          .otherwise((lit(2L) * l).cast("double") /
            (rl + hl).cast("double")), 6).as("f1"))
  }

  /** Paired bootstrap significance test between two systems' per-item
    * scores (Koehn 2004, "Statistical Significance Tests for Machine
    * Translation Evaluation" — the eval-harness staple): resample the
    * item set with replacement `replicas` times and count how often
    * each system's resampled total wins. The question it answers: "is
    * A's aggregate lead over B real, or an artifact of which items
    * landed in the eval set?"
    *
    * Deterministic draws: replica b's i-th pick is item
    * `sha256(seed:b:i) mod n` over the items in ascending-id rank
    * order — any engine redraws the identical replicas (the
    * [[graft.operators.Sampling.hashBucket]] discipline; the 15-hex
    * 60-bit sha prefix keeps the modulo bias below 2⁻³² even at the
    * 1e8 grid bound). Ids must be UNIQUE (a duplicated id would leave
    * the rank→delta map tie-order-dependent — refused loudly) and
    * scores INTEGRAL (micro-quantize upstream); every replica total is
    * an exact LONG sum, so win/tie counts — and the add-one-smoothed
    * one-sided p-value `(#(Δ_b ≤ 0) + 1)/(B + 1)` — are engine-exact.
    *
    * Scale shape: item ranks via [[graft.operators.Validation
    * .rangePrefix]] (range-repartition + per-partition prefixes +
    * broadcast offsets — no partition-less window), one generated
    * `replicas × n` draw grid joined to the item deltas (the grid is
    * the cost: `replicas·n ≤ 1e8` refused eagerly — n is an EVAL set,
    * not a corpus), one replica-keyed aggregate, one row out. NULL
    * ids/scores refused loudly. Output: `(n, replicas, sum_delta,
    * wins_a, wins_b, ties, p_value)` — `sum_delta` is the observed
    * (un-resampled) A−B total, the exactness witness.
    */
  def pairedBootstrap(
      df: DataFrame,
      idCol: String,
      scoreACol: String,
      scoreBCol: String,
      replicas: Int = 1000,
      seed: String = "boot"): DataFrame = {
    require(replicas >= 1 && replicas <= 100000,
      s"replicas must be in 1..100000, got $replicas")
    Seq(scoreACol, scoreBCol).foreach { c =>
      df.schema(c).dataType match {
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType => ()
        case other => throw new IllegalArgumentException(
          s"pairedBootstrap: `$c` is $other — scores must be INTEGRAL " +
            "(micro-quantize upstream; float totals are not engine-exact)")
      }
    }
    val spark = df.sparkSession
    val bad = df.agg(count(when(col(idCol).isNull ||
      col(scoreACol).isNull || col(scoreBCol).isNull, 1)).as("__b"),
      count(lit(1)).as("__n")).head()
    require(bad.getAs[Long]("__b") == 0L,
      s"pairedBootstrap: ${bad.getAs[Long]("__b")} NULL id/score row(s)")
    val n = bad.getAs[Long]("__n")
    require(n >= 2L, s"pairedBootstrap: $n row(s) — nothing to resample")
    require(replicas.toLong * n <= 100000000L,
      s"pairedBootstrap: replicas × n = ${replicas.toLong * n} > 1e8 — " +
        "the draw grid is the cost; sample the eval set or lower replicas")
    val nIds = df.agg(countDistinct(col(idCol).cast("string")).as("__u"))
      .head().getAs[Long]("__u")
    require(nIds == n,
      s"pairedBootstrap: ${n - nIds} duplicated `$idCol` value(s) — the " +
        "ascending-id rank that seeds the draws needs UNIQUE ids; " +
        "aggregate or re-key upstream")
    val deltas = Validation.rangePrefix(
      df.select(col(idCol).cast("string").as("__id"),
        (col(scoreACol).cast("long") - col(scoreBCol).cast("long"))
          .as("__d")).withColumn("__one", lit(1L)),
      "__id", "__one", "__rn").drop("__one")
    val grid = spark.range(replicas.toLong).select(col("id").as("__b"))
      .select(col("__b"), explode(sequence(lit(0L), lit(n - 1))).as("__i"))
      .withColumn("__rn", graft.functions.VectorFunctions.hexPrefixToLong(
        sha2(concat(lit(seed), lit(":"), col("__b"), lit(":"), col("__i")),
          256), 15) % n)
    val reps = grid.join(deltas, "__rn")
      .groupBy(col("__b")).agg(sum(col("__d")).as("__t"))
    val obs = deltas.agg(sum(col("__d")).as("__s")).head().getAs[Long]("__s")
    reps.agg(
        count(when(col("__t") > 0L, 1)).as("wins_a"),
        count(when(col("__t") < 0L, 1)).as("wins_b"),
        count(when(col("__t") === 0L, 1)).as("ties"),
        count(when(col("__t") <= 0L, 1)).as("__le"))
      .select(lit(n).as("n"), lit(replicas.toLong).as("replicas"),
        lit(obs).as("sum_delta"), col("wins_a"), col("wins_b"), col("ties"),
        round((col("__le") + lit(1L)).cast("double") /
          lit(replicas + 1.0), 6).as("p_value"))
  }
}
