package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Data-quality profiling and rule checks — the audit step between "the
  * pipeline wrote a table" and "training may read it".
  *
  * Everything is expressed as ordinary aggregates so Catalyst fuses the
  * work into a single pass where possible:
  *
  *  - [[profile]] computes every column's metrics in ONE aggregation over
  *    the table (count/nulls/exact-distinct/min/max), then unpivots
  *    relationally — no driver-side collect, so it runs unchanged on a
  *    100 TB table. Exact distinct over many columns expands rows
  *    (Spark's multi-distinct rewrite); profile few columns at a time on
  *    very wide tables.
  *  - [[check]] folds all row-level rules into one aggregation pass (a
  *    `sum(violates)` per rule); each uniqueness rule needs its own
  *    groupBy pass by nature. Output is a tiny (rule, violations) report
  *    — gate the pipeline on `violations == 0`.
  */
object Validation {

  /** A named data-quality rule. */
  sealed trait Rule { def name: String }

  /** No NULLs in `column`. */
  final case class NotNull(column: String) extends Rule {
    def name: String = s"${column}_not_null"
  }

  /** `columns` form a unique key. Violations = rows beyond the first in
    * each duplicated key group (0 when unique). */
  final case class Unique(columns: Seq[String]) extends Rule {
    def name: String = s"${columns.mkString("_")}_unique"
  }

  /** Row-level predicate that every row must satisfy. NULL predicate
    * results count as violations (an unknown is not a pass). */
  final case class Satisfies(name: String, predicate: Column) extends Rule

  /** Per-column metrics in one aggregation pass:
    * `(column, n_rows, n_null, n_distinct, min_val, max_val)` — min/max
    * cast to string so heterogeneous columns share one report schema.
    * `n_distinct` is exact and excludes NULL.
    */
  def profile(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "profile needs at least one column")
    val aggs = count(lit(1)).as("__n") +: cols.flatMap { c =>
      Seq(
        count(col(c)).as(s"__nn_$c"),
        countDistinct(col(c)).as(s"__nd_$c"),
        min(col(c)).cast("string").as(s"__min_$c"),
        max(col(c)).cast("string").as(s"__max_$c"))
    }
    df.agg(aggs.head, aggs.tail: _*)
      .select(explode(array(cols.map { c =>
        struct(
          lit(c).as("column"),
          col("__n").as("n_rows"),
          (col("__n") - col(s"__nn_$c")).as("n_null"),
          col(s"__nd_$c").as("n_distinct"),
          col(s"__min_$c").as("min_val"),
          col(s"__max_$c").as("max_val"))
      }: _*)).as("p"))
      .select("p.*")
  }

  /** Evaluate `rules` against `df`: returns `(rule, violations)` with one
    * row per rule. All [[NotNull]]/[[Satisfies]] rules share a single
    * aggregation pass; each [[Unique]] adds one groupBy pass.
    */
  def check(df: DataFrame, rules: Seq[Rule]): DataFrame = {
    require(rules.nonEmpty, "check needs at least one rule")
    require(rules.map(_.name).distinct.size == rules.size,
      "rule names must be unique")
    val rowLevel: Seq[(String, Column)] = rules.collect {
      case r: NotNull => r.name -> col(r.column).isNull
      case r: Satisfies =>
        // NULL predicate = violation: NOT coalesce(pred, false)
        r.name -> !coalesce(r.predicate, lit(false))
    }
    val rowReport: Option[DataFrame] =
      if (rowLevel.isEmpty) None
      else {
        val aggs = rowLevel.map { case (n, violates) =>
          sum(when(violates, 1L).otherwise(0L)).as(s"__v_$n")
        }
        Some(df.agg(aggs.head, aggs.tail: _*)
          .select(explode(array(rowLevel.map { case (n, _) =>
            struct(lit(n).as("rule"),
              coalesce(col(s"__v_$n"), lit(0L)).as("violations"))
          }: _*)).as("p"))
          .select("p.*"))
      }
    val uniqueReports: Seq[DataFrame] = rules.collect {
      case r: Unique =>
        df.groupBy(r.columns.map(col): _*)
          .agg(count(lit(1)).as("__c"))
          .where(col("__c") > 1)
          .agg(coalesce(sum(col("__c") - 1), lit(0L)).as("violations"))
          .select(lit(r.name).as("rule"), col("violations"))
    }
    (rowReport.toSeq ++ uniqueReports).reduce(_.unionByName(_))
  }

  /** Snapshot diff by business key: `(keys..., diff)` with `diff` in
    * `added` / `removed` / `changed`; unchanged rows drop out. The
    * regression check between two runs of a pipeline — "what did this
    * code change do to the table" as one full-outer join.
    *
    * Non-key columns are compressed to a null-aware
    * [[graft.functions.Hashing.nullAwareRowHash]] per side
    * (column-name-sorted, so physical column order never flips a
    * verdict), so the join carries keys + one hash instead of full rows.
    * Null-aware matters: the plain change-tracking row hash coalesces
    * NULL to `''`, which would report a NULL→`''` change as unchanged —
    * diffing wants `IS DISTINCT FROM` semantics. Keys are assumed unique
    * per side (assert with [[Unique]] first when in doubt); duplicate
    * keys multiply through the join.
    */
  def diffTables(
      before: DataFrame,
      after: DataFrame,
      keys: Seq[String]): DataFrame = {
    require(keys.nonEmpty, "diffTables needs at least one key column")
    require(before.columns.sorted.sameElements(after.columns.sorted),
      s"schemas differ: [${before.columns.sorted.mkString(",")}] vs " +
        s"[${after.columns.sorted.mkString(",")}]")
    val nonKey = before.columns.filterNot(keys.contains).toSeq.sorted
    require(nonKey.nonEmpty, "need at least one non-key column to compare")
    val b = before.select(keys.map(col) :+
      graft.functions.Hashing.nullAwareRowHash(nonKey.map(col)).as("__hb"): _*)
    val a = after.select(keys.map(col) :+
      graft.functions.Hashing.nullAwareRowHash(nonKey.map(col)).as("__ha"): _*)
    b.join(a, keys, "full_outer")
      .withColumn("diff",
        when(col("__hb").isNull, "added")
          .when(col("__ha").isNull, "removed")
          .when(col("__hb") =!= col("__ha"), "changed"))
      .where(col("diff").isNotNull)
      .select(keys.map(col) :+ col("diff"): _*)
  }

  /** Distribution drift between two corpus snapshots: the quantiles of
    * `valueCol` at each probe probability on both sides, side by side
    * with their difference — the "did this refresh shift the length /
    * quality / score distribution" gate run before promoting a new
    * snapshot. Columns: `prob`, `q_before`, `q_after`,
    * `drift` (= after − before).
    *
    * Built on the mergeable KLL machinery ([[Sketches.quantileSketches]]
    * → [[Sketches.rollupQuantiles]]), so each side costs one scan plus a
    * sketch-bytes exchange, and either side can instead be a PERSISTED
    * sketch store rolled up across months of batches — history never
    * rescans. Exact `percentile_disc` semantics while a side holds ≤ k
    * values; KLL rank error (~1.7/√k) beyond — size `k` to the exactness
    * window the gate needs.
    */
  def quantileDrift(
      before: DataFrame,
      after: DataFrame,
      valueCol: String,
      probs: Seq[Double],
      k: Int = 4096): DataFrame = {
    // sketch each side, then the join/drift projection is exactly the
    // persisted-store path — one implementation of the comparison
    def sketch(df: DataFrame): DataFrame =
      Sketches.quantileSketches(
        df.select(lit(1).as("__all"), col(valueCol)),
        Seq("__all"), valueCol, k)
    quantileDriftFromSketches(sketch(before), sketch(after), probs, k)
  }

  /** [[quantileDrift]] over ALREADY-SKETCHED sides — e.g. two windows of
    * a [[graft.streaming.StreamingOps.sketchStoreSink]] store, or this
    * month's store vs last month's. Each side's sketch rows merge to one
    * global sketch (`rollupCols = Nil` semantics); nothing rescans the
    * data that built them. Both stores must have been built with the
    * same `k` — KLL merge degrades to the smaller k silently, which
    * would make the drift column compare sketches of different accuracy.
    */
  /** Winsorize: clamp `valueCol` to its [loProb, hiProb] quantiles —
    * the outlier-taming step before means/regressions that a single
    * 10 GB document or a zero-length stub would otherwise dominate.
    * Adds `<valueCol>_clipped`. The two cut points come from one global
    * KLL sketch (one scan + a sketch-bytes exchange; exact
    * `percentile_disc` under k) and are collected as TWO driver scalars
    * — bounded by construction — then applied as a codegen'd clamp.
    */
  def clipToQuantiles(
      df: DataFrame,
      valueCol: String,
      loProb: Double = 0.01,
      hiProb: Double = 0.99,
      k: Int = 4096): DataFrame = {
    require(loProb >= 0.0 && hiProb <= 1.0 && loProb < hiProb,
      s"need 0 <= loProb < hiProb <= 1, got ($loProb, $hiProb)")
    val cuts = Sketches.rollupQuantiles(
      Sketches.quantileSketches(
        df.select(lit(1).as("__all"), col(valueCol)),
        Seq("__all"), valueCol, k),
      Nil, Seq(loProb, hiProb), k)
      .collect().map(r => r.getDouble(0) -> r.getDouble(1)).toMap
    val (lo, hi) = (cuts(loProb), cuts(hiProb))
    df.withColumn(s"${valueCol}_clipped",
      greatest(lit(lo), least(lit(hi), col(valueCol).cast("double"))))
  }

  /** Robust per-group outlier gate — median/MAD (Hampel 1974; the
    * Iglewicz & Hoaglin 1993 modified-z recipe without the 0.6745
    * scale, which a cutoff absorbs): flag `|x − median| > cutoff ×
    * MAD`, where MAD = median of `|x − median|`. Mean/stddev gates
    * break on the very rows they should catch (one 10⁹-token document
    * drags the mean toward itself); the median/MAD pair has a 50%
    * breakdown point.
    *
    * Exactness: both medians come from the KLL machinery
    * ([[Sketches.quantileSketches]]/[[Sketches.rollupQuantiles]]) —
    * EXACT `quantile_disc` data values while a group fits `k` (the
    * oracle-checked regime), the standard KLL rank envelope beyond.
    * Because median and MAD are actual data values (not interpolated
    * means), the deviation/compare arithmetic is reproducible
    * cross-engine (the [[clipToQuantiles]] contract).
    *
    * Scale shape: two sketch passes (groups-sized shuffles of partial
    * sketches, never raw values) + one broadcast-joined flag scan.
    * Zero-MAD groups (over half the group identical): only exact
    * equality is inlier — deviations > 0 all flag, the documented
    * Hampel degenerate case.
    *
    * Output: the input plus `(median, mad, is_outlier)`.
    */
  def madOutliers(
      df: DataFrame,
      valueCol: String,
      groupCols: Seq[String],
      cutoff: Double = 3.5,
      k: Int = 4096): DataFrame = {
    require(cutoff > 0.0, s"cutoff must be positive, got $cutoff")
    val global = groupCols.isEmpty
    val gdf = if (global) df.withColumn("__all", lit(1)) else df
    val groups = if (global) Seq("__all") else groupCols
    val meds = Sketches.rollupQuantiles(
      Sketches.quantileSketches(gdf, groups, valueCol, k),
      groups, Seq(0.5), k)
      .select(groups.map(col) :+ col("quantile").as("median"): _*)
    val withMed = gdf.join(broadcast(meds), groups)
      .withColumn("__dev", abs(col(valueCol).cast("double") - col("median")))
    val mads = Sketches.rollupQuantiles(
      Sketches.quantileSketches(withMed, groups, "__dev", k),
      groups, Seq(0.5), k)
      .select(groups.map(col) :+ col("quantile").as("mad"): _*)
    val out = withMed.join(broadcast(mads), groups)
      .withColumn("is_outlier", col("__dev") > col("mad") * cutoff)
      .drop("__dev")
    if (global) out.drop("__all") else out
  }

  /** Order-free corpus fingerprint: ONE row summarizing the exact
    * multiset of rows — `(n_rows, xor64, sum_lo32)` over the 60-bit
    * prefix of each row's U+241F sha-256 hash
    * ([[graft.functions.Hashing]]). XOR and sum are commutative and
    * associative, so the digest is identical under ANY partitioning,
    * ordering, or engine — `fingerprint(copy) == fingerprint(original)`
    * verifies a 100 TB replication in one scan with a constant-size
    * compare. The two independent reductions cover each other's blind
    * spots (XOR cancels duplicate PAIRS; the bounded 32-bit sum does
    * not), and `n_rows` pins cardinality.
    *
    * `sum_lo32` sums the low 32 bits as longs — exact (no wraparound)
    * up to 2³¹ rows per digest; shard larger corpora by a split column
    * and fingerprint per shard.
    */
  def corpusFingerprint(df: DataFrame, cols: Seq[String]): DataFrame = {
    require(cols.nonEmpty, "corpusFingerprint needs at least one column")
    val h = graft.functions.VectorFunctions.hexPrefixToLong(
      graft.functions.Hashing.rowHashOf(cols), 15)
    df.select(h.as("__h"))
      .agg(count(lit(1)).as("n_rows"),
        // bit-by-bit XOR via aggregate-of-xor (Spark has no bit_xor agg
        // pre-3.x naming consistency issues; fold through sum of signed
        // bits would be wrong — use the dedicated aggregate)
        expr("bit_xor(__h)").as("xor64"),
        sum(col("__h") % lit(4294967296L)).as("sum_lo32"))
  }

  /** Mutual information (nats) between two categorical columns — the
    * redundancy audit for pipeline signals: a quality label that
    * carries high MI with `source` is mostly re-encoding provenance,
    * not quality; a near-zero-MI pair of filters is worth running both.
    * NULL is a category on both axes (the same convention as
    * [[tCloseness]]).
    *
    * ONE corpus-sized groupBy to (a, b) cells; marginals and the total
    * are window sums over that cells-sized table. Each cell's term
    * `(n_ab/N)·ln(n_ab·N / (n_a·n_b))` is nano-quantized and summed as
    * LONGs (order-free — a plain double sum over cells would be
    * partition-order-dependent); operands widen to double BEFORE
    * multiplying so no product can overflow a long.
    */
  def mutualInformation(
      df: DataFrame, colA: String, colB: String): DataFrame = {
    require(colA != colB, "colA and colB must differ")
    val w = org.apache.spark.sql.expressions.Window
    val cells = df
      .groupBy(col(colA).as("__a"), col(colB).as("__b"))
      .agg(count(lit(1)).as("__nab"))
      .withColumn("__na", sum(col("__nab")).over(w.partitionBy(col("__a"))))
      .withColumn("__nb", sum(col("__nab")).over(w.partitionBy(col("__b"))))
      .withColumn("__N", sum(col("__nab")).over(w.partitionBy()))
    val term = (col("__nab").cast("double") / col("__N")) *
      log((col("__nab").cast("double") * col("__N")) /
        (col("__na").cast("double") * col("__nb")))
    cells
      .agg(
        max(col("__N")).as("n"),
        round(sum(round(term * 1e9).cast("long")) / 1e9, 6).as("mi_nats"))
  }

  /** Merge [[corpusFingerprint]] rows from disjoint corpus parts into
    * the fingerprint of their union: every component is mergeable by
    * construction (count → sum, xor64 → xor, lo32 prefix sum → sum), so
    * `fingerprint(A ∪ B) == merge(fingerprint(A), fingerprint(B))`
    * EXACTLY — which turns replication verification into a streaming
    * operation: fingerprint each arriving batch (corpus touched once,
    * at arrival), merge the tiny per-batch rows at audit time
    * ([[graft.streaming.StreamingOps.fingerprintSink]]). Parts must be
    * DISJOINT row sets — a row counted twice shifts the sum and count
    * (the xor alone would cancel).
    */
  def mergeFingerprints(parts: DataFrame): DataFrame =
    parts.agg(
      sum(col("n_rows")).as("n_rows"),
      expr("bit_xor(xor64)").as("xor64"),
      sum(col("sum_lo32")).as("sum_lo32"))

  /** Population Stability Index between two snapshots of `valueCol` —
    * the classic score-drift gate (banking scorecards; here: quality
    * scores, perplexity, doc lengths between corpus refreshes). The
    * caller supplies explicit ascending bin `cuts` so the binning is an
    * engine-reproducible codegen'd CASE, not a data-dependent quantile
    * fit (pair with [[clipToQuantiles]]' sketch cuts when data-driven
    * bins are wanted — freeze them from the BEFORE side so both sides
    * bin identically).
    *
    * Bins: `(-inf, c0), [c0, c1), …, [c_last, +inf)` plus a dedicated
    * NULL bin (`bin = -1`) — a drifting null-rate is drift, and folding
    * it into a value bin would hide it. Fractions include the null bin
    * in the denominator (the null rows ARE population mass).
    *
    * Per side: ONE scan → bins-sized counts; everything after is
    * arithmetic on a (|cuts|+2)-row table (the un-partitioned window is
    * bins-sized, not corpus-sized). Zero-count bins smooth to `epsilon`
    * before the log — the standard PSI convention, so an emptied or
    * newly-populated bin contributes a large-but-finite term. Gate on
    * `sum(psi_term)`: < 0.1 stable, 0.1–0.25 moderate, > 0.25 drifted
    * (the conventional thresholds).
    */
  def populationStability(
      before: DataFrame,
      after: DataFrame,
      valueCol: String,
      cuts: Seq[Double],
      epsilon: Double = 1e-6): DataFrame = {
    require(cuts.nonEmpty, "cuts must be non-empty")
    require(cuts.sliding(2).forall(p => p.length < 2 || p(0) < p(1)),
      s"cuts must be strictly ascending, got $cuts")
    require(epsilon > 0.0 && epsilon < 1.0,
      s"epsilon must be in (0, 1), got $epsilon")
    def binExpr(c: Column): Column =
      when(c.isNull, lit(-1)).otherwise(
        cuts.map(x => when(c >= lit(x), 1).otherwise(0)).reduce(_ + _))
    // an empty side makes every fraction 0/0 — PSI is undefined; loud
    def checkedTotal(tot: Column, side: String): Column =
      when(tot > 0, tot).otherwise(raise_error(lit(
        s"populationStability: `$side` snapshot is empty — PSI undefined")))
    def sideCounts(df: DataFrame, out: String): DataFrame =
      df.select(binExpr(col(valueCol).cast("double")).as("bin"))
        .groupBy("bin").agg(count(lit(1)).as(out))
    val sp = before.sparkSession
    import sp.implicits._
    val binRows = (-1, Option.empty[Double], Option.empty[Double]) +:
      (0 to cuts.length).map { i =>
        (i,
          if (i == 0) Option.empty[Double] else Some(cuts(i - 1)),
          if (i == cuts.length) Option.empty[Double] else Some(cuts(i)))
      }
    val allBins = binRows.toDF("bin", "bin_lo", "bin_hi")
    val everything = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)) // bins-sized table — NOT a corpus window
      .rowsBetween(Long.MinValue, Long.MaxValue)
    val fb = greatest(col("frac_before"), lit(epsilon))
    val fa = greatest(col("frac_after"), lit(epsilon))
    allBins
      .join(sideCounts(before, "__nb"), Seq("bin"), "left")
      .join(sideCounts(after, "__na"), Seq("bin"), "left")
      .withColumn("n_before", coalesce(col("__nb"), lit(0L)))
      .withColumn("n_after", coalesce(col("__na"), lit(0L)))
      .withColumn("frac_before",
        col("n_before") / checkedTotal(
          sum(col("n_before")).over(everything), "before"))
      .withColumn("frac_after",
        col("n_after") / checkedTotal(
          sum(col("n_after")).over(everything), "after"))
      .withColumn("psi_term", (fa - fb) * log(fa / fb))
      .select(col("bin").cast("long").as("bin"),
        col("bin_lo"), col("bin_hi"),
        col("n_before"), col("n_after"),
        col("frac_before"), col("frac_after"), col("psi_term"))
  }

  /** k-anonymity over quasi-identifier columns (Sweeney 2002): a row
    * whose quasi-identifier COMBINATION occurs fewer than `k` times in
    * the corpus re-identifies its subject by join with any external
    * table carrying the same attributes — the privacy failure mode
    * regex PII redaction ([[TextAnalysis.redactPii]]) cannot see,
    * because no single field is sensitive alone.
    *
    *  - `mode = "drop"`: suppress the rare rows entirely.
    *  - `mode = "mask"`: keep every row but NULL the quasi columns of
    *    rare combinations (suppression-style generalization — row count
    *    and non-quasi columns survive for statistics).
    *
    * ONE exchange: the combination count is a window count over the
    * quasi columns (map-side partial-free but join-free; NULLs group
    * together, the SQL partition convention both engines share), so the
    * corpus is never joined against its own frequency table.
    */
  def kAnonymity(
      df: DataFrame,
      quasiCols: Seq[String],
      k: Long,
      mode: String = "drop"): DataFrame = {
    require(quasiCols.nonEmpty, "quasiCols must be non-empty")
    require(k >= 1, s"k must be >= 1, got $k")
    require(mode == "drop" || mode == "mask",
      s"mode must be 'drop' or 'mask', got `$mode`")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(quasiCols.map(col): _*)
    val counted = df.withColumn("__kcnt", count(lit(1)).over(w))
    if (mode == "drop")
      counted.where(col("__kcnt") >= k).drop("__kcnt")
    else {
      val masked = quasiCols.foldLeft(counted) { (acc, c) =>
        acc.withColumn(c,
          when(col("__kcnt") >= k, col(c))
            .otherwise(lit(null).cast(df.schema(c).dataType)))
      }
      masked.drop("__kcnt")
    }
  }

  /** l-diversity (Machanavajjhala 2007) — [[kAnonymity]]'s companion:
    * a quasi-identifier combination is unsafe even at count ≥ k when
    * everyone in it SHARES the sensitive value (the homogeneity
    * attack: "all 40-something patients in 130xx have cancer"). Keep
    * only rows whose combination carries at least `l` DISTINCT non-null
    * sensitive values; `mode = "mask"` nulls the quasi columns instead
    * of dropping.
    *
    * ONE exchange: `size(collect_set(sensitive))` as a window over the
    * quasi columns — null sensitive values carry no diversity on either
    * engine (collect_set and COUNT(DISTINCT …) both ignore them), so an
    * all-null combination has diversity 0 and never survives l ≥ 1.
    * The per-combo set is bounded by the sensitive column's
    * cardinality — cap unbounded-cardinality columns (free text) by
    * bucketing them first; diversity beyond `l` adds nothing.
    */
  def lDiversity(
      df: DataFrame,
      quasiCols: Seq[String],
      sensitiveCol: String,
      l: Long,
      mode: String = "drop"): DataFrame = {
    require(quasiCols.nonEmpty, "quasiCols must be non-empty")
    require(!quasiCols.contains(sensitiveCol),
      s"sensitiveCol `$sensitiveCol` cannot also be a quasi column")
    require(l >= 1, s"l must be >= 1, got $l")
    require(mode == "drop" || mode == "mask",
      s"mode must be 'drop' or 'mask', got `$mode`")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(quasiCols.map(col): _*)
    val counted = df.withColumn("__ldiv",
      size(collect_set(col(sensitiveCol)).over(w)))
    if (mode == "drop")
      counted.where(col("__ldiv") >= l).drop("__ldiv")
    else
      quasiCols.foldLeft(counted) { (acc, c) =>
        acc.withColumn(c,
          when(col("__ldiv") >= l, col(c))
            .otherwise(lit(null).cast(df.schema(c).dataType)))
      }.drop("__ldiv")
  }

  /** t-closeness audit (Li 2007) — the third of the privacy trio: a
    * combination can be k-anonymous AND l-diverse yet still leak when
    * its sensitive-value DISTRIBUTION differs sharply from the global
    * one ("this zip's patients are 90% cancer vs 5% overall" — skew,
    * not homogeneity). Reports, per quasi-identifier combination, the
    * total-variation distance between the combo's categorical sensitive
    * distribution and the corpus-wide one, and whether it passes
    * `tvd <= t`. Filter with a semi-join on the failing combos (a
    * report, not a row filter, because the interesting artifact here is
    * WHICH combos leak and by how much).
    *
    * TVD over only the values PRESENT in the combo (absent values fold
    * in closed form: `Σ_absent p_global = 1 − Σ_present p_global`), so
    * there is no domain cross join. The corpus pays ONE groupBy to
    * (combo, value) counts; every remaining step runs on that
    * aggregate. The numerator is pure INTEGER arithmetic
    * (`Σ|cv·N − gv·nq| + nq·N − nq·Σgv`), one double division at the
    * end — engine-exact; products are bounded by N², checked LOUD
    * in-row against long overflow (corpora past ~3·10⁹ rows should
    * audit a sample — the distances converge long before that).
    * Null sensitive values count as their own category on both engines.
    */
  def tCloseness(
      df: DataFrame,
      quasiCols: Seq[String],
      sensitiveCol: String,
      t: Double): DataFrame = {
    require(quasiCols.nonEmpty, "quasiCols must be non-empty")
    require(!quasiCols.contains(sensitiveCol),
      s"sensitiveCol `$sensitiveCol` cannot also be a quasi column")
    require(t >= 0.0 && t <= 1.0, s"t must be in [0, 1], got $t")
    val w = org.apache.spark.sql.expressions.Window
    val byQuasi = w.partitionBy(quasiCols.map(col): _*)
    val byValue = w.partitionBy(col("__v"))
    val everything = w.partitionBy()
    val grouped = df
      .groupBy((quasiCols.map(col) :+ col(sensitiveCol).as("__v")): _*)
      .agg(count(lit(1)).as("__cv"))
      .withColumn("__nq", sum(col("__cv")).over(byQuasi))
      .withColumn("__gv", sum(col("__cv")).over(byValue))
      .withColumn("__N",
        when(sum(col("__cv")).over(everything) <= 3000000000L,
          sum(col("__cv")).over(everything))
          .otherwise(raise_error(lit(
            "tCloseness: corpus exceeds the exact-integer bound " +
              "(~3e9 rows) — audit a sample"))))
    grouped
      .groupBy(quasiCols.map(col): _*)
      .agg(
        first(col("__nq")).as("n"),
        ((sum(abs(col("__cv") * col("__N") - col("__gv") * col("__nq")))
          + first(col("__nq")) * first(col("__N"))
          - first(col("__nq")) * sum(col("__gv")))
          / (lit(2.0) * first(col("__nq")) * first(col("__N"))))
          .as("__tvd"))
      .select((quasiCols.map(col) :+ col("n") :+
        round(col("__tvd"), 6).as("tvd") :+
        (round(col("__tvd"), 6) <= t).as("pass")): _*)
  }

  /** PSI over a CATEGORICAL column — [[populationStability]]'s sibling
    * for language/source/label distributions between corpus refreshes,
    * where numeric binning has no meaning. Categories are the UNION of
    * both sides (full outer, null-safe — NULL is its own category);
    * Laplace smoothing `alpha` keeps one-sided categories finite (the
    * standard unseen-category treatment) instead of dropping or
    * infinity-scoring them. Everything after the two per-side counts is
    * categories-sized.
    */
  def categoricalStability(
      before: DataFrame,
      after: DataFrame,
      valueCol: String,
      alpha: Double = 0.5): DataFrame = {
    require(alpha > 0.0, s"alpha must be > 0, got $alpha")
    val b = before.groupBy(col(valueCol).as("category"))
      .agg(count(lit(1)).as("__nb"))
    val a = after.groupBy(col(valueCol).as("category"))
      .agg(count(lit(1)).as("__na"))
    val j = b.as("b").join(a.as("a"),
        col("b.category") <=> col("a.category"), "full_outer")
      .select(
        coalesce(col("b.category"), col("a.category")).as("category"),
        coalesce(col("__nb"), lit(0L)).as("n_before"),
        coalesce(col("__na"), lit(0L)).as("n_after"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    def checkedTotal(tot: Column, side: String): Column =
      when(tot > 0, tot).otherwise(raise_error(
        lit(s"categoricalStability: $side side is empty")).cast("long"))
    val tb = checkedTotal(sum(col("n_before")).over(w), "before")
    val ta = checkedTotal(sum(col("n_after")).over(w), "after")
    val k = count(lit(1)).over(w)
    val fb = (col("n_before") + alpha) / (tb + lit(alpha) * k)
    val fa = (col("n_after") + alpha) / (ta + lit(alpha) * k)
    j.select(col("category"), col("n_before"), col("n_after"),
      fb.as("frac_before"), fa.as("frac_after"),
      ((fa - fb) * log(fa / fb)).as("psi_term"))
  }

  def quantileDriftFromSketches(
      beforeSketches: DataFrame,
      afterSketches: DataFrame,
      probs: Seq[Double],
      k: Int = 4096,
      sketchCol: String = "qsketch"): DataFrame = {
    require(probs.nonEmpty, "probs must be non-empty")
    def side(sk: DataFrame, out: String): DataFrame =
      Sketches.rollupQuantiles(sk, Nil, probs, k, sketchCol)
        .select(col("prob"), col("quantile").as(out))
    side(beforeSketches, "q_before")
      .join(side(afterSketches, "q_after"), Seq("prob"))
      .select(col("prob"), col("q_before"), col("q_after"),
        (col("q_after") - col("q_before")).as("drift"))
  }

  /** Gini coefficient of a non-negative integer measure — the
    * concentration audit (tokens per domain, docs per source, traffic
    * per shard): 0 = perfectly even, →1 = one holder has everything.
    * The rank-sum identity `G = 2·Σᵢ rᵢxᵢ / (n·Σx) − (n+1)/n` with
    * tie groups folded exactly: a value `v` with count `c` after `b`
    * smaller items contributes rank-sum `v·(c·b + c(c+1)/2)` — all
    * BIGINT up to the final two-term double expression, engine- and
    * partitioning-exact.
    *
    * Shape: one map-side-combined `groupBy(value)`, cumulative counts
    * by the range-repartition prefix discipline ([[RankEval.aucRoc]]),
    * one tiny final aggregate. Negative or NULL values are REJECTED
    * loudly (a negative weight has no Lorenz position; silently
    * dropping rows would shift every rank).
    *
    * Output: one row `(n, gini)`; `gini` NULL when the total is 0.
    */
  def giniCoefficient(df: DataFrame, valueCol: String): DataFrame = {
    val bad = df.agg(count(when(col(valueCol).isNull ||
      col(valueCol) < 0, 1)).as("__bad")).head().getAs[Long]("__bad")
    require(bad == 0L,
      s"giniCoefficient: $bad NULL/negative `$valueCol` row(s) — filter " +
        "deliberately upstream")
    val g = graft.core.Caches.pin(df
      .groupBy(col(valueCol).cast("long").as("__v"))
      .agg(count(lit(1)).as("__c"))
      .repartitionByRange(df.sparkSession.sparkContext.defaultParallelism,
        col("__v"))
      .sortWithinPartitions(col("__v"))
      .withColumn("__pid", spark_partition_id()))
    try graft.core.Caches.holding { held =>
      val w = org.apache.spark.sql.expressions.Window
      val offsets = g.groupBy(col("__pid")).agg(sum(col("__c")).as("__p"))
        .withColumn("__off", coalesce(sum(col("__p")).over(
          w.orderBy("__pid").rowsBetween(Long.MinValue, -1)), lit(0L)))
        .select(col("__pid"), col("__off"))
      val cells = g
        .withColumn("__r", coalesce(sum(col("__c")).over(
          w.partitionBy(col("__pid")).orderBy(col("__v"))
            .rowsBetween(Long.MinValue, -1)), lit(0L)))
        .join(broadcast(offsets), "__pid")
        .select(col("__v"), col("__c"), (col("__r") + col("__off")).as("__b"))
      held(cells.agg(
          coalesce(sum(col("__c")), lit(0L)).as("n"),
          coalesce(sum(col("__v") * col("__c")), lit(0L)).as("__sx"),
          coalesce(sum(col("__v") * (col("__c") * col("__b") +
            expr("(__c * (__c + 1)) div 2"))), lit(0L)).as("__rs"))
        .select(col("n"),
          round(when(col("__sx") === 0L, lit(null))
            .otherwise(lit(2.0) * col("__rs") /
              (col("n") * col("__sx")).cast("double") -
              (col("n") + lit(1L)).cast("double") / col("n")), 6).as("gini")))
    } finally g.unpersist()
  }

  /** Benford's-law first-digit audit (Benford 1938; Nigrini's fraud
    * screen): the distribution of leading digits of a naturally-grown
    * magnitude column (transaction amounts, populations, file sizes)
    * follows `P(d) = log10(1 + 1/d)`; fabricated or template-generated
    * numbers don't. Emits the 9 digit rows with observed counts, the
    * Benford expectation, and the χ² contribution — gate on the total
    * the way [[populationStability]] gates PSI.
    *
    * Rows with value ≤ 0 or NULL have no leading digit and are counted
    * out loudly in a separate `digit = 0` row (a silently-shrunk
    * denominator would fake conformity); so are rows with no LONG
    * integer part — NaN, ±Inf, |v| ≥ 2^63 ≈ 9.2e18, non-numeric
    * strings — which a plain ANSI cast would instead abort the job on.
    * The leading digit comes from STRING formatting of the integer
    * part — engine-exact for integer-cast inputs (pass micros for
    * decimals). χ² terms are
    * nano-quantized; expected probabilities are embedded double
    * literals (log10 is not portable — the [[graft.operators.RankEval]]
    * discount-table discipline).
    */
  def benfordAudit(df: DataFrame, valueCol: String): DataFrame =
    benfordFromCounts(benfordDigitCounts(df, valueCol))

  /** [[benfordAudit]]'s first-digit count cells `(digit, n)`, shared with
    * the streamed digit log
    * ([[graft.streaming.StreamingOps.benfordLogSink]]).
    */
  private[graft] def benfordDigitCounts(df: DataFrame, valueCol: String): DataFrame = {
    val v = col(valueCol).try_cast("long")
    val digit = when(v.isNull || v <= 0L, lit(0))
      .otherwise(substring(v.cast("string"), 1, 1).cast("int"))
    df.groupBy(digit.as("digit")).agg(count(lit(1)).as("n"))
  }

  /** [[benfordAudit]] from pre-aggregated first-digit counts
    * `(digit, n)` (digit 0 = the out-counted non-positive/NULL bucket)
    * — ten sum-mergeable cells, so a streamed digit log serves the
    * standing audit ([[graft.streaming.StreamingOps.benfordFromLog]]).
    */
  def benfordFromCounts(rawCounts: DataFrame): DataFrame = {
    // log10(1 + 1/d) for d = 1..9, shortest-round-trip literals
    val p = Array(0.3010299956639812, 0.17609125905568124,
      0.12493873660829993, 0.09691001300805642, 0.07918124604762482,
      0.06694678963061322, 0.05799194697768673, 0.05115252244738129,
      0.04575749056067514)
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    val counts = rawCounts
      .groupBy(col("digit"))
      .agg(sum(col("n")).as("n"))
      .withColumn("__N", sum(when(col("digit") > 0, col("n"))
        .otherwise(lit(0L))).over(w))
    val expP = element_at(typedlit(p.toIndexedSeq), col("digit"))
    val expected = expP * col("__N")
    counts.select(col("digit"), col("n"),
      when(col("digit") === 0, lit(null))
        .otherwise(round(expected, 6)).as("expected"),
      when(col("digit") === 0, lit(null))
        .otherwise(round(
          (col("n") - expected) * (col("n") - expected) / expected, 6))
        .as("chi2_term"))
  }

  /** Two-sample Kolmogorov–Smirnov statistic between snapshots of
    * `valueCol` — the distribution-drift gate that needs NO binning
    * choice (the [[populationStability]] complement: PSI asks "did the
    * bins move", KS asks "did ANY quantile move", bin-free):
    * `D = max_v |F_before(v) − F_after(v)|`.
    *
    * EXACT-integer form: with per-distinct-value cumulative counts
    * `c1, c2` and totals `N1, N2`, `D·N1·N2 = max |c1·N2 − c2·N1|` —
    * all BIGINT to one final division, engine- and partitioning-exact.
    * (`N1·N2` bounds each side at ~3e9 rows; KS on a hash-sample is
    * statistically identical beyond that — sample first.)
    *
    * Scale shape: one map-side-combined `groupBy(value)` per side, a
    * null-safe full merge of the two distinct-value tables, then the
    * cumulative sums via range-repartition + per-physical-partition
    * windows + broadcast offsets (the [[RankEval.aucRoc]] prefix
    * discipline — never a one-task global window). NULLs are dropped
    * on BOTH sides identically (a NULL has no CDF position); the null
    * counts are reported so a drifting null-rate still surfaces.
    *
    * Output: one row `(n_before, n_after, null_before, null_after,
    * ks)`; `ks` NULL when either side is empty.
    */
  def ksStatistic(
      before: DataFrame, after: DataFrame, valueCol: String): DataFrame = {
    def side(df: DataFrame, n: String): (DataFrame, Long, Long) = {
      val t = df.agg(count(lit(1)).as("__t"),
        count(when(col(valueCol).isNull, 1)).as("__nl")).head()
      (df.where(col(valueCol).isNotNull)
        .groupBy(col(valueCol).as("__v"))
        .agg(count(lit(1)).as(n)),
        t.getAs[Long]("__t") - t.getAs[Long]("__nl"),
        t.getAs[Long]("__nl"))
    }
    val (g1, n1, nl1) = side(before, "__c1")
    val (g2, n2, nl2) = side(after, "__c2")
    ksCore(g1, n1, nl1, g2, n2, nl2)
  }

  /** KS from PRE-AGGREGATED per-value counts `(__v, __is_null, __c)` —
    * the [[graft.streaming.StreamingOps.valueCountSink]] log shape;
    * value counts are sum-mergeable, so the result EQUALS the batch
    * [[ksStatistic]] over everything the logs delivered.
    */
  def ksFromValueCounts(
      beforeCounts: DataFrame, afterCounts: DataFrame): DataFrame = {
    def side(df: DataFrame, n: String): (DataFrame, Long, Long) = {
      val t = df.agg(
        coalesce(sum(when(!col("__is_null"), col("__c"))), lit(0L)).as("__n"),
        coalesce(sum(when(col("__is_null"), col("__c"))), lit(0L)).as("__nl"))
        .head()
      (df.where(!col("__is_null"))
        .groupBy(col("__v")).agg(sum(col("__c")).as(n)),
        t.getAs[Long]("__n"), t.getAs[Long]("__nl"))
    }
    val (g1, n1, nl1) = side(beforeCounts, "__c1")
    val (g2, n2, nl2) = side(afterCounts, "__c2")
    ksCore(g1, n1, nl1, g2, n2, nl2)
  }

  private def ksCore(
      g1: DataFrame, n1: Long, nl1: Long,
      g2: DataFrame, n2: Long, nl2: Long): DataFrame = {
    val before = g1
    val merged = graft.core.Caches.pin(g1
      .join(g2, Seq("__v"), "full_outer")
      .select(col("__v"),
        coalesce(col("__c1"), lit(0L)).as("__c1"),
        coalesce(col("__c2"), lit(0L)).as("__c2"))
      .repartitionByRange(
        before.sparkSession.sparkContext.defaultParallelism, col("__v"))
      .sortWithinPartitions(col("__v"))
      .withColumn("__pid", spark_partition_id()))
    try graft.core.Caches.holding { held =>
      val w = org.apache.spark.sql.expressions.Window
      val offsets = merged.groupBy(col("__pid"))
        .agg(sum(col("__c1")).as("__p1"), sum(col("__c2")).as("__p2"))
        .withColumn("__o1", coalesce(sum(col("__p1")).over(
          w.orderBy("__pid").rowsBetween(Long.MinValue, -1)), lit(0L)))
        .withColumn("__o2", coalesce(sum(col("__p2")).over(
          w.orderBy("__pid").rowsBetween(Long.MinValue, -1)), lit(0L)))
        .select(col("__pid"), col("__o1"), col("__o2"))
      val pw = w.partitionBy(col("__pid")).orderBy(col("__v"))
        .rowsBetween(Long.MinValue, 0)
      val dNum = merged
        .withColumn("__r1", sum(col("__c1")).over(pw))
        .withColumn("__r2", sum(col("__c2")).over(pw))
        .join(broadcast(offsets), "__pid")
        .select(abs((col("__r1") + col("__o1")) * lit(n2) -
          (col("__r2") + col("__o2")) * lit(n1)).as("__d"))
        .agg(coalesce(max(col("__d")), lit(0L)).as("__dnum"))
      held(dNum.select(
          lit(n1).as("n_before"), lit(n2).as("n_after"),
          lit(nl1).as("null_before"), lit(nl2).as("null_after"),
          round(when(lit(n1) === 0L || lit(n2) === 0L, lit(null))
            .otherwise(col("__dnum").cast("double") / (lit(n1) * lit(n2))), 6)
            .as("ks")))
    } finally merged.unpersist()
  }

  /** Laplace-noised group counts (the ε-DP counting mechanism of Dwork
    * et al. 2006, made REPRODUCIBLE): per group,
    * `noised = count + round(Lap(1/ε))` with the Laplace draw derived
    * from `sha256(seed:groupkey)` through the inverse CDF — so reruns,
    * engines, and partitionings release the IDENTICAL table, which is
    * what a pipeline needs to diff snapshots or replay a release.
    *
    * PRIVACY CAVEATS, loudly: (1) determinism trades privacy for
    * reproducibility — anyone holding `seed` can denoise; treat the
    * seed as a secret and ROTATE it per release. (2) ε-DP for counts
    * assumes each protected entity contributes AT MOST ONE row per
    * group — pre-aggregate ([[Dedup.exactDedup]] on the entity key) or
    * the real ε is a multiple of the nominal one. This operator is the
    * release mechanism, not the sensitivity analysis.
    *
    * Shape: ONE map-side-combined groupBy; the noise is a narrow
    * expression over the groups-sized result. Negative noised counts
    * are kept (clamping is the consumer's post-processing choice and
    * would bias sums). NULL group values key as '' (the [[Sampling]]
    * hash-key convention).
    */
  def noisedCounts(
      df: DataFrame,
      groupCols: Seq[String],
      epsilon: Double,
      seed: String): DataFrame = {
    require(groupCols.nonEmpty, "noisedCounts needs group columns")
    require(epsilon > 0 && epsilon <= 100, s"epsilon out of (0, 100]: $epsilon")
    require(!seed.contains(":"), "seed must not contain ':'")
    val keyParts = lit(seed) +:
      groupCols.map(c => coalesce(col(c).cast("string"), lit("")))
    val u = (graft.functions.VectorFunctions.hexPrefixToLong(
      sha2(concat_ws(":", keyParts: _*), 256), 7) + lit(0.5)) /
      lit(268435456.0)
    // inverse-CDF Laplace(b = 1/ε): −b·sgn(u−½)·ln(1−2|u−½|)
    val lap = lit(-1.0 / epsilon) * signum(u - lit(0.5)) *
      log(lit(1.0) - lit(2.0) * abs(u - lit(0.5)))
    df.groupBy(groupCols.map(col): _*)
      .agg(count(lit(1)).as("__true"))
      .select(groupCols.map(col) :+
        (col("__true") + round(lap).cast("long")).as("noised_count"): _*)
  }

  /** Cohen's kappa (Cohen 1960) between two label columns — the
    * chance-corrected agreement audit for a pair of annotators,
    * heuristics, or model versions labeling the same rows: raw
    * percent-agreement rewards a rater that spams the majority class;
    * kappa subtracts exactly the agreement two INDEPENDENT raters with
    * these marginals would reach by luck. Gate label-pipeline swaps on
    * it (a "better" classifier whose kappa against the incumbent is
    * ~1.0 learned nothing new; ~0.0 against gold labels is noise).
    *
    * NULL is a category on both axes (the [[mutualInformation]] /
    * [[tCloseness]] convention) — a rater that abstains differently is
    * a disagreement signal, not missing data.
    *
    * Shape: ONE corpus-sized pass (count + null-safe-equality sum +
    * the two per-category marginal counts all derive from one
    * `groupBy(a, b)` cells aggregate with map-side partials); the
    * marginal self-join runs on the categories-sized cells table. All
    * arithmetic is exact BIGINT up to the single final division —
    *   kappa = (N·agree − Σₖ nAₖ·nBₖ) / (N² − Σₖ nAₖ·nBₖ)
    * — so the result is bit-reproducible on any engine and any
    * partitioning. The integer form bounds N at √(2⁶³) ≈ 3.0e9 rows;
    * beyond that, kappa on a [[graft.operators.Sampling]] hash-sample
    * is statistically indistinguishable — sample first.
    *
    * Output: one row `(n, agree, kappa)`; kappa rounded to 6 dp,
    * NULL for the degenerate one-category-each frame (pe == 1).
    */
  def cohenKappa(df: DataFrame, raterA: String, raterB: String): DataFrame = {
    require(raterA != raterB, "raterA and raterB must differ")
    cohenKappaFromCells(df
      .groupBy(col(raterA).as("__a"), col(raterB).as("__b"))
      .agg(count(lit(1)).as("__nab")))
  }

  /** [[cohenKappa]] from PRE-AGGREGATED contingency cells
    * `(__a, __b, __nab)` — the
    * [[graft.streaming.StreamingOps.kappaLogSink]] log shape; cells
    * are sum-mergeable, so the standing value equals the batch one.
    */
  def cohenKappaFromCells(rawCells: DataFrame): DataFrame =
    graft.core.Caches.holding { held =>
      val cells = held(rawCells
        .groupBy(col("__a"), col("__b"))
        .agg(sum(col("__nab")).as("__nab")))
      val margA = cells.groupBy(col("__a")).agg(sum(col("__nab")).as("__na"))
      val margB = cells.groupBy(col("__b")).agg(sum(col("__nab")).as("__nb"))
      val peNum = margA
        .join(margB, col("__a") <=> col("__b"))
        .agg(coalesce(sum(col("__na") * col("__nb")), lit(0L)).as("__pe_num"))
      val totals = cells.agg(
        coalesce(sum(col("__nab")), lit(0L)).as("n"),
        coalesce(sum(when(col("__a") <=> col("__b"), col("__nab"))
          .otherwise(lit(0L))), lit(0L)).as("agree"))
      val denom = col("n") * col("n") - col("__pe_num")
      held(totals.crossJoin(peNum)
        .select(col("n"), col("agree"),
          round(when(denom === 0L, lit(null))
            .otherwise((col("n") * col("agree") - col("__pe_num"))
              .cast("double") / denom), 6).as("kappa")))
    }

  /** Fleiss' kappa (Fleiss 1971) over long-format ratings
    * `(itemCol, labelCol)` — one row per individual rating — for ≥ 2
    * interchangeable raters per item (the crowd-annotation shape:
    * raters are anonymous and vary by item, so Cohen's pairwise model
    * does not apply). Requires the SAME number of raters on every item
    * and FAILS LOUDLY otherwise, naming the offending counts — Fleiss'
    * chance model is undefined under varying n, and silently averaging
    * would fabricate an agreement number.
    *
    * NULL labels are a category (abstention is signal, as in
    * [[cohenKappa]]).
    *
    * Shape: `groupBy(item, label)` cells (map-side partials), an
    * items-sized per-item rollup, and a categories-sized marginal
    * rollup; nothing wider than the ratings table is ever shuffled.
    * Exact-integer form with common denominators — with N items, n
    * raters, A = Σᵢ(Σⱼ nᵢⱼ² − n) and B = Σⱼ(Σᵢ nᵢⱼ)²:
    *   kappa = (A·N·n − B·(n−1)) / ((n−1)·(N²n² − B))
    * — one final double division, bit-reproducible anywhere. The
    * integer form bounds N·n ≲ 2⁶³ᐟ³ ≈ 2e6 ratings per audit (A·N·n ≤
    * N²n³); audit agreement on a bounded sample of items beyond that
    * (agreement is a per-item statistic — item sampling is unbiased).
    *
    * Output: one row `(n_items, n_raters, kappa)`; kappa rounded to
    * 6 dp, NULL when every rating is the same single category.
    */
  def fleissKappa(df: DataFrame, itemCol: String, labelCol: String): DataFrame =
    graft.core.Caches.holding { held =>
      val cells = held(df
        .groupBy(col(itemCol).as("__i"), col(labelCol).as("__j"))
        .agg(count(lit(1)).as("__nij")))
      val perItem = cells.groupBy(col("__i")).agg(
        sum(col("__nij")).as("__n"),
        sum(col("__nij") * col("__nij")).as("__sq"))
      val raterCounts = perItem.select(col("__n")).distinct().limit(3)
        .collect().map(_.getLong(0)).sorted
      require(raterCounts.length == 1,
        s"fleissKappa requires a constant rater count per item; saw counts " +
          s"${raterCounts.mkString(", ")}${if (raterCounts.length == 3) ", …" else ""} — " +
          "Fleiss' chance model is undefined under varying n (complete or drop items first)")
      val n = raterCounts.head
      require(n >= 2, s"fleissKappa needs ≥ 2 raters per item; saw $n")
      val a = perItem.agg(
        count(lit(1)).as("n_items"),
        coalesce(sum(col("__sq") - lit(n)), lit(0L)).as("__A"))
      val b = cells.groupBy(col("__j")).agg(sum(col("__nij")).as("__cj"))
        .agg(coalesce(sum(col("__cj") * col("__cj")), lit(0L)).as("__B"))
      val denom =
        lit(n - 1) * (col("n_items") * col("n_items") * lit(n * n) - col("__B"))
      held(a.crossJoin(b)
        .select(col("n_items"), lit(n).as("n_raters"),
          round(when(denom === 0L, lit(null))
            .otherwise(
              (col("__A") * col("n_items") * lit(n) - col("__B") * lit(n - 1))
                .cast("double") / denom),
            6).as("kappa")))
    }

  /** Cliff's delta — the ordinal two-sample effect size for A/B audits
    * (did the new filter SHIFT the length/quality/score distribution,
    * and by how much, in a unit that ignores outliers and scale):
    * `δ = (#(a > b) − #(a < b)) / (n_a·n_b)` over all cross pairs —
    * identical to the rank-biserial correlation and to `2·AUC − 1`
    * (the [[graft.operators.RankEval.aucRoc]] Mann–Whitney statistic
    * viewed as an effect size; emitted alongside for convenience).
    *
    * No pair is ever materialized: ONE groupBy to per-distinct-value
    * group counts, then range-repartitioned per-partition prefixes +
    * broadcast partition offsets over that VALUES-sized table (the
    * [[graft.operators.RankEval.aucRoc]] scale shape — no global-order
    * window), and exact LONG win/tie/loss totals — the only doubles
    * are two final divisions (portable IEEE), so the DuckDB twin is
    * hash-exact. Empty groups yield NULL effect sizes.
    * `valueCol` must be integral (micro-quantize upstream) and
    * NULL-free in both filtered groups (a NULL has no rank; rejected
    * loudly); groups come from a boolean `inGroupA` predicate column
    * so callers control the split. Output: `(n_a, n_b, wins, ties,
    * losses, cliffs_delta, auc)`.
    */
  def cliffsDelta(
      df: DataFrame, groupACol: String, valueCol: String): DataFrame = {
    df.schema(valueCol).dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"cliffsDelta: `$valueCol` is $other — values must be INTEGRAL " +
          "(micro-quantize upstream; double ranks are not engine-portable)")
    }
    require(df.schema(groupACol).dataType ==
      org.apache.spark.sql.types.BooleanType,
      s"cliffsDelta: `$groupACol` must be BOOLEAN (the group-A predicate)")
    val bad = df.agg(count(when(col(valueCol).isNull ||
      col(groupACol).isNull, 1)).as("__nl")).head().getAs[Long]("__nl")
    require(bad == 0L,
      s"cliffsDelta: $bad NULL `$valueCol`/`$groupACol` row(s) — a NULL " +
        "has no rank; filter deliberately upstream")
    cliffsDeltaFromCounts(df
      .groupBy(col(valueCol).as("__v"))
      .agg(count(when(col(groupACol), 1)).as("__ca"),
        count(when(!col(groupACol), 1)).as("__cb")))
  }

  /** [[cliffsDelta]] from pre-aggregated per-distinct-value group
    * counts `(__v, __ca, __cb)` — the sum-mergeable sufficient
    * statistic, so two streamed value-count logs can serve a STANDING
    * effect size ([[graft.streaming.StreamingOps.cliffsDeltaFromLogs]]).
    */
  def cliffsDeltaFromCounts(rawCounts: DataFrame): DataFrame = {
    // the aucFromScoreCounts scale shape: range-repartition the
    // values-sized count table, per-partition prefix sums, broadcast
    // partition offsets — no global-order window anywhere
    val w = org.apache.spark.sql.expressions.Window
    val g = graft.core.Caches.pin(rawCounts
      .groupBy(col("__v"))
      .agg(sum(col("__ca")).as("__ca"), sum(col("__cb")).as("__cb"))
      .repartitionByRange(
        rawCounts.sparkSession.sparkContext.defaultParallelism, col("__v"))
      .sortWithinPartitions(col("__v"))
      .withColumn("__pid", spark_partition_id()))
    try graft.core.Caches.holding { held =>
      val offsets = g.groupBy(col("__pid"))
        .agg(sum(col("__ca")).as("__pa"), sum(col("__cb")).as("__pb"))
        .withColumn("__offa", coalesce(
          sum(col("__pa")).over(w.orderBy("__pid")
            .rowsBetween(Long.MinValue, -1)), lit(0L)))
        .withColumn("__offb", coalesce(
          sum(col("__pb")).over(w.orderBy("__pid")
            .rowsBetween(Long.MinValue, -1)), lit(0L)))
        .select(col("__pid"), col("__offa"), col("__offb"))
      val pw = w.partitionBy(col("__pid")).orderBy(col("__v"))
        .rowsBetween(Long.MinValue, -1)
      held(g.withColumn("__ra", coalesce(sum(col("__ca")).over(pw), lit(0L)))
        .withColumn("__rb", coalesce(sum(col("__cb")).over(pw), lit(0L)))
        .join(broadcast(offsets), "__pid")
        .agg(
          sum(col("__ca")).as("__na"), sum(col("__cb")).as("__nb"),
          sum(col("__ca") * (col("__rb") + col("__offb"))).as("__wins"),
          sum(col("__ca") * col("__cb")).as("__ties"),
          sum(col("__cb") * (col("__ra") + col("__offa"))).as("__losses"))
        .select(col("__na").as("n_a"), col("__nb").as("n_b"),
          col("__wins").as("wins"), col("__ties").as("ties"),
          col("__losses").as("losses"),
          round(when(col("__na") === 0L || col("__nb") === 0L, lit(null))
            .otherwise((col("__wins") - col("__losses")).cast("double") /
              (col("__na") * col("__nb"))), 6).as("cliffs_delta"),
          round(when(col("__na") === 0L || col("__nb") === 0L, lit(null))
            .otherwise((col("__wins").cast("double") +
              col("__ties") / lit(2.0)) /
              (col("__na") * col("__nb"))), 6).as("auc")))
    } finally g.unpersist()
  }

  /** EXCLUSIVE prefix sum of `sumCol` in `orderCol` order over a
    * values-sized count table — range-repartition + per-partition
    * prefixes + broadcast partition offsets (the
    * [[graft.operators.RankEval.aucRoc]] shape; never a one-task
    * global window). Appends `outCol`; input column set is preserved.
    */
  private[operators] def rangePrefix(
      counts: DataFrame, orderCol: String, sumCol: String,
      outCol: String): DataFrame =
    keyedRangePrefix(counts, Nil, orderCol, sumCol, outCol)

  /** INCLUSIVE suffix MIN of `minCol` in `orderCol` order over a
    * values-sized table — the MIN sibling of [[rangePrefix]], same
    * discipline (range-repartition + per-partition running mins +
    * broadcast per-partition offsets; never a one-task global window).
    * Row i's output is `min(minCol_j : orderCol_j >= orderCol_i)` —
    * the [[bhAdjust]] step-up scan. Appends `outCol`; input column set
    * is preserved. `minCol` must be LONG-typed (quantize upstream).
    */
  private[operators] def rangeSuffixMin(
      counts: DataFrame, orderCol: String, minCol: String,
      outCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val g = graft.core.Caches.pin(counts
      .repartitionByRange(
        counts.sparkSession.sparkContext.defaultParallelism, col(orderCol))
      .sortWithinPartitions(col(orderCol))
      .withColumn("__sm_pid", spark_partition_id()))
    try graft.core.Caches.holding { held =>
      // per-partition mins, then the min over all HIGHER partitions —
      // partitions-sized, always broadcast
      val offsets = g.groupBy(col("__sm_pid"))
        .agg(min(col(minCol)).as("__sm_p"))
        .withColumn("__sm_off",
          min(col("__sm_p")).over(w.orderBy(col("__sm_pid").desc)
            .rowsBetween(Long.MinValue, -1)))
        .select(col("__sm_pid"), col("__sm_off"))
      val local = min(col(minCol)).over(
        w.partitionBy(col("__sm_pid")).orderBy(col(orderCol).desc)
          .rowsBetween(Long.MinValue, 0))
      held(g.join(broadcast(offsets), Seq("__sm_pid"))
        .withColumn(outCol,
          least(local, coalesce(col("__sm_off"), lit(Long.MaxValue))))
        .drop("__sm_pid", "__sm_off"))
    } finally g.unpersist()
  }

  /** [[rangePrefix]] WITHIN each `keyCols` group: EXCLUSIVE prefix sum
    * of `sumCol` in `orderCol` order per key. Same discipline —
    * range-repartition on (keys…, order), per-physical-partition
    * running sums, per-(key, partition) offsets rolled up over the
    * offset table and broadcast back. A key's rows span CONTIGUOUS
    * range partitions, so the offset table holds at most
    * (partitions + key groups) rows — tiny — and its window groups are
    * at most partition-count long; no per-key window ever sees more
    * than one physical partition's rows, so a corpus-sized key can
    * never pin one task ([[graft.operators.Ann.slicedWasserstein]]'s
    * per-(slice, direction) ranks ride this). Appends `outCol`; input
    * column set is preserved.
    */
  private[operators] def keyedRangePrefix(
      counts: DataFrame, keyCols: Seq[String], orderCol: String,
      sumCol: String, outCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val keys = keyCols.map(col)
    val ord = keys :+ col(orderCol)
    val g = graft.core.Caches.pin(counts
      .repartitionByRange(
        counts.sparkSession.sparkContext.defaultParallelism, ord: _*)
      .sortWithinPartitions(ord: _*)
      .withColumn("__rp_pid", spark_partition_id()))
    try graft.core.Caches.holding { held =>
      val offsets = g.groupBy(col("__rp_pid") +: keys: _*)
        .agg(sum(col(sumCol)).as("__rp_p"))
        .withColumn("__rp_off", coalesce(
          sum(col("__rp_p")).over(w.partitionBy(keys: _*)
            .orderBy("__rp_pid").rowsBetween(Long.MinValue, -1)), lit(0L)))
        .select(col("__rp_pid") +: keys :+ col("__rp_off"): _*)
      // the offsets table is (partitions + key groups)-sized: with no
      // keys that is partitions-sized — always broadcast; with keys the
      // group count is the caller's (trimmedMean's domains can number
      // in the millions), so use a plain join on the already-partitioned
      // data and let AQE broadcast a small side on its own. Key equality
      // must be NULL-SAFE: repartitionByRange, groupBy and the offset
      // window all treat a NULL key as a group, so a plain using-columns
      // join here would silently drop exactly those rows.
      val withOff =
        if (keyCols.isEmpty) g.join(broadcast(offsets), Seq("__rp_pid"))
        else {
          val o = keyCols.foldLeft(
            offsets.withColumnRenamed("__rp_pid", "__rp_pid_o")) {
            (d, k) => d.withColumnRenamed(k, "__rp_o_" + k) }
          val cond = keyCols.foldLeft(
            g("__rp_pid") === o("__rp_pid_o")) { (c, k) =>
            c && (g(k) <=> o("__rp_o_" + k)) }
          g.join(o, cond).drop("__rp_pid_o")
            .drop(keyCols.map("__rp_o_" + _): _*)
        }
      held(withOff.withColumn("__rp_run", coalesce(
          sum(col(sumCol)).over(w.partitionBy(col("__rp_pid") +: keys: _*)
            .orderBy(col(orderCol)).rowsBetween(Long.MinValue, -1)),
          lit(0L)))
        .withColumn(outCol, col("__rp_run") + col("__rp_off"))
        .drop("__rp_pid", "__rp_run", "__rp_off"))
    } finally g.unpersist()
  }

  /** Trimmed mean per group — the robust central tendency a latency /
    * score / length dashboard should report instead of the plain mean
    * (one 10⁶-token outlier document drags a source's mean length
    * anywhere; the 10%-trimmed mean ignores the extreme `⌊trim·n⌋`
    * rows on EACH side by value rank): values micro-quantize at birth,
    * ranks come from [[keyedRangePrefix]] over the per-(group, value)
    * count table (never a per-group sort window — a corpus-sized group
    * can never pin one task), and each count row contributes the exact
    * overlap of its rank interval `[pre, pre+c)` with the kept band
    * `[k, n−k)`.
    *
    * Exactness: kept counts and the micro-value·count sum are exact
    * LONGs (the eager `max(n·|v|) ≤ 4e18` refusal keeps the per-group
    * weighted sum inside 2^63); one division + one 1e-6 descale at the
    * end. NULL, NaN, ±Inf and |v| ≥ 9.2e12 values refused loudly
    * ([[microValueCounts]]); NULL group keys are a group.
    * Output: `(keyCols…, n, n_kept, trimmed_mean)` rounded to 6.
    */
  def trimmedMean(
      df: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      trim: Double = 0.1): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    trimmedMeanFromValueCounts(
      microValueCounts(df, keyCols, valueCol, "trimmedMean"), keyCols, trim)
  }

  /** The per-(group, micro-value) count cells `(keyCols…, __v, __c)`
    * that [[trimmedMean]] and [[groupedQuantiles]] are computed FROM:
    * values micro-quantize at birth (`round(v·1e6)` as LONG). Shared
    * with the streamed log
    * ([[graft.streaming.StreamingOps.trimmedMeanSink]]), so a logged
    * cell is the batch operator's cell by construction.
    *
    * Refused loudly, with counts from ONE aggregate: NULL values (a
    * NULL has no rank) and values with no LONG micro-value — NaN, ±Inf
    * and |v| ≥ 2^63/1e6 ≈ 9.2e12, which would otherwise fail the LONG
    * cast mid-executor. `who` prefixes the messages.
    */
  private[graft] def microValueCounts(
      df: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      who: String): DataFrame = {
    val micro = round(col(valueCol).cast("double") * 1e6)
    // NaN orders above every double in Spark, so NaN fails `<` like ±Inf
    val bad = df.agg(
      count(when(col(valueCol).isNull, 1)),
      count(when(!(abs(micro) < lit(9.223372036854775808e18)), 1))).head()
    require(bad.getLong(0) == 0L,
      s"$who: ${bad.getLong(0)} NULL `$valueCol` row(s) — a NULL has no " +
        "rank; filter deliberately upstream")
    require(bad.getLong(1) == 0L,
      s"$who: ${bad.getLong(1)} NaN, infinite or |v| ≥ 9.2e12 `$valueCol` " +
        "row(s) — no LONG micro-value; filter or rescale upstream")
    val keys = keyCols.map(col)
    df.select(keys :+ micro.cast("long").as("__v"): _*)
      .groupBy(keys :+ col("__v"): _*)
      .agg(count(lit(1)).as("__c"))
  }

  /** [[trimmedMean]] from its per-(group, micro-value) count cells —
    * the sum-mergeable table the operator is computed FROM (columns
    * `keyCols… , __v` LONG micros, `__c` LONG counts). Shared by the
    * batch operator and the standing streaming log
    * ([[graft.streaming.StreamingOps.trimmedMeanFromLog]]), so
    * streamed-then-folded cells produce the IDENTICAL result as the
    * batch operator over the delivered union by construction.
    */
  private[graft] def trimmedMeanFromValueCounts(
      vc: DataFrame,
      keyCols: Seq[String],
      trim: Double): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    require(trim >= 0.0 && trim < 0.5, s"trim must be in [0, 0.5), got $trim")
    val keys = keyCols.map(col)
    val vcp = graft.core.Caches.pin(vc)
    try {
      val totals = vcp.groupBy(keys: _*)
        .agg(sum(col("__c")).as("__n"), max(abs(col("__v"))).as("__mx"))
      val worst = totals
        .agg(max(col("__n") * col("__mx")).as("__w")).head()
      val w = if (worst.isNullAt(0)) 0L else worst.getAs[Long]("__w")
      require(w <= 4000000000000000000L,
        s"trimmedMean: max group n·|v_micro| = $w exceeds 4e18 — the " +
          "exact weighted sum would overflow 2^63; rescale the value " +
          "or pre-aggregate")
      val pre = keyedRangePrefix(vcp, keyCols, "__v", "__c", "__pre")
      val k = floor(col("__n").cast("double") * lit(trim)).cast("long")
      val lo = greatest(col("__pre"), k)
      val hi = least(col("__pre") + col("__c"), col("__n") - k)
      val kept = greatest(hi - lo, lit(0L))
      // groups-sized totals: a plain key join (groups can number in the
      // millions at corpus scale — too big to assume broadcastable; AQE
      // will still broadcast a small side on its own). NULL-SAFE per key:
      // "NULL group keys are a group" is the documented contract, and a
      // using-columns join would silently drop that group.
      val tn = keyCols.foldLeft(totals.select(keys :+ col("__n"): _*)) {
        (d, k) => d.withColumnRenamed(k, "__tm_o_" + k) }
      val tmCond = keyCols.map(k => pre(k) <=> tn("__tm_o_" + k))
        .reduce(_ && _)
      pre.join(tn, tmCond).drop(keyCols.map("__tm_o_" + _): _*)
        .groupBy(keys: _*)
        .agg(max(col("__n")).as("n"), sum(kept).as("n_kept"),
          sum(col("__v") * kept).as("__s"))
        .select(keys ++ Seq(col("n"), col("n_kept"),
          round(when(col("n_kept") === 0L, lit(null).cast("double"))
            .otherwise(col("__s").cast("double") /
              col("n_kept").cast("double") / lit(1e6)), 6)
            .as("trimmed_mean")): _*)
    } finally vcp.unpersist()
  }

  /** EXACT nearest-rank quantiles per group — the dashboard p50/p95/p99
    * table with no sketch error bar ([[quantileDrift]] compares two
    * samples globally and the rollup tier is approximate-by-design;
    * this is the exact per-key answer): for each probability `p` the
    * value at rank `⌈p·n⌉` of the group's sorted values. Values
    * micro-quantize at birth (the [[trimmedMean]] discipline — the
    * returned `value` is the micro-descaled quantile), ranks come from
    * [[keyedRangePrefix]] over the per-(group, value) count table —
    * never a per-group sort window, so a corpus-sized group can never
    * pin one task — and each probability selects the unique count row
    * whose rank interval `(pre, pre+c]` contains `⌈p·n⌉`.
    *
    * Engine-exact: `⌈p·n⌉` is the same IEEE multiply + ceil on both
    * engines (p a shared literal), the containment test pure integer.
    * NULL, NaN, ±Inf and |v| ≥ 9.2e12 values refused loudly
    * ([[microValueCounts]]). Output:
    * `(keyCols…, p, n, value)` — one row per (group, probability),
    * value rounded to 6.
    */
  def groupedQuantiles(
      df: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      probs: Seq[Double] = Seq(0.5, 0.9, 0.95, 0.99)): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    require(probs.nonEmpty && probs.forall(p => p > 0.0 && p <= 1.0),
      s"probs must be non-empty probabilities in (0, 1], got $probs")
    require(probs.distinct.size == probs.size,
      s"probs must be distinct, got $probs")
    groupedQuantilesFromValueCounts(
      microValueCounts(df, keyCols, valueCol, "groupedQuantiles"),
      keyCols, probs)
  }

  /** [[groupedQuantiles]] from its per-(group, micro-value) count cells
    * (the [[trimmedMeanFromValueCounts]] table shape — the SAME
    * sum-mergeable cells, so one streaming log serves both standing
    * statistics). Shared by the batch operator and
    * [[graft.streaming.StreamingOps.groupedQuantilesFromLog]].
    */
  private[graft] def groupedQuantilesFromValueCounts(
      vc: DataFrame,
      keyCols: Seq[String],
      probs: Seq[Double]): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    require(probs.nonEmpty && probs.forall(p => p > 0.0 && p <= 1.0),
      s"probs must be non-empty probabilities in (0, 1], got $probs")
    require(probs.distinct.size == probs.size,
      s"probs must be distinct, got $probs")
    val spark = vc.sparkSession
    import spark.implicits._
    val keys = keyCols.map(col)
    val vcp = graft.core.Caches.pin(vc)
    try {
      val totals = vcp.groupBy(keys: _*).agg(sum(col("__c")).as("__n"))
      val pre = keyedRangePrefix(vcp, keyCols, "__v", "__c", "__pre")
      // groups-sized totals: null-safe key join (NULL keys are a group)
      val tn = keyCols.foldLeft(totals) {
        (d, k) => d.withColumnRenamed(k, "__gq_o_" + k) }
      val cond = keyCols.map(k => pre(k) <=> tn("__gq_o_" + k))
        .reduce(_ && _)
      val probsDf = probs.toDF("p")
      val r = ceil(col("p") * col("__n").cast("double")).cast("long")
      pre.join(tn, cond).drop(keyCols.map("__gq_o_" + _): _*)
        .join(broadcast(probsDf))
        .where(col("__pre") < r && col("__pre") + col("__c") >= r)
        .select(keys ++ Seq(col("p"), col("__n").as("n"),
          round(col("__v").cast("double") / 1e6, 6).as("value")): _*)
    } finally vcp.unpersist()
  }

  /** Benjamini–Hochberg step-up FDR adjustment (Benjamini & Hochberg
    * 1995) over a p-value column — the multiplicity gate for this
    * library's test families: run [[ksStatistic]]/[[sliceDivergence]]/
    * drift tests over a THOUSAND slices and some "significant" results
    * are guaranteed noise; BH controls the expected false-discovery
    * fraction instead of Bonferroni's everything-or-nothing bar. The
    * adjusted value is `q(p) = min_{p' ≥ p} (p'·m / rank(p'))` clamped
    * to 1 (rank = 1-based ascending position among the m tests, ties
    * at their LARGEST index — which is where the minimum over a tie
    * lands anyway); reject iff `q ≤ α`.
    *
    * Engine-exact: ranks come from [[rangePrefix]] over the
    * per-distinct-p count table and the step-up scan from
    * [[rangeSuffixMin]] (no partition-less window anywhere — a
    * million-test audit never pins one task); each candidate
    * `(p·m)/rank` is one fixed-order IEEE double nano-rounded at
    * birth, the suffix min and the α comparison are pure integer
    * (nano→micro collapse, so the 6-dp round cannot tie). NULL or
    * out-of-[0,1] p-values refused loudly. Output: one row per
    * DISTINCT p — `(p, n_tests, rank, q_value, reject)`; join back on
    * `p` to tag the original tests.
    */
  def bhAdjust(
      df: DataFrame,
      pCol: String,
      alpha: Double = 0.05): DataFrame = {
    require(alpha > 0.0 && alpha < 1.0, s"alpha must be in (0, 1), got $alpha")
    val bad = df.agg(
      count(when(col(pCol).isNull, 1)).as("__null"),
      count(when(col(pCol) < 0.0 || col(pCol) > 1.0, 1)).as("__oob"),
      count(lit(1)).as("__m")).head()
    require(bad.getAs[Long]("__null") == 0L,
      s"bhAdjust: ${bad.getAs[Long]("__null")} NULL `$pCol` row(s) — a " +
        "test without a p-value cannot enter the ranking")
    require(bad.getAs[Long]("__oob") == 0L,
      s"bhAdjust: ${bad.getAs[Long]("__oob")} `$pCol` value(s) outside " +
        "[0, 1]")
    val m = bad.getAs[Long]("__m")
    require(m > 0L, "bhAdjust: no tests")
    val alphaMicros = math.round(alpha * 1e6)
    val dp = df.select(col(pCol).cast("double").as("__p"))
      .groupBy(col("__p")).agg(count(lit(1)).as("__c"))
    val ranked = rangePrefix(dp, "__p", "__c", "__pre")
      .withColumn("__rank", col("__pre") + col("__c"))
      .withColumn("__t", round(col("__p") * lit(m.toDouble) /
        col("__rank").cast("double") * 1e9).cast("long"))
    val qMicro = floor((least(col("__q"), lit(1000000000L)) + 500L) /
      1000L).cast("long")
    rangeSuffixMin(ranked, "__p", "__t", "__q")
      .withColumn("__qm", qMicro)
      .select(col("__p").as("p"), col("__c").as("n_tests"),
        col("__rank").as("rank"),
        round(col("__qm").cast("double") / 1e6, 6).as("q_value"),
        (col("__qm") <= alphaMicros).as("reject"))
  }

  /** Wilson score interval per group (Wilson 1927) — the proportion CI
    * that behaves at small n and extreme rates where the naive Wald
    * interval collapses (a 3-success source out of 4 docs should NOT
    * read "75% ± 42%, trust it"): for success rate `p̂ = x/n` and a
    * z-score literal,
    * `center = (p̂ + z²/2n) / (1 + z²/n)`,
    * `half = z·sqrt(p̂(1−p̂)/n + z²/4n²) / (1 + z²/n)`.
    *
    * Exactness: x/n are exact LONG counts; the interval is a fixed
    * portable IEEE expression over them with z embedded as a
    * shortest-round-trip literal (default 1.959963984540054, the 95%
    * two-sided point) — no distribution function, no transcendental.
    * `successCol` must be BOOLEAN (the [[cliffsDelta]] convention);
    * NULL successes are refused loudly. One map-side-combined groupBy.
    * Output: key cols + `(n, successes, rate, ci_low, ci_high)`,
    * rounded to 6.
    */
  def wilsonIntervals(
      df: DataFrame, keyCols: Seq[String], successCol: String,
      z: Double = 1.959963984540054): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    require(z > 0.0 && z <= 10.0, s"z must be in (0, 10], got $z")
    require(df.schema(successCol).dataType ==
      org.apache.spark.sql.types.BooleanType,
      s"wilsonIntervals: `$successCol` must be BOOLEAN")
    val nl = df.agg(count(when(col(successCol).isNull, 1)).as("__nl"))
      .head().getAs[Long]("__nl")
    require(nl == 0L, s"wilsonIntervals: $nl NULL `$successCol` row(s)")
    val keys = keyCols.map(col)
    val g = df.groupBy(keys: _*)
      .agg(count(lit(1)).as("n"),
        count(when(col(successCol), 1)).as("successes"))
    val nD = col("n").cast("double")
    val p = col("successes").cast("double") / nD
    val z2 = lit(z * z)
    val denom = lit(1.0) + z2 / nD
    val center = (p + z2 / (lit(2.0) * nD)) / denom
    val half = (lit(z) * sqrt(p * (lit(1.0) - p) / nD +
      z2 / (lit(4.0) * nD * nD))) / denom
    g.select(keys ++ Seq(col("n"), col("successes"),
      round(p, 6).as("rate"),
      round(greatest(lit(0.0), center - half), 6).as("ci_low"),
      round(least(lit(1.0), center + half), 6).as("ci_high")): _*)
  }

  /** Empirical-Bayes shrinkage of per-group success rates (the
    * beta-binomial method-of-moments recipe): fit a Beta(α, β) prior
    * to the OBSERVED spread of group rates, then report each group's
    * posterior mean `(x + α)/(n + α + β)` — small groups pull toward
    * the global mean, large groups keep their own rate, so a 2-doc
    * source can no longer top a quality ranking with a lucky 2/2.
    *
    * Exactness: group rates quantize to micro-LONGs (`x·1e6 div n`)
    * before the moment sums, so the mean/variance — and hence α, β —
    * derive from order-free integer totals; the final posterior is a
    * portable IEEE expression. Groups ≥ 2 and rate variance > 0
    * required loudly (a single group or zero spread cannot identify a
    * prior — report the raw rates instead); both guards are EAGER
    * driver-side `require`s over the groups-sized aggregate — an
    * in-plan raise_error never fires on an empty frame (the
    * [[graft.operators.Timeseries.theilSenTrend]] AQE
    * empty-relation-elision lesson), and the variance sign is judged
    * EXACTLY on the driver in BigInt (`gcnt·Σpm² − (Σpm)²` — a LONG
    * product would overflow past ~3000 groups, and the double form
    * suffers catastrophic cancellation that can let an exactly-zero
    * spread slip through as a tiny positive); the same exact
    * numerator then feeds the double `v` used for the fit, so it is
    * cancellation-free too.
    * Group count is loudly capped at 8,000,000 so the exact LONG
    * `Σ __pm²` moment itself cannot overflow. Output: key cols +
    * `(n, successes, rate, shrunk_rate)` with the fitted
    * `(alpha, beta)` repeated per row for auditability.
    */
  def shrunkenRates(
      df: DataFrame, keyCols: Seq[String], successCol: String): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    require(df.schema(successCol).dataType ==
      org.apache.spark.sql.types.BooleanType,
      s"shrunkenRates: `$successCol` must be BOOLEAN")
    val nl = df.agg(count(when(col(successCol).isNull, 1)).as("__nl"))
      .head().getAs[Long]("__nl")
    require(nl == 0L, s"shrunkenRates: $nl NULL `$successCol` row(s)")
    val keys = keyCols.map(col)
    val g = graft.core.Caches.pin(df.groupBy(keys: _*)
      .agg(count(lit(1)).as("n"),
        count(when(col(successCol), 1)).as("successes"))
      .withColumn("__pm", expr("successes * 1000000 div n")))
    try graft.core.Caches.holding { held =>
      val gcnt = g.count()
      require(gcnt >= 2L,
        "shrunkenRates: fewer than 2 groups — the prior is " +
          "unidentifiable; report raw rates instead")
      require(gcnt <= 8000000L,
        s"shrunkenRates: $gcnt groups — the exact LONG moment " +
          "sum Σ(micro-rate²) overflows 2^63 past 8M groups; " +
          "shard or sample groups first")
      val mom = g.agg(sum(col("__pm")).as("__s1"),
        sum(col("__pm") * col("__pm")).as("__s2")).head()
      val s1 = mom.getAs[Long]("__s1")
      val s2 = mom.getAs[Long]("__s2")
      // Variance positivity is judged EXACTLY on the driver in BigInt
      // (gcnt·Σpm² > (Σpm)² ⇔ v > 0): the double form below suffers
      // catastrophic cancellation and can read a tiny positive for an
      // exactly-zero spread, which would fit a degenerate astronomical
      // (alpha, beta) prior. BigInt is overflow-free at any group count.
      val vNum = BigInt(gcnt) * BigInt(s2) - BigInt(s1) * BigInt(s1)
      require(vNum > 0,
        "shrunkenRates: zero rate variance across groups — the " +
          "prior is unidentifiable; report raw rates instead")
      val gc = gcnt.toDouble
      val m = s1.toDouble / gc / 1e6
      // v from the exact BigInt numerator — cancellation-free, so a
      // positive exact variance can never surface as a double ≤ 0.
      val v = vNum.toDouble / (gc * gc) / 1e12
      val k = m * (1.0 - m) / v - 1.0
      val alpha = m * k
      val beta = (1.0 - m) * k
      held(g.select(keys ++ Seq(col("n"), col("successes"),
          round(col("successes").cast("double") / col("n"), 6).as("rate"),
          round((col("successes") + lit(alpha)) /
            (col("n") + lit(alpha) + lit(beta)), 6).as("shrunk_rate"),
          round(lit(alpha), 6).as("alpha"),
          round(lit(beta), 6).as("beta")): _*))
    } finally g.unpersist()
  }

  /** Quantile matching (nearest-rank equipercentile equating): remap
    * each TARGET value onto the REFERENCE distribution's value at the
    * same rank fraction — the step that puts two scorers' outputs
    * (an old and a new quality model, two teachers) on ONE scale
    * before thresholds or mixtures are applied. For target value `v`
    * with inclusive rank `cumT(v)` of `nT`, the match is the
    * `⌈cumT·nR / nT⌉`-th smallest reference value.
    *
    * Exactness: both columns integral BY CONTRACT, ranks and the
    * ceiling are pure BIGINT (`(cumT·nR + nT − 1) div nT` — requires
    * `nT·nR < 2^63`, i.e. ~3e9 rows a side; sample first beyond, the
    * [[ksStatistic]] bound), and the rank→value lookup is an as-of
    * FORWARD join (first reference rank ≥ k). No doubles anywhere.
    *
    * Scale shape: one groupBy per side, two [[rangePrefix]] passes,
    * one [[graft.operators.AsofJoin]] on the values-sized tables.
    * NULLs are refused loudly (a NULL has no rank). Output: `(value,
    * n, matched)` — the monotone mapping table, join it back to
    * rescore the target corpus.
    */
  def quantileMatch(
      reference: DataFrame, target: DataFrame,
      valueCol: String): DataFrame = {
    Seq("reference" -> reference, "target" -> target).foreach {
      case (side, df) =>
        df.schema(valueCol).dataType match {
          case org.apache.spark.sql.types.ByteType |
               org.apache.spark.sql.types.ShortType |
               org.apache.spark.sql.types.IntegerType |
               org.apache.spark.sql.types.LongType => ()
          case other => throw new IllegalArgumentException(
            s"quantileMatch: $side `$valueCol` is $other — scores must " +
              "be INTEGRAL (micro-quantize upstream)")
        }
        val nl = df.agg(count(when(col(valueCol).isNull, 1)).as("__nl"))
          .head().getAs[Long]("__nl")
        require(nl == 0L,
          s"quantileMatch: $side has $nl NULL `$valueCol` row(s) — a " +
            "NULL has no rank; filter deliberately upstream")
    }
    def cum(df: DataFrame): DataFrame = {
      val c = df.groupBy(col(valueCol).cast("long").as("__v"))
        .agg(count(lit(1)).as("__c"))
      rangePrefix(c, "__v", "__c", "__before")
        .withColumn("__cum", col("__before") + col("__c"))
        .drop("__before")
    }
    val w = org.apache.spark.sql.expressions.Window
    val refCum = cum(reference)
      .select(lit(1).as("__g"), col("__cum").as("__k"),
        col("__v").as("matched"))
    val tgtCum = cum(target)
      .withColumn("__nt", sum(col("__c")).over(w.partitionBy()))
    val nr = refCum.count() // values-sized; also validates non-empty
    require(nr > 0, "quantileMatch: empty reference")
    val nrTotal = reference.count()
    val probe = tgtCum.select(lit(1).as("__g"),
      col("__v").as("value"), col("__c").as("n"),
      expr(s"(__cum * ${nrTotal}L + __nt - 1) div __nt").as("__k"))
    AsofJoin.asofJoin(probe, refCum, keys = Seq("__g"), tsCol = "__k",
      valueCols = Seq("matched"), direction = "forward")
      .select(col("value"), col("n"), col("matched"))
  }

  /** Pearson chi-squared test of independence + Cramér's V between two
    * categorical columns — the effect-size companion to
    * [[mutualInformation]] for pipeline-signal audits (is the quality
    * label re-encoding `source`? did a filter fire independently of
    * `lang`?). V is the [0, 1] association strength a reviewer can
    * compare across tables; the raw χ² scales with N and is reported
    * for the test itself. NULL is a category on both axes (the
    * [[tCloseness]]/[[mutualInformation]] convention).
    *
    * Zero-expected cells need no special casing: the identity
    * `χ² = N·(Σ_observed o²/(n_a·n_b)) − N` sums over PRESENT cells
    * only (absent cells contribute 0 to Σ o²/e, and Σe telescopes to
    * N). Each cell term is pure IEEE multiply/divide from exact LONG
    * counts (operands widen to double before multiplying — the
    * [[mutualInformation]] overflow discipline), nano-quantized and
    * LONG-summed (order-free), so the DuckDB twin is hash-exact; no
    * transcendental anywhere. `cramers_v =
    * sqrt(χ² / (N·(min(r,c)−1)))`, NULL when either axis has a single
    * category (no association is definable), χ² clamped at 0 against
    * nano-rounding underflow on exactly-independent tables.
    *
    * Scale shape: ONE corpus-sized groupBy to (a, b) cells (map-side
    * partials), marginals as window sums over the CELLS-sized table,
    * one global aggregate. Output: `(n, dof, chi2, cramers_v)`.
    */
  def chiSquaredIndependence(
      df: DataFrame, colA: String, colB: String): DataFrame = {
    require(colA != colB, "colA and colB must differ")
    chiSquaredFromCells(df
      .groupBy(col(colA).as("__a"), col(colB).as("__b"))
      .agg(count(lit(1)).as("__nab")))
  }

  /** [[chiSquaredIndependence]] from pre-aggregated contingency cells
    * `(__a, __b, __nab)` — the SAME sum-mergeable sufficient statistic
    * [[cohenKappaFromCells]] reads, so one streamed contingency log
    * serves both standing statistics
    * ([[graft.streaming.StreamingOps.chiSquaredFromLog]]).
    */
  def chiSquaredFromCells(rawCells: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
    val cells = rawCells
      .groupBy(col("__a"), col("__b"))
      .agg(sum(col("__nab")).as("__nab"))
      .withColumn("__na", sum(col("__nab")).over(w.partitionBy(col("__a"))))
      .withColumn("__nb", sum(col("__nab")).over(w.partitionBy(col("__b"))))
      .withColumn("__N", sum(col("__nab")).over(w.partitionBy()))
    val term = (col("__nab").cast("double") * col("__nab")) /
      (col("__na").cast("double") * col("__nb"))
    cells
      .agg(
        max(col("__N")).as("__n"),
        // countDistinct skips NULL — add the null category back in
        // explicitly, since NULL IS a category here
        (countDistinct(col("__a")) +
          max(when(col("__a").isNull, 1L).otherwise(0L))).as("__r"),
        (countDistinct(col("__b")) +
          max(when(col("__b").isNull, 1L).otherwise(0L))).as("__c"),
        sum(round(term * 1e9).cast("long")).as("__sn"))
      .select(
        col("__n").as("n"),
        ((col("__r") - 1L) * (col("__c") - 1L)).as("dof"),
        col("__n"), col("__r"), col("__c"), col("__sn"))
      .withColumn("__chi2", greatest(lit(0.0),
        col("__n").cast("double") * col("__sn") / lit(1e9) -
          col("__n").cast("double")))
      .select(col("n"), col("dof"),
        round(col("__chi2"), 6).as("chi2"),
        when(least(col("__r"), col("__c")) <= 1L, lit(null))
          .otherwise(round(sqrt(col("__chi2") /
            (col("__n").cast("double") * (least(col("__r"), col("__c")) - 1L))),
            6)).as("cramers_v"))
  }

  /** Spearman rank correlation per key between two integral scores —
    * the monotone-agreement audit between scorers (old vs new quality
    * model, two teachers): Pearson over TIE-AVERAGED ranks (Spearman
    * 1904, the tie-corrected form), rank-monotone and outlier-immune
    * where raw Pearson is neither.
    *
    * Exactness: ranks are held at 2× scale so tie-averages stay
    * INTEGER (`r2 = 2·|smaller| + |equal| + 1`); centering subtracts
    * the exactly-known mean `n+1`, so every moment (`Σ dx·dy`, `Σ dx²`,
    * `Σ dy²`) is an order-free LONG sum of products whose worst case
    * (no ties, 2×-scale centered ranks) is exactly n(n²−1)/3 — the
    * `maxRows` guard (≤ 3M per key, eager) keeps that inside 2^63
    * (n(n²−1)/3 ≤ 2^63 ⇔ n ≤ 3,023,000-ish; 3M is the round bound).
    * ρ = Σdxdy / (√Σdx²·√Σdy²), two portable sqrt + one division, so
    * the DuckDB twin is hash-exact. Zero variance on either side (all
    * values tied) yields NULL — no monotone agreement is definable.
    *
    * Scale shape: two values-sized rank tables (groupBy + a per-key
    * window over DISTINCT values, never corpus rows), two equality
    * joins back to the rows, one map-side-combined aggregate. NULL
    * values refused loudly (a NULL has no rank); NULL-keyed rows drop
    * (the equality-join convention). Output: keys + `(n, sum_dxdy,
    * rho)` — the BIGINT cross-moment rides along as the exactness
    * witness.
    */
  def spearmanCorrelation(
      df: DataFrame,
      keyCols: Seq[String],
      xCol: String,
      yCol: String,
      maxRows: Long = 3000000L): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    require(maxRows >= 2 && maxRows <= 3000000L,
      s"maxRows must be in 2..3000000 (worst-case moment n(n²−1)/3 " +
        s"must stay inside 2^63, which caps n at ~3.02e6), got $maxRows")
    Seq(xCol, yCol).foreach { c =>
      df.schema(c).dataType match {
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType => ()
        case other => throw new IllegalArgumentException(
          s"spearmanCorrelation: `$c` is $other — scores must be " +
            "INTEGRAL (micro-quantize upstream; double ties are not " +
            "engine-portable)")
      }
    }
    val nulls = df.agg(count(when(col(xCol).isNull || col(yCol).isNull, 1))
      .as("__nl")).head().getAs[Long]("__nl")
    require(nulls == 0L,
      s"spearmanCorrelation: $nulls NULL `$xCol`/`$yCol` row(s) — a NULL " +
        "has no rank; filter deliberately upstream")
    val keys = keyCols.map(col)
    val keyed = df.where(keyCols.map(col(_).isNotNull).reduce(_ && _))
      .select(keys :+ col(xCol).cast("long").as("__x") :+
        col(yCol).cast("long").as("__y"): _*)
    val counts = keyed.groupBy(keys: _*).agg(count(lit(1)).as("__n"))
    val mx = counts.agg(max(col("__n")).as("__mx")).head()
    val biggest = if (mx.isNullAt(0)) 0L else mx.getAs[Long]("__mx")
    require(biggest <= maxRows,
      s"spearmanCorrelation: a key has $biggest rows (> maxRows=" +
        s"$maxRows) — rank moments grow as n³; sample per key upstream")
    val w = org.apache.spark.sql.expressions.Window
    def rank2(vCol: String, out: String): DataFrame = keyed
      .groupBy(keys :+ col(vCol): _*)
      .agg(count(lit(1)).as("__c"))
      .withColumn("__b", coalesce(sum(col("__c")).over(
        w.partitionBy(keys: _*).orderBy(col(vCol))
          .rowsBetween(Long.MinValue, -1)), lit(0L)))
      .select(keys :+ col(vCol) :+
        (lit(2L) * col("__b") + col("__c") + 1L).as(out): _*)
    val ranked = keyed
      .join(rank2("__x", "__r2x"), keyCols :+ "__x")
      .join(rank2("__y", "__r2y"), keyCols :+ "__y")
      .join(counts, keyCols)
      .select(keys :+
        (col("__r2x") - col("__n") - 1L).as("__dx") :+
        (col("__r2y") - col("__n") - 1L).as("__dy") :+ col("__n"): _*)
    ranked.groupBy(keys: _*)
      .agg(max(col("__n")).as("n"),
        sum(col("__dx") * col("__dy")).as("sum_dxdy"),
        sum(col("__dx") * col("__dx")).as("__sxx"),
        sum(col("__dy") * col("__dy")).as("__syy"))
      .select(keys ++ Seq(col("n"), col("sum_dxdy"),
        when(col("__sxx") === 0L || col("__syy") === 0L, lit(null))
          .otherwise(round(col("sum_dxdy").cast("double") /
            (sqrt(col("__sxx").cast("double")) *
              sqrt(col("__syy").cast("double"))), 6)).as("rho")): _*)
  }

  /** GLOBAL (un-keyed) Spearman ρ from pre-aggregated joint cells
    * `(__x, __y, __n)` — the SUM-MERGEABLE sufficient statistic: the
    * joint cells of a union of batches are the summed union of their
    * cells, so the SAME streamed contingency log that feeds the
    * standing kappa and chi² ([[graft.streaming.StreamingOps.kappaLogSink]])
    * also carries a standing rank correlation when both columns are
    * integral scores. Ranks derive from the marginals, the cross
    * moment from the cells: `Σ n·dx·dy` with the 2×-scale tie-averaged
    * centered ranks of [[spearmanCorrelation]] — exact LONGs under the
    * same n ≤ 3M ⇒ n(n²−1)/3 < 2^63 loud bound (quantize or sample
    * coarser upstream). Cell cardinality is the caller's contract (quantized
    * scores — the cells ARE the log). Output: one row
    * `(n, sum_dxdy, rho)`, matching the batch operator minus keys.
    */
  def spearmanFromCells(cells: DataFrame, maxRows: Long = 3000000L)
      : DataFrame = {
    require(maxRows >= 2 && maxRows <= 3000000L,
      s"maxRows must be in 2..3000000 (worst-case moment n(n²−1)/3 " +
        s"must stay inside 2^63, which caps n at ~3.02e6), got $maxRows")
    val g = graft.core.Caches.pin(cells
      .groupBy(col("__x"), col("__y"))
      .agg(sum(col("__n")).as("__n")))
    try graft.core.Caches.holding { held =>
      val bad = g.agg(count(when(col("__x").isNull || col("__y").isNull,
        1)).as("__b"), sum(col("__n")).as("__t")).head()
      require(bad.getAs[Long]("__b") == 0L,
        s"spearmanFromCells: ${bad.getAs[Long]("__b")} NULL-valued " +
          "cell(s) — a NULL has no rank; filter at the sink")
      val n = if (bad.isNullAt(1)) 0L else bad.getAs[Long]("__t")
      require(n >= 1L, "spearmanFromCells: empty cells")
      require(n <= maxRows,
        s"spearmanFromCells: $n observations (> maxRows=$maxRows) — " +
          "rank moments grow as n³; sample or quantize coarser upstream")
      val w = org.apache.spark.sql.expressions.Window
      def rank2(vCol: String, out: String): DataFrame = g
        .groupBy(col(vCol)).agg(sum(col("__n")).as("__c"))
        .withColumn("__b", coalesce(sum(col("__c")).over(
          w.orderBy(col(vCol)).rowsBetween(Long.MinValue, -1)), lit(0L)))
        .select(col(vCol),
          (lit(2L) * col("__b") + col("__c") + 1L - n - 1L).as(out))
      held(g.join(rank2("__x", "__dx"), Seq("__x"))
        .join(rank2("__y", "__dy"), Seq("__y"))
        .agg(sum(col("__n") * col("__dx") * col("__dy")).as("sum_dxdy"),
          sum(col("__n") * col("__dx") * col("__dx")).as("__sxx"),
          sum(col("__n") * col("__dy") * col("__dy")).as("__syy"))
        .select(lit(n).as("n"), col("sum_dxdy"),
          when(col("__sxx") === 0L || col("__syy") === 0L, lit(null))
            .otherwise(round(col("sum_dxdy").cast("double") /
              (sqrt(col("__sxx").cast("double")) *
                sqrt(col("__syy").cast("double"))), 6)).as("rho")))
    } finally g.unpersist()
  }

  /** Krippendorff's alpha for NOMINAL data (Krippendorff 1970/2004) —
    * the multi-annotator agreement statistic that, unlike Cohen's
    * kappa, handles ANY number of raters, missing ratings, and
    * unbalanced units: the gate for LLM-as-judge ensembles and human
    * labeling rounds alike ("do my 5 judges agree beyond chance?").
    *
    * Computation (the coincidence-matrix recipe): units with fewer
    * than 2 ratings drop (nothing to pair); within a unit of m
    * ratings every ordered pair contributes `1/(m−1)` to its value
    * pair's coincidence cell. Marginals then telescope to PURE
    * integers (`n_v = Σ_u n_uv`, `n = Σ_u m_u`), so expected
    * disagreement `D_e = Σ_{v≠v'} n_v·n_{v'} / (n(n−1))` is exact
    * integer arithmetic; only observed disagreement carries the
    * per-unit rational `(m_u·(m_u−1) − Σ_v n_uv(n_uv−1)) / (m_u−1)`,
    * which is nano-quantized per unit and LONG-summed (order-free —
    * the [[mutualInformation]] discipline). α = 1 − D_o/D_e; NULL
    * when D_e = 0 (a single observed value — agreement is vacuous).
    *
    * Scale shape: one corpus-sized groupBy to (unit, value) counts
    * (pinned — the units pass and the marginal pass both read it),
    * one units-sized aggregate, one values-sized marginal table, one
    * row out; the final assembly is driver arithmetic over those
    * exact totals (eager, so "no pairable unit" is a loud error, not
    * an empty frame). NULL ratings are refused loudly (an abstention
    * must be an absent ROW, not a NULL value — silently counting NULL
    * as a category would manufacture agreement between abstainers).
    * Output: one row `(n_units, n_ratings, d_o, d_e, alpha)`, 6 dp —
    * d_o/d_e are the ×n disagreement MASSES (their ratio is what α
    * reads; the n cancels).
    */
  def krippendorffAlpha(
      df: DataFrame, unitCol: String, valueCol: String): DataFrame = {
    val nl = df.agg(count(when(col(valueCol).isNull || col(unitCol).isNull,
      1)).as("__nl")).head().getAs[Long]("__nl")
    require(nl == 0L,
      s"krippendorffAlpha: $nl NULL `$unitCol`/`$valueCol` row(s) — an " +
        "abstention is an absent row, not a NULL rating")
    krippendorffFromCounts(
      df.groupBy(col(unitCol).as("__u"),
          col(valueCol).cast("string").as("__v"))
        .agg(count(lit(1)).as("__c")))
  }

  /** [[krippendorffAlpha]] from pre-aggregated per-(unit, value) rating
    * counts `(__u, __v, __c)` — the SUM-MERGEABLE sufficient statistic
    * (counts of a union of batches are the summed union of their
    * counts), which is what lets
    * [[graft.streaming.StreamingOps.ratingLogSink]] stream rating
    * batches into a stat log and
    * [[graft.streaming.StreamingOps.krippendorffFromLog]] reconstruct
    * the exact batch alpha later. Callers fold duplicates first or pass
    * them as-is — the internal per-unit groupBy re-sums `__c`.
    */
  def krippendorffFromCounts(rawUv: DataFrame): DataFrame = {
    val uv = graft.core.Caches.pin(rawUv
      .groupBy(col("__u"), col("__v"))
      .agg(sum(col("__c")).as("__c")))
    try {
      val units = uv.groupBy(col("__u"))
        .agg(sum(col("__c")).as("__m"),
          sum(col("__c") * (col("__c") - 1L)).as("__agree"))
        .where(col("__m") >= 2L)
      // per-unit observed disagreement, nano-quantized once at birth:
      // (m(m−1) − Σ c(c−1)) / (m−1), an exact rational per unit
      val dRow = units.select(
        round((col("__m") * (col("__m") - 1L) - col("__agree"))
          .cast("double") / (col("__m") - 1L) * lit(1e9)).cast("long")
          .as("__dn"),
        col("__m"), col("__u"))
        .agg(sum(col("__dn")).as("__don"), sum(col("__m")).as("__n"),
          count(lit(1)).as("__units")).head()
      val nUnits = dRow.getAs[Long]("__units")
      require(nUnits >= 1L,
        "krippendorffAlpha: no unit carries >= 2 ratings — nothing is " +
          "pairable; agreement is undefined")
      val n = dRow.getAs[Long]("__n")
      require(n <= 3000000000L,
        s"krippendorffAlpha: $n pairable ratings — n² must stay inside " +
          "2^63; sample units upstream")
      // value marginals over the SAME ≥2-rating units (pure integers)
      val mRow = uv.join(units.select(col("__u")), Seq("__u"))
        .groupBy(col("__v")).agg(sum(col("__c")).as("__nv"))
        .agg(sum(col("__nv") * col("__nv")).as("__s2")).head()
      val s2 = mRow.getAs[Long]("__s2")
      val dO = dRow.getAs[Long]("__don").toDouble / 1e9
      // D_e·n = (n² − Σ n_v²)/(n−1); both numerators exact BIGINT
      val dE = (n * n - s2).toDouble / (n - 1L)
      val spark = uv.sparkSession
      spark.range(1).select(lit(nUnits).as("n_units"),
        lit(n).as("n_ratings"),
        round(lit(dO), 6).as("d_o"),
        round(lit(dE), 6).as("d_e"),
        (if (dE <= 0.0) lit(null).cast("double")
         else round(lit(1.0 - dO / dE), 6)).as("alpha"))
    } finally uv.unpersist()
  }
}
