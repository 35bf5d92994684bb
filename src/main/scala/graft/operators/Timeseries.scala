package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Regular-grid time-series preparation over an irregular event stream —
  * the step between "events landed whenever they happened" and anything
  * that assumes a fixed cadence (rate dashboards, drift monitors over
  * time, seasonal decomposition, feature windows for forecasting).
  *
  * Two composable pieces:
  *
  *  - [[resample]] snaps events onto a `stepUs`-wide bucket grid per key
  *    and materializes EVERY bucket between each key's first and last
  *    observation — gaps become explicit `n_events = 0` rows instead of
  *    silently missing ones (a rate chart over only-observed buckets
  *    hides exactly the outages it exists to show).
  *  - [[locf]] carries the last observed value forward down a per-key
  *    ordered frame (last-observation-carried-forward) — the standard
  *    gap-fill for state-like series (a price, a queue depth, a config
  *    version) where "no event" means "unchanged", not "zero".
  *
  * Determinism: buckets are integer floor-divisions of non-negative
  * epoch-micros (negative timestamps are REJECTED loudly — integer
  * division on negatives rounds differently across engines); the summed
  * metric is micro-quantized per row and summed as LONGs, so results are
  * bit-identical on any engine and partitioning.
  *
  * Scale shape: one `groupBy(keys, bucket)` with map-side partials (the
  * only corpus-sized shuffle), a keys-sized min/max rollup, a spine
  * explode bounded loudly by `maxBucketsPerKey` (a mis-set `stepUs` on a
  * years-long key would otherwise fabricate billions of rows), one
  * equi-shuffle join of spine to aggregates, and a per-key window for
  * the carry-forward. Per-key spine length is bounded by construction;
  * key skew in the window is bounded by that same spine length, not by
  * the key's event count.
  */
object Timeseries {

  /** One-sided CUSUM changepoint scores per key over a time-ordered
    * integer series (Page 1954) — the sequential mean-shift detector
    * for pipeline telemetry (ingest-rate sag, quality-score drift,
    * error-ratio jumps) where a point outlier gate like
    * [[graft.operators.Validation.madOutliers]] misses a SUSTAINED
    * small shift:
    *
    *   S⁺_t = max(0, S⁺_{t−1} + (x_t − target − slack))   (upward)
    *   S⁻_t = max(0, S⁻_{t−1} + (target − x_t − slack))   (downward)
    *
    * The recursion is computed WITHOUT iteration via the
    * prefix-extremum identity: with `P_t = Σ_{i≤t}(x_i − target −
    * slack)`, `S⁺_t = P_t − min_{j≤t} P_j` (symmetrically for S⁻) —
    * two prefix window sums + two prefix window extrema per key, all
    * in LONGs, so the result is engine- and partitioning-exact and the
    * DuckDB twin is hash-identical.
    *
    * Contracts: `valueCol` must be INTEGRAL (micro-quantize upstream —
    * the [[graft.operators.Classifier.conformalThreshold]] discipline);
    * NULL ts/value rows are REJECTED loudly (a window ordered on a
    * nullable column sorts differently across engines); `slack ≥ 0`,
    * `threshold > 0`. Rows order per key by `(ts, value)` — duplicate
    * stamps stay deterministic as a multiset (equal-key rows are
    * interchangeable).
    *
    * Scale shape: one per-key ordered window pass (ROWS frames, no
    * self-join, no loop); per-key series length bounds the task — the
    * [[resample]] per-key contract. Output: key cols + `(ts, value,
    * cusum_pos, cusum_neg, alarm)` with `alarm` = either side above
    * `threshold`.
    */
  def cusumChangepoints(
      df: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      valueCol: String,
      target: Long,
      slack: Long,
      threshold: Long): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty — a global " +
      "series is one window partition; key on something")
    require(slack >= 0L, s"slack must be >= 0, got $slack")
    require(threshold > 0L, s"threshold must be > 0, got $threshold")
    Seq(tsCol, valueCol).foreach { c =>
      df.schema(c).dataType match {
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType => ()
        case other => throw new IllegalArgumentException(
          s"cusumChangepoints: `$c` is $other — ts and value must be " +
            "INTEGRAL (epoch-micros / micro-units; quantize upstream)")
      }
    }
    val nulls = df.agg(
      count(when(col(tsCol).isNull || col(valueCol).isNull, 1)).as("__nl"))
      .head().getAs[Long]("__nl")
    require(nulls == 0L,
      s"cusumChangepoints: $nulls NULL `$tsCol`/`$valueCol` row(s) — " +
        "an unstamped or unvalued point has no place in the sequence; " +
        "filter deliberately upstream")
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol), col(valueCol))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val up = sum(col(valueCol) - lit(target) - lit(slack)).over(w)
    val dn = sum(lit(target) - col(valueCol) - lit(slack)).over(w)
    df.select(keyCols.map(col) ++ Seq(col(tsCol), col(valueCol)): _*)
      .withColumn("__pu", up)
      .withColumn("__pd", dn)
      .withColumn("cusum_pos",
        col("__pu") - least(min(col("__pu")).over(w), lit(0L)))
      .withColumn("cusum_neg",
        col("__pd") - least(min(col("__pd")).over(w), lit(0L)))
      .withColumn("alarm",
        col("cusum_pos") > threshold || col("cusum_neg") > threshold)
      .drop("__pu", "__pd")
  }

  /** Theil–Sen robust trend slope + Mann–Kendall trend test per key —
    * "is this metric drifting, and how fast" with outlier-proof
    * estimates (one bad scrape cannot move a median slope the way it
    * yanks a least-squares fit): the slope is the MEDIAN of all
    * pairwise slopes `(v_j − v_i)/(t_j − t_i)`, the Mann–Kendall `S` is
    * `Σ_{i<j} sign(v_j − v_i)` with Kendall's `τ_a = S / (n(n−1)/2)`.
    *
    * Exactness: integral ts/value contract (the [[cusumChangepoints]]
    * discipline), each pairwise slope is ONE IEEE long-difference
    * division (portable), the median is an order statistic over those
    * slopes (ties interchangeable; even counts average the two middle
    * values — one portable add + halve), and `S`/`τ` are pure integer
    * arithmetic with one final division. The DuckDB twin replays the
    * identical pair join.
    *
    * Scale shape: the pair self-join is per-key QUADRATIC — that is the
    * estimator, not an accident — so per-key series length is REFUSED
    * loudly above `maxPoints` (one eager keys-sized aggregate — a
    * 2-long-row driver check, never a key collect); duplicate
    * timestamps within a key are refused too (a
    * same-instant pair has no slope). Downsample per key upstream
    * (e.g. [[resample]]) to fit the budget. NULL-keyed rows drop (the
    * equality-join convention, identical on both engines). Output:
    * key cols + `(n_points, n_pairs, s_statistic, tau, slope)`.
    */
  def theilSenTrend(
      df: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      valueCol: String,
      maxPoints: Long = 1000L): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty — a global " +
      "series is one quadratic pair set; key on something")
    require(maxPoints >= 2 && maxPoints <= 100000L,
      s"maxPoints must be in 2..100000, got $maxPoints " +
        "(pairs are quadratic per key)")
    Seq(tsCol, valueCol).foreach { c =>
      df.schema(c).dataType match {
        case org.apache.spark.sql.types.ByteType |
             org.apache.spark.sql.types.ShortType |
             org.apache.spark.sql.types.IntegerType |
             org.apache.spark.sql.types.LongType => ()
        case other => throw new IllegalArgumentException(
          s"theilSenTrend: `$c` is $other — ts and value must be " +
            "INTEGRAL (epoch-micros / micro-units; quantize upstream)")
      }
    }
    val nulls = df.agg(
      count(when(col(tsCol).isNull || col(valueCol).isNull, 1)).as("__nl"))
      .head().getAs[Long]("__nl")
    require(nulls == 0L,
      s"theilSenTrend: $nulls NULL `$tsCol`/`$valueCol` row(s) — " +
        "filter deliberately upstream")
    val keys = keyCols.map(col)
    // NULL-keyed rows never survive the equality pair-join below, so
    // they must not trip the guards either — an oversized NULL-key
    // group would otherwise refuse rows that cannot participate
    val keyed = df.where(keyCols.map(col(_).isNotNull)
      .reduce(_ && _))
    // eager guards (one keys-sized aggregate): in-plan raise_error is
    // NOT reliable here — a zero-pair key makes the aggregate side
    // empty and AQE's empty-relation propagation can elide the guarded
    // scan entirely, silently skipping the check
    val counts = keyed.groupBy(keys: _*)
      .agg(count(lit(1)).as("__n"),
        countDistinct(col(tsCol)).as("__ndt"))
    val guard = counts.agg(max(col("__n")).as("__mx"),
      count(when(col("__ndt") =!= col("__n"), 1)).as("__dups")).head()
    require(guard.getAs[Long]("__mx") <= maxPoints,
      s"theilSenTrend: a key has ${guard.getAs[Long]("__mx")} points " +
        s"(> maxPoints=$maxPoints; pairs are quadratic) — downsample " +
        "per key upstream")
    require(guard.getAs[Long]("__dups") == 0L,
      s"theilSenTrend: ${guard.getAs[Long]("__dups")} key(s) carry " +
        "duplicate timestamps — a same-instant pair has no slope; " +
        "dedup upstream")
    val a = keyed.select(keys :+ col(tsCol).as("__t1") :+
      col(valueCol).as("__v1"): _*)
    val b = keyed.select(keys :+ col(tsCol).as("__t2") :+
      col(valueCol).as("__v2"): _*)
    val pairs = a.join(b, keyCols).where(col("__t1") < col("__t2"))
      .select(keys :+
        ((col("__v2") - col("__v1")).cast("double") /
          (col("__t2") - col("__t1"))).as("__slope") :+
        when(col("__v2") > col("__v1"), 1L)
          .when(col("__v2") < col("__v1"), -1L)
          .otherwise(0L).as("__sgn"): _*)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys: _*).orderBy(col("__slope"))
    val ranked = pairs
      .withColumn("__rn", row_number().over(w))
      .withColumn("__cnt", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(keys: _*)))
    val aggd = ranked.groupBy(keys: _*)
      .agg(
        max(col("__cnt")).as("n_pairs"),
        sum(col("__sgn")).as("s_statistic"),
        // the two middle order statistics (equal when odd count)
        min(when(col("__rn") === expr("(__cnt + 1) div 2"), col("__slope")))
          .as("__lo"),
        min(when(col("__rn") === expr("(__cnt + 2) div 2"), col("__slope")))
          .as("__hi"))
    // sub-2-point keys have no pairs and drop here (nothing to trend)
    counts.join(aggd, keyCols)
      .select(keys ++ Seq(
        col("__n").as("n_points"), col("n_pairs"), col("s_statistic"),
        round(col("s_statistic").cast("double") /
          (col("__n") * (col("__n") - 1L) / 2L), 6).as("tau"),
        ((col("__lo") + col("__hi")) / lit(2.0)).as("slope")): _*)
  }

  /** Per-key fixed-grid resample of `df` — see object doc.
    *
    * `tsUsCol` must be LONG epoch-micros (the `unix_micros` contract
    * used across graft; nanos callers `div 1000` first). `valueCol` is
    * a numeric metric; it is rounded to integer micro-units per row
    * BEFORE summing so the per-bucket totals are engine-exact.
    *
    * Output: key columns + `bucket_us` (bucket start, epoch-micros),
    * `n_events`, `value_micros` (micro-unit sum; 0 in gap buckets) —
    * one row per key per grid step between that key's first and last
    * event, inclusive. Rows with a NULL key participate as their own
    * key (the NULL-group convention used across the validation tier);
    * rows with NULL `tsUsCol` are dropped (an unstamped event has no
    * bucket — filter upstream if that should be loud).
    */
  def resample(
      df: DataFrame,
      tsUsCol: String,
      valueCol: String,
      keyCols: Seq[String],
      stepUs: Long,
      maxBucketsPerKey: Long = 10000000L): DataFrame =
    gridFromCells(cells(df, tsUsCol, valueCol, keyCols, stepUs),
      keyCols, stepUs, maxBucketsPerKey)

  /** The per-(key, bucket) partial aggregate [[resample]] grids over:
    * `keys + (__b, n_events, value_micros)`. Cells are SUM-MERGEABLE —
    * the cells of a union of frames equal the summed union of their
    * cells — which is what lets
    * [[graft.streaming.StreamingOps.resampleSink]] log per-batch cells
    * under the stat-log sum fold law and reconstruct the exact batch
    * grid later.
    */
  private[graft] def cells(
      df: DataFrame,
      tsUsCol: String,
      valueCol: String,
      keyCols: Seq[String],
      stepUs: Long): DataFrame = {
    require(stepUs > 0, s"stepUs must be positive, got $stepUs")
    val reserved = Seq("__b", "__minb", "__maxb", "bucket_us", "n_events",
      "value_micros")
    val clash = reserved.filter(df.columns.contains)
    require(clash.isEmpty, s"reserved columns present: ${clash.mkString(", ")}")
    val keys = keyCols.map(col)
    val bucket = when(col(tsUsCol) < 0, raise_error(concat(
        lit("resample: negative timestamp "), col(tsUsCol),
        lit(" — integer bucketing is engine-portable only for ts >= 0"))))
      .otherwise(expr(s"$tsUsCol div $stepUs"))
    df.where(col(tsUsCol).isNotNull)
      .groupBy(keys :+ bucket.as("__b"): _*)
      .agg(
        count(lit(1)).as("n_events"),
        sum(round(col(valueCol).cast("double") * 1e6).cast("long"))
          .as("value_micros"))
  }

  /** Grid + gap-fill over [[cells]] rows (possibly pre-aggregated
    * across batches — a defensive re-sum makes the call idempotent
    * either way; it runs on the buckets-sized table, not the corpus).
    */
  private[graft] def gridFromCells(
      rawCells: DataFrame,
      keyCols: Seq[String],
      stepUs: Long,
      maxBucketsPerKey: Long = 10000000L): DataFrame = {
    require(maxBucketsPerKey >= 1,
      s"maxBucketsPerKey must be >= 1, got $maxBucketsPerKey")
    val keys = keyCols.map(col)
    graft.core.Caches.holding { held =>
      val agg = held(rawCells
        .groupBy(keys :+ col("__b"): _*)
        .agg(sum(col("n_events")).as("n_events"),
          sum(col("value_micros")).as("value_micros")))
      val spine = agg
        .groupBy(keys: _*)
        .agg(min(col("__b")).as("__minb"), max(col("__b")).as("__maxb"))
        .withColumn("__b", explode(sequence(
          col("__minb"),
          when(col("__maxb") - col("__minb") < lit(maxBucketsPerKey),
            col("__maxb"))
            .otherwise(raise_error(concat(
              lit(s"resample: a key spans more than $maxBucketsPerKey " +
                s"buckets of $stepUs us ("), col("__minb"), lit(".."),
              lit(" "), col("__maxb"),
              lit(") — widen stepUs or raise maxBucketsPerKey")))))))
        .drop("__minb", "__maxb")
      // null-safe key equality: a NULL key is its own series, and a plain
      // equi-join would drop it (leaving its observed buckets zeroed)
      val aggR = agg.select(
        keyCols.map(c => col(c).as(s"__r_$c")) ++
          Seq(col("__b").as("__rb"), col("n_events"), col("value_micros")): _*)
      val cond = keyCols
        .map(c => col(c) <=> col(s"__r_$c"))
        .foldLeft(col("__b") === col("__rb"))(_ && _)
      held(spine
        .join(aggR, cond, "left")
        .select(keys ++ Seq(
          (col("__b") * stepUs).as("bucket_us"),
          coalesce(col("n_events"), lit(0L)).as("n_events"),
          coalesce(col("value_micros"), lit(0L)).as("value_micros")): _*))
    }
  }

  /** Last-observation-carried-forward over a per-key ordered frame:
    * NULLs in `valueCol` take the most recent non-NULL value at or
    * before their `orderCol` position; leading NULLs (no prior
    * observation) stay NULL. `orderCol` must be non-nullable in the
    * data — NULL order keys sort differently across engines, so they
    * are REJECTED loudly rather than silently placed.
    *
    * Pair with [[resample]] by first masking gap buckets to NULL (e.g.
    * `when(n_events > 0, value_micros)`) — a state-like series carries
    * the last observed level through outages instead of dropping to 0.
    */
  def locf(
      df: DataFrame,
      valueCol: String,
      orderCol: String,
      keyCols: Seq[String],
      outCol: String = "locf_value"): DataFrame = {
    require(!df.columns.contains(outCol), s"output column $outCol exists")
    val guardedOrder = when(col(orderCol).isNull, raise_error(
        lit(s"locf: NULL in order column $orderCol — null ordering is not " +
          "engine-portable; filter or impute upstream")))
      .otherwise(col(orderCol))
    val w = (if (keyCols.isEmpty) Window.partitionBy()
             else Window.partitionBy(keyCols.map(col): _*))
      .orderBy(guardedOrder)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    df.withColumn(outCol, last(col(valueCol), ignoreNulls = true).over(w))
  }
}
