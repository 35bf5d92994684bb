package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Ordered-funnel and cohort-retention analytics over event streams —
  * the product-analytics queries a corpus/feature pipeline runs on its
  * interaction logs (and the shape crawl telemetry uses for
  * fetch → parse → index progression).
  *
  * Both operators are compositions of per-user aggregates: no windows
  * over the event corpus, no self-joins on time — each funnel step is
  * one user-keyed min-aggregate + one user-keyed join, so a k-step
  * funnel is k bounded exchanges regardless of event volume, and every
  * aggregate gets map-side partials. Hot users (bot traffic) are
  * absorbed by those partials rather than pinning a window partition.
  */
object Funnels {

  /** Per-user funnel reach: for ordered `steps` (name → row predicate),
    * the user's earliest time reaching each step WHERE the step-i event
    * is at-or-after their step-(i−1) reach time. Returns one row per
    * user who reached step 1: `(userCol, <name>_ts … nullable,
    * steps_completed)` — reach is monotone, so a null at step i implies
    * null at every later step.
    *
    * Equal timestamps count (`>=`): two steps satisfied by one event (or
    * simultaneous events) both reach — the conventional inclusive
    * funnel. Pass distinct predicates per step; a user's SAME event can
    * legitimately satisfy consecutive steps only under inclusive
    * semantics.
    */
  def funnelUsers(
      df: DataFrame,
      userCol: String,
      tsCol: String,
      steps: Seq[(String, Column)],
      withinSeconds: Option[Long] = None): DataFrame =
    funnelUsersFromMatched(
      matchedStepEvents(df, userCol, tsCol, steps),
      userCol, steps.map(_._1), withinSeconds)

  /** ONE pass over the events extracting `(userCol, __step, __ts)` —
    * a row per (event, step) whose predicate the event satisfies. This
    * is the funnel's sufficient statistic: [[funnelUsersFromMatched]]
    * over these rows equals [[funnelUsers]] over the raw events, and
    * because matched rows are a selective-predicate-sized SLICE of the
    * firehose, they are what a streaming funnel persists per batch
    * ([[graft.streaming.StreamingOps.funnelLogSink]]) — exact under any
    * cross-batch arrival order, unlike folded per-step minima, which
    * cannot re-order a late step-1 event against already-discarded
    * step-2 candidates.
    */
  def matchedStepEvents(
      df: DataFrame,
      userCol: String,
      tsCol: String,
      steps: Seq[(String, Column)]): DataFrame = {
    require(steps.size >= 2, s"a funnel needs >= 2 steps, got ${steps.size}")
    require(steps.map(_._1).distinct.size == steps.size,
      "step names must be unique")
    // a null-ts event cannot order against anything: it would enter a
    // user into the funnel with a null reach time that every later
    // comparison silently fails — drop it from consideration entirely
    val tagged = steps.zipWithIndex.map { case ((_, pred), i) =>
      when(pred, lit(i)).otherwise(lit(null).cast("int"))
    }
    df.where(col(tsCol).isNotNull)
      .select(col(userCol), col(tsCol).as("__ts"),
        explode(filter(array(tagged: _*), x => x.isNotNull)).as("__step"))
      .select(col(userCol), col("__step"), col("__ts"))
  }

  /** The funnel over pre-matched `(userCol, __step, __ts)` rows — the
    * shared engine behind [[funnelUsers]] and the streaming log twin.
    * `stepNames` fixes order and output column names.
    */
  def funnelUsersFromMatched(
      matched: DataFrame,
      userCol: String,
      stepNames: Seq[String],
      withinSeconds: Option[Long] = None): DataFrame = {
    require(stepNames.size >= 2,
      s"a funnel needs >= 2 steps, got ${stepNames.size}")
    withinSeconds.foreach(w => require(w >= 1,
      s"withinSeconds must be >= 1, got $w"))
    val firstTs = s"${stepNames.head}_ts"
    var acc = matched.where(col("__step") === 0)
      .groupBy(col(userCol).as("__u"))
      .agg(min(col("__ts")).as(firstTs))
    stepNames.zipWithIndex.tail.foreach { case (name, i) =>
      val prevTs = s"${stepNames(i - 1)}_ts"
      // conversion-window variant: later steps only count within
      // `withinSeconds` of the user's FIRST-step reach (the "converted
      // within 7 days" convention — anchored at entry, not per-step)
      val inWindow = withinSeconds
        .map(w => col("__ts") <= col(firstTs) + expr(s"INTERVAL $w SECOND"))
        .getOrElse(lit(true))
      val si = matched.where(col("__step") === i)
        .select(col(userCol).as("__u"), col("__ts"))
        .join(acc.select(Seq("__u", prevTs, firstTs).distinct.map(col): _*),
          "__u")
        .where(col("__ts") >= col(prevTs) && inWindow)
        .groupBy("__u")
        .agg(min(col("__ts")).as(s"${name}_ts"))
      acc = acc.join(si, Seq("__u"), "left")
    }
    val reached = stepNames.map { name =>
      when(col(s"${name}_ts").isNotNull, 1L).otherwise(0L)
    }.reduce(_ + _)
    acc.withColumn("steps_completed", reached)
      .withColumnRenamed("__u", userCol)
  }

  /** Step-level funnel summary: `(step, step_name, n_users)` with step 1
    * = everyone who ever satisfied the first predicate. Derived from
    * [[funnelUsers]] in one extra bins-sized aggregation.
    */
  def funnelCounts(
      df: DataFrame,
      userCol: String,
      tsCol: String,
      steps: Seq[(String, Column)],
      withinSeconds: Option[Long] = None): DataFrame = {
    val users = funnelUsers(df, userCol, tsCol, steps, withinSeconds)
    val perStep = steps.zipWithIndex.map { case ((name, _), i) =>
      struct(lit(i + 1).cast("long").as("step"), lit(name).as("step_name"),
        when(col(s"${name}_ts").isNotNull, 1L).otherwise(0L).as("__r"))
    }
    users.select(explode(array(perStep: _*)).as("__s"))
      .groupBy(col("__s.step").as("step"), col("__s.step_name").as("step_name"))
      .agg(sum(col("__s.__r")).as("n_users"))
  }

  /** Cohort retention: users cohorted by the period of their FIRST
    * event; one row per (cohort, periods-later offset) with the
    * distinct users active then and the fraction of the cohort they
    * are. `periodDays` sets the bucket (1 = daily, 7 = weekly
    * cohorts, both anchored at the epoch-day so bucketing is a pure
    * integer division both engines reproduce).
    *
    * Shape: one user-keyed aggregate for cohorts, one distinct over
    * (user, period), one join back, one bins-sized aggregate.
    */
  def cohortRetention(
      df: DataFrame,
      userCol: String,
      tsCol: String,
      periodDays: Int = 7): DataFrame =
    retentionFromPairs(activityPairs(df, userCol, tsCol, periodDays))

  /** The `(__u, __p)` activity pairs (user, epoch-anchored period) a
    * retention curve is computed from — retention's sufficient
    * statistic, and EXACTLY mergeable: distinct-union of per-batch
    * pairs equals the pairs of the concatenated batches, which is what
    * makes the streaming twin
    * ([[graft.streaming.StreamingOps.retentionLogSink]]) exact under
    * any arrival order. Bounded by users × active-periods, not events.
    */
  def activityPairs(
      df: DataFrame,
      userCol: String,
      tsCol: String,
      periodDays: Int): DataFrame = {
    require(periodDays >= 1, s"periodDays must be >= 1, got $periodDays")
    val periodOf = floor(datediff(to_date(col(tsCol)), lit("1970-01-01"))
      .cast("long") / periodDays).cast("long")
    df.where(col(tsCol).isNotNull)
      .select(col(userCol).as("__u"), periodOf.as("__p"))
      .distinct()
  }

  /** Retention curve from (possibly duplicated) activity pairs — the
    * shared engine behind [[cohortRetention]] and the streaming twin.
    */
  def retentionFromPairs(pairs: DataFrame): DataFrame = {
    val perUser = pairs.select(col("__u"), col("__p")).distinct()
    val cohorts = perUser.groupBy("__u").agg(min(col("__p")).as("__c"))
    val sized = cohorts.groupBy("__c").agg(count(lit(1)).as("__csize"))
    perUser.join(cohorts, "__u")
      .groupBy(col("__c"), (col("__p") - col("__c")).as("offset"))
      .agg(countDistinct(col("__u")).as("n_users"))
      .join(sized, "__c")
      .select(col("__c").as("cohort_period"), col("offset"),
        col("n_users"),
        round(col("n_users") / col("__csize").cast("double"), 6)
          .as("retained_frac"))
  }

  /** Pairwise association rules (Agrawal & Srikant 1994's
    * support/confidence plus lift) over per-session item sets: for
    * every ordered pair of co-occurring items `a → b`,
    * `support = P(a,b)`, `confidence = P(b|a)`, `lift = P(a,b)/(P(a)P(b))`
    * — the basket/behavior-mining companion to [[funnelCounts]] (which
    * tests a FIXED order; rules surface the co-occurrences worth
    * testing). Units: micros for support/confidence (exact one-division
    * integer rationals), lift rounded to 6 dp with the exact integer
    * form `n_ab·N / (n_a·n_b)`.
    *
    * Shape: one distinct (session, item) pass, a per-session self-join
    * for pairs (cost = items-per-session² — bounded by basket size,
    * not the corpus; a pathological mega-basket is the caller's
    * filter), three map-side-combined counts. `minSupportMicros`
    * prunes the pair tail BEFORE the join-backs. NULL items drop
    * (no identity to associate); both directions are emitted —
    * confidence is asymmetric.
    *
    * Output: `(antecedent, consequent, n_sessions, n_both,
    * support_micros, confidence_micros, lift)`.
    */
  def associationRules(
      df: DataFrame,
      sessionCol: String,
      itemCol: String,
      minSupportMicros: Long = 0L): DataFrame = {
    require(minSupportMicros >= 0L && minSupportMicros <= 1000000L,
      s"minSupportMicros out of [0, 1e6]: $minSupportMicros")
    graft.core.Caches.holding { held =>
      val si = held(df
        .where(col(sessionCol).isNotNull && col(itemCol).isNotNull)
        .select(col(sessionCol).as("__s"), col(itemCol).cast("string").as("__i"))
        .distinct())
      val nSessions = si.select(col("__s")).distinct().count()
      require(nSessions > 0, "associationRules: no sessions")
      val itemN = si.groupBy(col("__i")).agg(count(lit(1)).as("__ni"))
      val pairs = si.select(col("__s"), col("__i").as("antecedent"))
        .join(si.select(col("__s"), col("__i").as("consequent")), Seq("__s"))
        .where(col("antecedent") =!= col("consequent"))
        .groupBy(col("antecedent"), col("consequent"))
        .agg(count(lit(1)).as("n_both"))
        .where(col("n_both") * lit(1000000L) >= lit(minSupportMicros) * nSessions)
      held(pairs
        .join(itemN.select(col("__i").as("antecedent"), col("__ni").as("__na")),
          "antecedent")
        .join(itemN.select(col("__i").as("consequent"), col("__ni").as("__nb")),
          "consequent")
        .select(col("antecedent"), col("consequent"),
          lit(nSessions).as("n_sessions"), col("n_both"),
          expr(s"(n_both * 1000000L) div ${nSessions}L").as("support_micros"),
          expr("(n_both * 1000000L) div __na").as("confidence_micros"),
          round((col("n_both") * lit(nSessions)).cast("double") /
            (col("__na") * col("__nb")), 6).as("lift")))
    }
  }

  /** Behavioral path n-grams: per user, the ordered event-type stream's
    * length-`n` consecutive sub-sequences, counted globally —
    * `(ngram, n_occurrences)` with the path joined as `a > b > c`. The
    * "what do users actually do around X" companion to [[funnelCounts]]:
    * funnels test ONE hypothesized order; path n-grams surface the
    * orders that exist.
    *
    * Determinism contract: ordering is `(tsUsCol, orderCol)` per user
    * and BOTH must be non-NULL — NULL order keys sort differently
    * across engines, so they are rejected loudly (the
    * [[graft.operators.Timeseries.locf]] rule). NULL event types
    * become the literal category `"(null)"` — silently skipping them
    * would splice false adjacencies across the gap.
    *
    * Shape: one per-user window (lead chain — per-key sorted, the
    * [[AsofJoin]] skew caveat), one map-side-combined count. Rows
    * whose window runs off the user's stream end emit nothing.
    */
  def pathNgrams(
      df: DataFrame,
      userCol: String,
      tsUsCol: String,
      orderCol: String,
      typeCol: String,
      n: Int = 3): DataFrame = {
    require(n >= 2 && n <= 8, s"n must be in 2..8, got $n")
    def guarded(c: String): Column =
      when(col(c).isNull, raise_error(lit(
        s"pathNgrams: NULL in order column $c — null ordering is not " +
          "engine-portable; filter or impute upstream")))
        .otherwise(col(c))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(userCol))
      .orderBy(guarded(tsUsCol), guarded(orderCol))
    val t0 = coalesce(col(typeCol).cast("string"), lit("(null)"))
    val parts = (0 until n).map {
      case 0 => t0
      case i => lead(t0, i).over(w)
    }
    val complete = parts.drop(1)
      .foldLeft(lit(true))((acc, c) => acc && c.isNotNull)
    df.select(when(complete, concat_ws(" > ", parts: _*)).as("__g"))
      .where(col("__g").isNotNull)
      .groupBy(col("__g").as("ngram"))
      .agg(count(lit(1)).as("n_occurrences"))
  }

  /** Kaplan–Meier product-limit survival curve (Kaplan & Meier 1958)
    * per key — retention/lifetime estimation that [[cohortRetention]]
    * cannot give when observation windows are RIGHT-CENSORED (a user
    * still active at cutoff is not churned; dropping them biases the
    * curve down): `S(t) = Π_{t_i ≤ t} (1 − d_i / n_i)` over distinct
    * EVENT times, `n_i` = subjects with duration ≥ t_i (censored rows
    * leave the risk set without creating a step).
    *
    * Exactness: durations are integral BY CONTRACT and `eventCol` is
    * 0/1 loudly; d/n are exact LONG counts; each factor and the
    * LEFT-TO-RIGHT prefix product over ascending event times are
    * portable IEEE sequences (the fold order is pinned by a sorted
    * per-key array), so the DuckDB twin (list slice + list_reduce)
    * is hash-exact.
    *
    * Scale shape: one `groupBy(key, duration)` (map-side partials),
    * per-key windows over the DISTINCT-durations table (bounded
    * loudly at `maxTimes` by an eager guard — the quadratic slice-fold
    * and the per-key array both ride that bound), one collect-to-array
    * + posexplode per key. Output: key cols + `(t, n_risk, n_events,
    * survival)` at event times, survival rounded to 6.
    */
  def kaplanMeier(
      df: DataFrame,
      keyCols: Seq[String],
      durationCol: String,
      eventCol: String,
      maxTimes: Long = 10000L): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty — a global " +
      "curve is one array fold; key on something (or a lit constant)")
    require(maxTimes >= 1 && maxTimes <= 1000000L,
      s"maxTimes must be in 1..1000000, got $maxTimes")
    df.schema(durationCol).dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"kaplanMeier: `$durationCol` is $other — durations must be " +
          "INTEGRAL (days/seconds/micros; quantize upstream)")
    }
    val badRow = df.agg(
      count(when(col(durationCol).isNull || col(eventCol).isNull ||
        col(durationCol) < 0L, 1)).as("__bad"),
      count(when(col(eventCol) =!= 0L && col(eventCol) =!= 1L, 1))
        .as("__badE")).head()
    require(badRow.getAs[Long]("__bad") == 0L,
      s"kaplanMeier: ${badRow.getAs[Long]("__bad")} NULL/negative " +
        "duration or NULL event row(s) — filter deliberately upstream")
    require(badRow.getAs[Long]("__badE") == 0L,
      s"kaplanMeier: ${badRow.getAs[Long]("__badE")} event flag(s) " +
        "outside {0, 1}")
    val keys = keyCols.map(col)
    val times = df.groupBy(keys :+ col(durationCol).as("__t"): _*)
      .agg(sum(col(eventCol).cast("long")).as("__d"),
        count(lit(1)).as("__c"))
    val guard = times.groupBy(keys: _*).agg(count(lit(1)).as("__k"))
      .agg(max(col("__k")).as("__mx")).head().getAs[Long]("__mx")
    require(guard <= maxTimes,
      s"kaplanMeier: a key has $guard distinct durations " +
        s"(> maxTimes=$maxTimes) — coarsen the duration unit upstream")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys: _*).orderBy(col("__t"))
      .rowsBetween(Long.MinValue, -1)
    val risk = times
      .withColumn("__total",
        sum(col("__c")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(keys: _*)))
      .withColumn("__n",
        col("__total") - coalesce(sum(col("__c")).over(w), lit(0L)))
      .where(col("__d") > 0L)
      .withColumn("__f",
        lit(1.0) - col("__d").cast("double") / col("__n"))
    risk.groupBy(keys: _*)
      .agg(array_sort(collect_list(struct(col("__t"), col("__d"),
        col("__n"), col("__f")))).as("__steps"))
      .select(keys :+ col("__steps") :+
        posexplode(col("__steps")).as(Seq("__i", "__s")): _*)
      .select(keys ++ Seq(col("__s.__t").as("t"),
        col("__s.__n").as("n_risk"), col("__s.__d").as("n_events"),
        round(aggregate(
          transform(slice(col("__steps"), lit(1), col("__i") + 1),
            s => s.getField("__f")),
          lit(1.0), (acc, x) => acc * x), 6).as("survival")): _*)
  }

  /** Nelson–Aalen cumulative hazard (Nelson 1972, Aalen 1978) per key —
    * [[kaplanMeier]]'s additive sibling: `H(t) = Σ_{t_i ≤ t} d_i/n_i`
    * over distinct event times with the SAME right-censoring-aware risk
    * sets. Where KM answers "what fraction survives to t", the hazard
    * answers "how fast are they failing around t" — near-linear H(t)
    * means a constant churn rate, a bend is a regime change; and
    * `exp(−H)` is the Fleming–Harrington survival alternative that
    * behaves better at small risk sets.
    *
    * Exactness: identical input contracts to [[kaplanMeier]] (integral
    * durations, 0/1 events, loud NULL/negative refusal, the same
    * `maxTimes` eager guard); each step's `d/n` is one double from
    * exact LONGs, nano-rounded at birth, and the cumulative sum is a
    * pure LONG prefix — order-free, so the DuckDB twin is hash-exact
    * with no fold-order pinning at all (simpler than KM's product).
    *
    * Scale shape: one `groupBy(key, duration)` with map-side partials,
    * per-key windows over the DISTINCT-durations table (bounded by the
    * `maxTimes` guard), no collect, no array fold. Output: key cols +
    * `(t, n_risk, n_events, cum_hazard)` at event times, rounded to 6.
    */
  def nelsonAalen(
      df: DataFrame,
      keyCols: Seq[String],
      durationCol: String,
      eventCol: String,
      maxTimes: Long = 10000L): DataFrame = {
    require(keyCols.nonEmpty, "keyCols must be non-empty — a global " +
      "curve is one prefix sum; key on something (or a lit constant)")
    require(maxTimes >= 1 && maxTimes <= 1000000L,
      s"maxTimes must be in 1..1000000, got $maxTimes")
    df.schema(durationCol).dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"nelsonAalen: `$durationCol` is $other — durations must be " +
          "INTEGRAL (days/seconds/micros; quantize upstream)")
    }
    val badRow = df.agg(
      count(when(col(durationCol).isNull || col(eventCol).isNull ||
        col(durationCol) < 0L, 1)).as("__bad"),
      count(when(col(eventCol) =!= 0L && col(eventCol) =!= 1L, 1))
        .as("__badE")).head()
    require(badRow.getAs[Long]("__bad") == 0L,
      s"nelsonAalen: ${badRow.getAs[Long]("__bad")} NULL/negative " +
        "duration or NULL event row(s) — filter deliberately upstream")
    require(badRow.getAs[Long]("__badE") == 0L,
      s"nelsonAalen: ${badRow.getAs[Long]("__badE")} event flag(s) " +
        "outside {0, 1}")
    val keys = keyCols.map(col)
    val times = df.groupBy(keys :+ col(durationCol).as("__t"): _*)
      .agg(sum(col(eventCol).cast("long")).as("__d"),
        count(lit(1)).as("__c"))
    val guard = times.groupBy(keys: _*).agg(count(lit(1)).as("__k"))
      .agg(max(col("__k")).as("__mx")).head().getAs[Long]("__mx")
    require(guard <= maxTimes,
      s"nelsonAalen: a key has $guard distinct durations " +
        s"(> maxTimes=$maxTimes) — coarsen the duration unit upstream")
    val wPrev = org.apache.spark.sql.expressions.Window
      .partitionBy(keys: _*).orderBy(col("__t"))
      .rowsBetween(Long.MinValue, -1)
    val wIncl = org.apache.spark.sql.expressions.Window
      .partitionBy(keys: _*).orderBy(col("__t"))
      .rowsBetween(Long.MinValue, 0)
    times
      .withColumn("__total",
        sum(col("__c")).over(org.apache.spark.sql.expressions.Window
          .partitionBy(keys: _*)))
      .withColumn("__n",
        col("__total") - coalesce(sum(col("__c")).over(wPrev), lit(0L)))
      .withColumn("__hn", when(col("__d") > 0L,
        round(col("__d").cast("double") / col("__n") * 1e9).cast("long"))
        .otherwise(lit(0L)))
      .withColumn("__H", sum(col("__hn")).over(wIncl))
      .where(col("__d") > 0L)
      // nanos → micros in INTEGER space (HALF_UP; H ≥ 0): a float
      // round of hh/1e9 at 6 dp ties on …500 nano sums and the two
      // engines break such ties differently — the integer collapse
      // cannot tie
      .select(keys ++ Seq(col("__t").as("t"), col("__n").as("n_risk"),
        col("__d").as("n_events"),
        round(floor((col("__H") + 500L) / 1000L).cast("double") / 1e6, 6)
          .as("cum_hazard")): _*)
  }
}
