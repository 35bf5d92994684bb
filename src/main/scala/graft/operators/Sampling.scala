package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic dataset splitting and sampling for training pipelines.
  *
  * Beyond-reference: at 100 TB, `randomSplit` is a trap — assignment
  * changes across retries/partitions unless the seed plumbing is perfect,
  * and it cannot be reproduced by another engine auditing the split.
  * Hash-based assignment (bucket = sha256(id || salt) mod N) is stable
  * across runs, engines, partitionings, and incremental arrivals: a row's
  * split never changes when the dataset grows. Narrow (no shuffle).
  */
object Sampling {

  private val Buckets = 1000000L

  /** Uniform bucket in [0, 1e6) for a row: the first 7 hex chars of
    * sha256(value || ":" || salt) reduced mod 1e6. Null ids hash as ''.
    * Integer all the way — split boundaries never depend on float
    * accumulation order, so any engine reproduces the assignment.
    */
  def hashBucket(idCol: Column, salt: String): Column =
    graft.functions.Hashing.hexPrefixBucket(
      coalesce(idCol.cast("string"), lit("")), salt, Buckets)

  /** Adds a split-label column ("train"/"val"/... per `fractions`, which
    * must sum to <= 1; any remainder gets the last label).
    *
    * Leakage-safe splits: hash a GROUP column instead of the row id
    * (`withHashSplit(df, "domain", ...)`) and every row of a domain lands
    * in the same split — near-duplicate documents cluster within sources,
    * so row-keyed splits quietly leak train content into eval.
    */
  def withHashSplit(
      df: DataFrame,
      idCol: String,
      fractions: Seq[(String, Double)],
      salt: String = "graft",
      outputCol: String = "split"): DataFrame = {
    require(fractions.nonEmpty, "fractions must be non-empty")
    require(fractions.map(_._2).sum <= 1.0 + 1e-9, "fractions must sum to <= 1")
    val b = hashBucket(col(idCol), salt)
    // integer cut points: round the cumulative fraction once, so 0.8+0.1
    // becoming 0.9000000000000001 cannot flip a boundary bucket
    val cuts = fractions.scanLeft(0.0) { case (acc, (_, f)) => acc + f }
      .tail.map(c => math.round(c * Buckets))
    val labeled = fractions.map(_._1).zip(cuts).dropRight(1)
      .foldLeft(when(lit(false), lit(null: String))) { case (c, (label, cut)) =>
        c.when(b < cut, lit(label))
      }
    df.withColumn(outputCol, labeled.otherwise(lit(fractions.last._1)))
  }

  /** Deterministic fraction-sample: keep rows whose hash bucket falls
    * under `fraction` of the bucket space. Stable under reruns and
    * dataset growth.
    */
  def hashSample(
      df: DataFrame, idCol: String, fraction: Double,
      salt: String = "graft"): DataFrame = {
    require(fraction >= 0.0 && fraction <= 1.0, "fraction must be in [0,1]")
    df.where(hashBucket(col(idCol), salt) < math.round(fraction * Buckets))
  }

  /** Stratified deterministic sample: per-group keep fractions (e.g.
    * up-sample rare languages, down-sample crawl dumps), hash-assigned so
    * the decision for a row never changes across runs, engines, or dataset
    * growth. Groups absent from `fractions` keep `defaultFraction`.
    * Narrow — no shuffle, no per-group counts.
    */
  def stratifiedSample(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      fractions: Map[String, Double],
      defaultFraction: Double = 0.0,
      salt: String = "graft"): DataFrame = {
    require(fractions.nonEmpty, "fractions must be non-empty")
    (fractions.values ++ Seq(defaultFraction)).foreach(f =>
      require(f >= 0.0 && f <= 1.0, s"fractions must be in [0,1], got $f"))
    // sorted for a deterministic when-chain (Map order is not contractual)
    val cut = fractions.toSeq.sortBy(_._1)
      .foldLeft(when(lit(false), lit(0L))) { case (c, (k, f)) =>
        c.when(col(groupCol) === k, lit(math.round(f * Buckets)))
      }
      .otherwise(lit(math.round(defaultFraction * Buckets)))
    df.where(hashBucket(col(idCol), salt) < cut)
  }

  /** Sample to a target group MIXTURE: the output's group proportions
    * match `weights` (target proportions, must sum to 1), with per-row
    * keep decisions hash-assigned (stable across runs/engines/growth).
    * The domain-reweighting step of a training-data pipeline — "50% web,
    * 30% code, 20% books" — expressed as one bounded count per weighted
    * group plus a narrow filter.
    *
    * `totalRows = -1` (default) takes the largest total achievable
    * without up-sampling any group: `n = floor(min_g(count_g / w_g))`.
    * An explicit `totalRows` must not exceed that bound (no group can
    * yield more rows than it has). Groups absent from `weights` are
    * dropped. Proportions are exact in expectation (hash-uniform), not
    * row-exact — the price of a narrow, deterministic plan.
    */
  def sampleToMixture(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      weights: Map[String, Double],
      totalRows: Long = -1L,
      salt: String = "graft"): DataFrame = {
    require(weights.nonEmpty, "weights must be non-empty")
    weights.foreach { case (g, w) =>
      require(w > 0.0, s"weight for '$g' must be positive") }
    val sum = weights.values.sum
    require(math.abs(sum - 1.0) <= 1e-6,
      s"weights are target proportions and must sum to 1 (got $sum)")
    // bounded collect: one row per weighted group
    val counts = df
      .where(col(groupCol).isin(weights.keys.toSeq: _*))
      .groupBy(col(groupCol).cast("string").as("__g"))
      .agg(count(lit(1)).as("__c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    weights.keys.foreach { g =>
      require(counts.getOrElse(g, 0L) > 0L,
        s"target group '$g' has no rows — its proportion is unachievable") }
    val maxN = weights.map { case (g, w) => counts(g) / w }.min
    val n = if (totalRows >= 0) totalRows else math.floor(maxN).toLong
    require(n <= math.floor(maxN).toLong,
      s"totalRows=$n exceeds the achievable total ${math.floor(maxN).toLong} " +
        "(the scarcest weighted group caps the mixture)")
    // clamp: the binding group's fraction can land one ulp above 1.0
    // (floor(c/w) * w / c slightly exceeding 1 in floating point), which
    // stratifiedSample's range check would reject on achievable input
    val fractions = weights.map { case (g, w) =>
      g -> math.min(1.0, n * w / counts(g)) }
    stratifiedSample(df, idCol, groupCol, fractions,
      defaultFraction = 0.0, salt = salt)
  }

  /** Temperature-smoothed mixture weights from observed group counts —
    * the multilingual sampling rule `p_g ∝ count_g^alpha` (Conneau &
    * Lample 2019, arXiv:1901.07291 §3.1; mT5's exponential smoothing,
    * arXiv:2010.11934). `alpha = 1` keeps natural proportions; smaller
    * alpha flattens toward uniform, upweighting low-resource groups.
    *
    * Engine-reproducible by construction: each `pow` value is rounded
    * once to integer micros, the normalizer is an EXACT integer sum of
    * those micros, and the final weight is one integer/integer division —
    * no float-accumulation-order sensitivity, and the sub-micro `pow`
    * ulp between libm implementations is absorbed by the rounding.
    *
    * One bounded job: a map-side-combined count per group with the
    * collect capped at `maxGroups` rows — mixture groups are languages or
    * domains; a column with more distinct values than that is a key, not
    * a mixture dimension, and is rejected loudly.
    */
  def alphaMixtureWeights(
      df: DataFrame,
      groupCol: String,
      alpha: Double = 0.3,
      maxGroups: Int = 10000): Map[String, Double] = {
    require(alpha > 0.0 && alpha <= 1.0, s"alpha must be in (0,1], got $alpha")
    val rows = df.where(col(groupCol).isNotNull)
      .groupBy(col(groupCol).cast("string").as("__g"))
      .agg(count(lit(1)).as("__c"))
      .limit(maxGroups + 1)
      .collect()
    require(rows.length <= maxGroups,
      s"more than $maxGroups distinct '$groupCol' values — that column is " +
        "a key, not a mixture dimension")
    require(rows.nonEmpty, s"no non-null '$groupCol' values to weight")
    val micros = rows.map(r => r.getString(0) ->
      math.round(math.pow(r.getLong(1).toDouble, alpha) * 1e6))
    val total = micros.map(_._2).sum
    micros.map { case (g, pw) => g -> pw.toDouble / total.toDouble }.toMap
  }

  /** [[sampleToMixture]] with [[alphaMixtureWeights]]-derived target
    * proportions — "flatten the language mix at alpha = 0.3" as one call.
    */
  def sampleToAlphaMixture(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      alpha: Double = 0.3,
      totalRows: Long = -1L,
      salt: String = "graft"): DataFrame =
    sampleToMixture(df, idCol, groupCol,
      alphaMixtureWeights(df, groupCol, alpha), totalRows, salt)

  /** Deterministic global shuffle for training-data ordering: every row
    * gets a reproducible pseudo-random sort key `sha256(seed || ":" || id)`
    * and `posCol` — its 0-based rank in that order, identical on any
    * engine and any partitioning.
    *
    * The global index is computed WITHOUT a single-partition window:
    * range-partition on the key, rank within each partition, then add each
    * partition's start offset (per-partition counts are a `numPartitions`-
    * row aggregate joined back broadcast). Same mechanics as RDD
    * zipWithIndex, expressed relationally. Writing the result out
    * partition-by-partition preserves the shuffled order end to end.
    *
    * NOTE: like zipWithIndex, the two passes (offsets, output) share one
    * materialization — the ranked input is persisted MEMORY_AND_DISK for
    * the query's lifetime. Callers shuffling a large corpus should write
    * the result out, then release — wrap the call in
    * [[graft.core.Caches.collectPins]] and `release()` after the write;
    * without the persist the full scan + range shuffle + rank would run
    * twice instead.
    */
  def deterministicShuffle(
      df: DataFrame,
      idCol: String,
      seed: String = "graft",
      posCol: String = "pos"): DataFrame = {
    val skey = sha2(concat_ws(":", lit(seed),
      coalesce(col(idCol).cast("string"), lit(""))), 256)
    val parts = df.sparkSession.sparkContext.defaultParallelism
    // ONE full-corpus exchange (the range partitioning), then only narrow
    // work: sort locally, count per partition for the offsets, and read
    // monotonically_increasing_id's per-partition counter as the
    // in-partition rank — its low 33 bits increment in row order within a
    // partition, and the projection sits above the local sort so that
    // order IS the (skey, id) order. The window-by-partition-id
    // alternative re-shuffles the whole corpus a second time just to
    // group by a value that already equals the physical partition.
    val keyed = graft.core.Caches.pin(
      df.withColumn("__skey", skey)
        .repartitionByRange(parts, col("__skey"), col(idCol))
        .sortWithinPartitions(col("__skey"), col(idCol))
        .withColumn("__pid", spark_partition_id()))
    // per-partition row counts → cumulative offsets (≤ `parts` rows);
    // both consumers read the pinned exchange, not the scan twice
    val counterBits = 33 // monotonically_increasing_id: id = pid·2^33 + n
    val offsets = keyed.groupBy("__pid").agg(count(lit(1)).as("__n"))
      .withColumn("__off",
        coalesce(sum(col("__n")).over(
          org.apache.spark.sql.expressions.Window.orderBy("__pid")
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      // a partition beyond 2^33 rows would wrap the counter — fail loud
      // (cheap: evaluated once per partition on a ≤ `parts`-row frame)
      .select(col("__pid"),
        (col("__off") + coalesce(
          assert_true(col("__n") < lit(1L << counterBits),
            lit(s"deterministicShuffle: partition exceeds 2^$counterBits rows"))
            .cast("long"),
          lit(0L))).as("__off"))
    keyed.withColumn("__mid", monotonically_increasing_id())
      .join(broadcast(offsets), "__pid")
      .withColumn(posCol, col("__off") + col("__mid") % lit(1L << counterBits))
      .drop("__pid", "__mid", "__off", "__skey")
  }

  /** Deterministic weighted NEGATIVE sampling (the word2vec noise draw,
    * Mikolov 2013): `k` vocabulary terms per training pair, each drawn
    * from the integer-weighted vocab distribution by inverse-CDF over
    * exact cumulative weights — the companion to
    * [[graft.operators.TextAnalysis.skipGramPairs]] that completes the
    * embedding-training data path. (Pass `round(cnt^0.75)` weights for
    * the classic smoothing; any positive integers work and plain
    * counts keep the whole operator engine-exact.)
    *
    * "Random" is the [[graft.operators.Graphs.randomWalks]] hash
    * convention: draw `j` for pair `(c, x)` lands at
    * `sha256(seed:c:x:j)[0..15 hex] mod ΣW` on the cumulative line, so
    * every engine redraws the same negatives. The line lookup is the
    * bucketized [[graft.operators.RangeJoin.pointInInterval]] — heavy
    * terms (wide intervals) ride its broadcast path, so a 40%-mass
    * stopword cannot fan out. A draw may coincide with the pair's own
    * words (word2vec keeps such draws; filter downstream if not).
    *
    * Scale shape: cumulative weights via the
    * [[graft.operators.Validation.rangePrefix]] discipline (range-
    * repartition + per-physical-partition prefixes + broadcast offsets
    * — the vocab is bounded ≤ ~1e7 by
    * [[graft.operators.TextAnalysis.buildVocab]], but no single task
    * ever sorts it anyway), then pairs × k points into ONE bucketized
    * equi-join. Output: pair columns + `(j, neg_term)`.
    */
  def negativeSamples(
      pairs: DataFrame,
      centerCol: String,
      contextCol: String,
      vocab: DataFrame,
      termCol: String,
      weightCol: String,
      k: Int,
      seed: String = "graft"): DataFrame = {
    require(k >= 1 && k <= 64, s"k must be in 1..64, got $k")
    require(!seed.contains(":"), "seed must not contain ':'")
    val v = vocab
      .select(col(termCol).cast("string").as("__t"),
        col(weightCol).cast("long").as("__w"))
      .where(col("__t").isNotNull && col("__w") > 0L)
    graft.core.Caches.holding { held =>
      val intervals = held(Validation.rangePrefix(v, "__t", "__w", "__lo")
        .withColumn("__hi", col("__lo") + col("__w") - lit(1L))
        .select(col("__t").as("neg_term"), col("__lo"), col("__hi")))
      val total = intervals.agg(max(col("__hi"))).head()
      require(!total.isNullAt(0),
        "negativeSamples: vocab has no positive-weight terms")
      val totalW = total.getLong(0) + 1L
      val points = pairs
        .withColumn("__j", explode(sequence(lit(1), lit(k))))
        .withColumn("__u",
          graft.functions.VectorFunctions.hexPrefixToLong(
            sha2(concat_ws(":", lit(seed),
              col(centerCol).cast("string"), col(contextCol).cast("string"),
              col("__j").cast("string")), 256), 15) % lit(totalW))
      held(RangeJoin.pointInInterval(points, intervals, "__u", "__lo",
          "__hi", bucketWidth = math.max(1L, totalW / 4096L),
          broadcastWideIntervals = true)
        .drop("__u", "__lo", "__hi")
        .withColumnRenamed("__j", "j"))
    }
  }

  private val Window = org.apache.spark.sql.expressions.Window

  /** Per-group quota: keep at most `n` rows per distinct value of
    * `groupCols`, chosen deterministically by `orderCols` (ranked
    * ascending; prefix with a quality score descending to keep "best N").
    * The standard "cap documents per domain/source" step of a corpus
    * pipeline: one shuffle on the group key, counts never collected.
    */
  def limitPerGroup(
      df: DataFrame,
      groupCols: Seq[String],
      n: Int,
      orderCols: Seq[Column]): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    require(n > 0, "n must be positive")
    require(orderCols.nonEmpty,
      "orderCols must be non-empty (ties would make the quota nondeterministic)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*).orderBy(orderCols: _*)
    df.withColumn("__qrn", row_number().over(w))
      .where(col("__qrn") <= n)
      .drop("__qrn")
  }

  /** TOKEN-budget quota per group: keep rows, in `orderCols` order, while
    * the group's running token total has not yet reached `budget` — the
    * mixture-construction step that fills "N tokens of domain X", where
    * [[limitPerGroup]]'s row quota would over-sample short-document
    * domains and under-sample long-document ones.
    *
    * Greedy-fill semantics: a row is kept iff the EXCLUSIVE running sum
    * (tokens of kept rows strictly before it) is `< budget`, so the
    * straddling document is included and each group's total lands in
    * `[budget, budget + max_doc_tokens)` (a group with fewer total tokens
    * keeps everything). Deterministic given `orderCols`; pass a hash
    * order ([[hashBucket]]) for an unbiased fill, or quality-descending
    * for a best-first fill.
    *
    * One group-key window exchange. Unlike the row quota, a running SUM
    * has no rank-limit pushdown — every group row crosses the wire once;
    * at corpus scale pre-filter obviously-excess rows first (e.g.
    * [[limitPerGroup]] at `budget / typical_min_tokens`) if a group can
    * be pathologically larger than its budget.
    */
  def tokenBudgetPerGroup(
      df: DataFrame,
      groupCols: Seq[String],
      tokenCol: String,
      budget: Long,
      orderCols: Seq[Column]): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    require(budget > 0, "budget must be positive")
    require(orderCols.nonEmpty,
      "orderCols must be non-empty (ties would make the fill nondeterministic)")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*).orderBy(orderCols: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        -1)
    // A null token count would be SKIPPED by the window sum — the row
    // would ride along free whenever the prior cumulative total is under
    // budget, contributing nothing to the fill. A negative count would
    // corrupt the running total the same silent way. Fail loudly in-row
    // (zero extra passes), matching the style of the other parameters.
    val tok = when(col(tokenCol).isNotNull && col(tokenCol) >= 0,
        col(tokenCol).cast("long"))
      .otherwise(raise_error(concat(
        lit(s"tokenBudgetPerGroup: `$tokenCol` must be non-null and >= 0, got "),
        coalesce(col(tokenCol).cast("string"), lit("NULL")),
        lit(" — fix or filter token counts before budgeting"))).cast("long"))
    df.withColumn("__cum", coalesce(sum(tok).over(w), lit(0L)))
      .where(col("__cum") < budget)
      .drop("__cum")
  }

  /** Waterfill (max-min fair) budget allocation: given per-group item
    * counts and a global `budget`, find the single cap `c*` such that
    * funding every group at `min(count, c*)` spends at most the budget
    * with the LARGEST possible common cap — the proportional-fair
    * answer to "which domains do we crawl how much of today" and
    * "how many docs per source fit this training mix". Small groups are
    * fully funded; big groups are throttled to one shared ceiling, so
    * no mega-domain starves the tail (the opposite failure of a naive
    * pro-rata split).
    *
    * Closed form, no iteration: over counts sorted ascending, the pivot
    * row k is the unique one where `cap = (budget − prefix_before_k)
    * div (groups_from_k_on)` lands in `[count_{k−1}, count_k)` — ONE
    * groups-sized sort window (this operates on per-group AGGREGATES,
    * the vocab-ranking size class, corpus never touches it) + a
    * 1-row cap aggregate joined back as a broadcast scalar. Integer
    * arithmetic throughout — engine-exact.
    *
    * Returns (groupCol, countCol, `alloc`); Σ alloc ≤ budget always,
    * with equality-up-to-(#capped−1) slack (the div remainder).
    */
  def waterfillAllocations(
      counts: DataFrame,
      groupCol: String,
      countCol: String,
      budget: Long): DataFrame = {
    require(budget >= 0, s"budget must be >= 0, got $budget")
    val c = when(col(countCol).isNotNull && col(countCol) >= 0,
        col(countCol).cast("long"))
      .otherwise(raise_error(concat(
        lit(s"waterfillAllocations: `$countCol` must be non-null and >= 0, got "),
        coalesce(col(countCol).cast("string"), lit("NULL")))).cast("long"))
    val byCount = org.apache.spark.sql.expressions.Window
      .orderBy(col("__c"), col(groupCol))
    val rows = counts.withColumn("__c", c)
      .withColumn("__k", row_number().over(byCount))
      .withColumn("__excl", coalesce(sum(col("__c")).over(
        byCount.rowsBetween(
          org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)),
        lit(0L)))
      .withColumn("__prev", lag(col("__c"), 1, 0L).over(byCount))
      .withColumn("__n", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("__c"), col(groupCol))
          .rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding,
            org.apache.spark.sql.expressions.Window.unboundedFollowing)))
    val withCand = rows.withColumn("__cand",
      expr(s"(${budget}L - __excl) div (__n - __k + 1)"))
    // the unique pivot: rows before it fully funded (prev <= cand),
    // itself capped (cand < its count). No pivot row means the budget
    // funds everyone (total <= budget).
    val capRow = withCand
      .where(col("__prev") <= col("__cand") && col("__cand") < col("__c"))
      .agg(min(col("__cand")).as("__cap"))
    withCand.crossJoin(broadcast(capRow))
      .select(col(groupCol),
        col("__c").as(countCol),
        when(col("__cap").isNull, col("__c"))
          .otherwise(least(col("__c"), col("__cap"))).as("alloc"))
  }

  /** Deterministic weighted sampling WITHOUT replacement, k per group
    * (Efraimidis & Spirakis 2006): each row gets the key `ln(u) / w` with
    * `u ∈ (0, 1]` derived from the same sha256-prefix hash as
    * [[hashBucket]] (so the draw is reproducible across runs, engines,
    * partitionings, and incremental arrivals — vary `salt` to redraw),
    * and the top-k keys per group are the sample. Inclusion probability
    * is proportional to `weightCol` — the quality-weighted /
    * length-weighted subset selection step of a corpus pipeline, with
    * the same audit-by-another-engine property as the uniform samplers.
    *
    * Rows with NULL or non-positive weight are excluded (they have zero
    * sampling mass). One shuffle on the group key; `row_number` gets the
    * rank-limit pushdown, so skewed groups don't flood the exchange.
    *
    * PRECONDITION: `idCol` must be unique within each group (same
    * contract as [[hashBucket]]). The draw `u` derives from `idCol` and
    * `salt` alone, so duplicate ids in a group would get identical keys
    * and the id tie-break would then hide the duplication — silently
    * skewing the Efraimidis-Spirakis inclusion probabilities. Dedup
    * first ([[graft.operators.Dedup.exactDedup]]) when ids can repeat.
    */
  def weightedSample(
      df: DataFrame,
      groupCols: Seq[String],
      idCol: String,
      weightCol: String,
      k: Int,
      salt: String = "graft-ws"): DataFrame = {
    require(groupCols.nonEmpty, "groupCols must be non-empty")
    require(k >= 1, s"k must be >= 1, got $k")
    // u = (hex7 + 1) / 16^7 ∈ (0, 1]; integer numerator, one exact
    // division — any engine reproduces it bit-for-bit
    val u = (graft.functions.VectorFunctions.hexPrefixToLong(
      sha2(concat_ws(":", coalesce(col(idCol).cast("string"), lit("")),
        lit(salt)), 256), 7) + lit(1L)).cast("double") / lit(268435456.0)
    val key = log(u) / col(weightCol).cast("double")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(groupCols.map(col): _*)
      .orderBy(col("__wsk").desc, col(idCol).asc)
    df.where(col(weightCol).isNotNull && col(weightCol) > 0)
      .withColumn("__wsk", key)
      .withColumn("__wsr", row_number().over(w))
      .where(col("__wsr") <= k)
      .drop("__wsk", "__wsr")
  }

  /** Data-constrained scaling plan (Muennighoff et al. 2023, "Scaling
    * Data-Constrained Language Models"): given each domain's UNIQUE
    * token count and a total training-token budget split uniformly
    * across domains, report how many epochs each domain repeats and how
    * many EFFECTIVE tokens the repetition is worth under the paper's
    * decay fit — `D' = U + U·R*·(1 − e^(−R/R*))` with `R = D/U − 1`
    * repetitions and the published `R* = 15.39` (their Eq. 5 fit:
    * repeated epochs decay in value, ~worthless past ≈ 16). The planner
    * read: a domain whose `efficiency = D'/D` has collapsed is where
    * the budget is being wasted — rebalance toward under-epoched
    * domains ([[waterfillAllocations]] is the complementary mover).
    *
    * When a domain's allocation does not even cover one epoch
    * (`D ≤ U`), every token is fresh: `D' = D`, efficiency 1.
    *
    * Exactness: unique-token counts are exact LONG aggregates, the
    * per-domain allocation is an integer division of the budget, and
    * the decay is one portable IEEE expression over those integers —
    * a DuckDB twin matches hash-exactly. Output per domain:
    * `(domain, unique_tokens, alloc_tokens, epochs, effective_tokens,
    * efficiency)`, 6 dp.
    */
  def dataConstrainedPlan(
      docs: DataFrame,
      domainCol: String,
      textCol: String,
      budget: Long,
      rStar: Double = 15.39): DataFrame = {
    require(budget >= 1L, s"budget must be >= 1, got $budget")
    require(rStar > 0.0, s"rStar must be > 0, got $rStar")
    val counts = docs.where(col(domainCol).isNotNull)
      .groupBy(col(domainCol).as("domain"))
      .agg(sum(size(TextAnalysis.tokens(col(textCol)))).cast("long")
        .as("unique_tokens"))
      .where(col("unique_tokens") > 0)
    val k = counts.count()
    require(k >= 1L, "dataConstrainedPlan: no non-empty domain")
    val alloc = lit(budget / k) // uniform split, integer floor
    val u = col("unique_tokens").cast("double")
    val r = alloc.cast("double") / u - lit(1.0)
    val dPrime = u + u * lit(rStar) * (lit(1.0) - exp(-r / lit(rStar)))
    counts.select(col("domain"), col("unique_tokens"),
      alloc.as("alloc_tokens"),
      round(alloc.cast("double") / u, 6).as("epochs"),
      when(alloc <= col("unique_tokens"), alloc.cast("double"))
        .otherwise(round(dPrime, 6)).as("effective_tokens"),
      when(alloc <= col("unique_tokens"), lit(1.0))
        .otherwise(round(dPrime / alloc.cast("double"), 6))
        .as("efficiency"))
  }
}
