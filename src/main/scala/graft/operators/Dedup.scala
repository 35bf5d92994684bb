package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.core.{Caches, Loop}
import graft.operators.TextAnalysis.{hash28, hash60, shingles, tokens, MinhashPrime}

/** Deduplication operators for training-data pipelines: exact, MinHash+LSH,
  * SimHash, n-gram Jaccard, embedding-cosine near-dup.
  *
  * Scale design: signatures/fingerprints are per-row column expressions (no
  * shuffle); candidate generation shuffles once on band/bucket keys, so the
  * quadratic pair space is never materialized — only same-bucket pairs are
  * joined. Verification runs on candidates only.
  */
object Dedup {

  /** Repartition up to the cluster's parallelism when the input has fewer
    * partitions — a CPU-bound stage over one small file must not run as a
    * single task. No-op when the input is already well-partitioned.
    */
  private[operators] def spreadForCompute(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.{logical => lp}
    val target = df.sparkSession.sparkContext.defaultParallelism
    // If the plan already contains a shuffle (join/agg/window/repartition),
    // the input is as wide as the session allows - and, crucially, calling
    // .rdd.getNumPartitions on it under AQE would MATERIALIZE the upstream
    // stages just to read a count, doubling their cost. Only consult the
    // physical partition count for shuffle-free plans (scans/unions),
    // where it is a metadata-only question.
    val hasShuffle = df.queryExecution.optimizedPlan.exists {
      case _: lp.Aggregate | _: lp.Join | _: lp.Window | _: lp.Sort |
           _: lp.RepartitionOperation | _: lp.Distinct => true
      case _ => false
    }
    if (hasShuffle) df
    else if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target)
  }

  /** Exact dedup: keep the first row (by `orderCol`) per distinct value of
    * the dedup columns' row hash. A windowed rank, not dropDuplicates, so
    * the survivor choice is deterministic.
    */
  def exactDedup(df: DataFrame, dedupCols: Seq[String], orderCol: String): DataFrame = {
    // all-column row hash as the final tiebreak: orderCol ties (same
    // ingest date is common) would otherwise leave the survivor to
    // partition/scan order - the exact dropDuplicates instability this
    // windowed rank exists to avoid
    val w = Window
      .partitionBy(graft.functions.Hashing.rowHashOf(dedupCols))
      .orderBy(col(orderCol),
        graft.functions.Hashing.rowHashOf(df.columns.toSeq))
    df.withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1).drop("__rn")
  }

  /** MinHash signatures as a DataFrame (id, sig: array<bigint> of length
    * `numPerms`): permutation p's value is `min((2p+1)·h + p·7919) mod P`
    * over the 28-bit shingle hashes h of the document's word
    * `shingleSize`-gram shingles (universal-hash permutation family,
    * P = [[TextAnalysis.MinhashPrime]]). Documents with no tokens produce
    * no row.
    *
    * Design notes for scale:
    *  - relational formulation (explode shingles → per-perm min
    *    aggregates); map-side partial min keeps the shuffle at P values
    *    per document. A pure per-row column expression is a trap —
    *    Catalyst inlines the shingle-construction subtree once per
    *    permutation (measured 25× slower).
    *  - ONE sha256 per shingle; permutations are two multiply-adds — not
    *    a fresh digest per (shingle, perm).
    */
  def minhashSignatures(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numPerms: Int,
      shingleSize: Int): DataFrame = {
    require(numPerms >= 1, "numPerms must be >= 1")
    // small inputs often arrive as one file = one partition; the hashing is
    // CPU-bound, so spread the rows across cores before the heavy stage
    val spread = spreadForCompute(df)
    val sh = spread
      .select(col(idCol).as("__id"),
        explode(shingles(col(textCol), shingleSize)).as("__s"))
      .select(col("__id"), hash28(col("__s")).as("__h"))
    val aggs = (0 until numPerms).map { p =>
      min((col("__h") * (2L * p + 1) + lit(p * 7919L)) % MinhashPrime).as(s"__m$p")
    }
    sh.groupBy(col("__id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("__id"),
        array((0 until numPerms).map(p => col(s"__m$p")): _*).as("__sig"))
  }

  /** LSH band hashes: the signature is split into `bands` bands of
    * `rowsPerBand` values; each band is hashed to a 60-bit bucket key.
    */
  def lshBandHashes(signature: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)),
      b => hash60(concat_ws(",",
        transform(slice(signature, b * rowsPerBand + 1, lit(rowsPerBand)),
          x => x.cast("string")))))

  /** MinHash+LSH candidate duplicate pairs with signature-estimated Jaccard.
    *
    * Pipeline: per-row signature (narrow) → explode band hashes → self-join
    * on (band, bucket) → distinct ordered pairs → estimate Jaccard as the
    * fraction of equal signature positions → filter by `threshold`.
    *
    * Output: (id_a, id_b, est_jaccard) with id_a < id_b.
    *
    * Long-lived sessions: the persisted intermediate lives until the
    * session ends or the caller releases it. For deterministic release,
    * wrap the call in [[graft.core.Caches.collectPins]], materialize the
    * result, then `pins.release()` — that frees exactly what this call
    * pinned ([[graft.core.Caches]] has the contract). [[dedupCorpus]] does
    * this internally.
    */
  /** Banded-LSH operating point advisor: for each divisor-of-`numPerms`
    * band count, the S-curve candidate probability
    * `P(candidate | jaccard = s) = 1 − (1 − s^r)^b` at the target
    * threshold, plus the curve's inflection `(1/b)^(1/r)` (the
    * similarity where the sketch "turns on"). Pick the row whose
    * inflection sits just below your threshold: fewer bands → fewer
    * false candidates but misses near the threshold; more bands → the
    * opposite. Pure driver-side arithmetic — run it BEFORE committing a
    * 100 TB corpus to one (bands, rows) choice.
    *
    * Output per candidate plan: (bands, rows_per_band,
    * p_candidate_at_threshold, inflection).
    */
  def lshPlan(numPerms: Int, threshold: Double): Seq[(Int, Int, Double, Double)] = {
    require(numPerms >= 2, s"numPerms must be >= 2, got $numPerms")
    require(threshold > 0.0 && threshold < 1.0,
      s"threshold must be in (0, 1), got $threshold")
    (1 to numPerms).filter(numPerms % _ == 0).map { b =>
      val r = numPerms / b
      val p = 1.0 - math.pow(1.0 - math.pow(threshold, r), b)
      val inflection = math.pow(1.0 / b, 1.0 / r)
      (b, r, p, inflection)
    }
  }

  /** The (bands, rowsPerBand) operating point [[lshPlan]] recommends:
    * the FEWEST-bands split of `numPerms` whose collision probability
    * at `threshold` reaches `targetRecall` — fewest bands because
    * candidate volume (and the band join's cost) grows with bands, so
    * among the splits that meet the recall target the cheapest wins.
    * The S-curve is monotone in similarity, so `targetRecall` at the
    * threshold LOWER-BOUNDS the collision probability of every true
    * pair above it. Loud when no split reaches the target (raise
    * numPerms or lower the target). Returns (bands, rowsPerBand,
    * collisionProbAtThreshold).
    */
  def chooseLshPlan(
      numPerms: Int,
      threshold: Double,
      targetRecall: Double): (Int, Int, Double) = {
    require(targetRecall > 0.0 && targetRecall < 1.0,
      s"targetRecall must be in (0, 1), got $targetRecall")
    val plans = lshPlan(numPerms, threshold)
    plans.filter(_._3 >= targetRecall).sortBy(_._1).headOption
      .map { case (b, r, p, _) => (b, r, p) }
      .getOrElse {
        val best = plans.maxBy(_._3)
        throw new IllegalArgumentException(
          f"no (bands, rows) split of numPerms=$numPerms reaches collision " +
            f"probability $targetRecall%.3f at threshold $threshold%.2f — " +
            f"best is ${best._3}%.3f at bands=${best._1}; raise numPerms " +
            "or lower targetRecall")
      }
  }

  /** Hyperplane-LSH operating-point table — the angular-distance
    * sibling of [[lshPlan]] for [[hyperplaneLshPairs]]: a pair at
    * cosine `threshold` collides in one table of `p` hyperplanes with
    * probability `q = (1 − θ/π)^p`, θ = arccos(threshold) (Charikar
    * 2002's SRP collision bound), so the FEWEST tables reaching
    * `targetRecall` solve `1 − (1 − q)^t ≥ R`, i.e.
    * `t = ⌈ln(1−R)/ln(1−q)⌉`. The false-candidate proxy reported per
    * plan is the collision probability of an ORTHOGONAL pair
    * (θ = π/2, per-table `0.5^p`): more planes = exponentially fewer
    * false candidates, more tables = more recall AND more candidate
    * volume. Pure driver-side arithmetic — run it BEFORE committing a
    * 100 TB corpus to one (tables, planes) choice.
    *
    * Output per planes count 1..maxPlanes:
    * `(planes, tablesNeeded, pAtThreshold, pOrthogonal)`.
    */
  def hyperplanePlan(
      threshold: Double,
      targetRecall: Double,
      maxPlanes: Int = 24): Seq[(Int, Int, Double, Double)] = {
    require(threshold > 0.0 && threshold < 1.0,
      s"threshold must be in (0, 1), got $threshold")
    require(targetRecall > 0.0 && targetRecall < 1.0,
      s"targetRecall must be in (0, 1), got $targetRecall")
    require(maxPlanes >= 1 && maxPlanes <= 62,
      s"maxPlanes must be in [1, 62] (signature packs into a long), " +
        s"got $maxPlanes")
    val qPlane = 1.0 - math.acos(threshold) / math.Pi
    (1 to maxPlanes).map { p =>
      val q = math.pow(qPlane, p)
      // log1p/expm1 keep the S-curve exact when q underflows 1.0−q
      // (q < ~5.6e-17 at high plane counts would otherwise read
      // ln(1−q) = 0 and collapse the table count to 1 with pAt = 0)
      val lq = math.log1p(-q)
      val t = math.ceil(math.log1p(-targetRecall) / lq).toInt.max(1)
      val pAt = -math.expm1(t * lq)
      val pOrth = -math.expm1(t * math.log1p(-math.pow(0.5, p)))
      (p, t, pAt, pOrth)
    }
  }

  /** The (tables, planesPerTable) operating point [[hyperplanePlan]]
    * recommends under a total hash `budget` (tables × planes ≤ budget
    * — the budget bounds both signature compute and the banded
    * self-join's row explosion, exactly like [[chooseLshPlan]]'s
    * numPerms): the MOST-planes plan whose table requirement fits,
    * because false-candidate volume falls exponentially in planes
    * while the table count only grows slowly. Loud when even 1 plane
    * cannot reach the recall inside the budget. Returns
    * (tables, planesPerTable, collisionProbAtThreshold).
    */
  def chooseHyperplanePlan(
      threshold: Double,
      targetRecall: Double,
      budget: Int = 64): (Int, Int, Double) = {
    require(budget >= 1 && budget <= 4096,
      s"budget must be in [1, 4096], got $budget")
    val plans = hyperplanePlan(threshold, targetRecall,
      maxPlanes = math.min(62, budget))
    // re-validate pAt >= targetRecall (mirroring chooseLshPlan): the
    // ceil guarantees it mathematically, but a clamped/overflowed table
    // count must never slip through as a near-zero-recall plan
    plans.filter { case (p, t, pAt, _) =>
        t.toLong * p <= budget && pAt >= targetRecall }
      .sortBy(-_._1).headOption
      .map { case (p, t, pAt, _) => (t, p, pAt) }
      .getOrElse {
        val best = plans.minBy { case (p, t, _, _) => t.toLong * p }
        throw new IllegalArgumentException(
          f"no (tables, planes) plan reaches collision probability " +
            f"$targetRecall%.3f at cosine $threshold%.2f inside budget=" +
            f"$budget (cheapest needs ${best._2}×${best._1} hashes); " +
            "raise the budget or lower targetRecall")
      }
  }

  /** [[hyperplaneLshPairs]] with its operating point CHOSEN from the
    * angular S-curve instead of hand-picked — the embedding-side twin
    * of [[minhashLshPairsAtRecall]]: callers state the cosine
    * `threshold`, the `targetRecall` they need at it, and a total hash
    * `budget`; [[chooseHyperplanePlan]] picks the most-planes
    * (tables, planes) split that delivers it. The chosen plan is
    * logged (one line, driver-side) so production runs record which
    * operating point produced their pairs.
    */
  def hyperplaneLshPairsAtRecall(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      threshold: Double,
      targetRecall: Double = 0.9,
      budget: Int = 64,
      salt: String = "hp"): DataFrame = {
    val (tables, planes, p) =
      chooseHyperplanePlan(threshold, targetRecall, budget)
    System.err.println(
      f"[graft] hyperplaneLshPairsAtRecall: threshold=$threshold%.2f " +
        f"targetRecall=$targetRecall%.2f budget=$budget -> " +
        f"tables=$tables planesPerTable=$planes (collision prob at " +
        f"threshold $p%.3f)")
    hyperplaneLshPairs(df, idCol, vecCol, dim, planes, tables, threshold,
      salt)
  }

  /** [[minhashLshPairs]] with its operating point CHOSEN from the
    * S-curve instead of hand-picked: callers state the similarity
    * `threshold` and the `targetRecall` they need at it, and
    * [[chooseLshPlan]] picks the cheapest (bands, rows) split that
    * delivers it. The chosen plan is logged (one line, driver-side) so
    * production runs record which operating point produced their pairs.
    */
  def minhashLshPairsAtRecall(
      df: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      targetRecall: Double = 0.9,
      numPerms: Int = 16,
      shingleSize: Int = 3): DataFrame = {
    val (bands, rows, p) = chooseLshPlan(numPerms, threshold, targetRecall)
    System.err.println(
      f"[graft] minhashLshPairsAtRecall: numPerms=$numPerms " +
        f"threshold=$threshold%.2f targetRecall=$targetRecall%.2f -> " +
        f"bands=$bands rowsPerBand=$rows (collision prob at threshold " +
        f"$p%.3f)")
    minhashLshPairs(df, idCol, textCol, numPerms, bands, shingleSize, threshold)
  }

  def minhashLshPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numPerms: Int = 16,
      bands: Int = 4,
      shingleSize: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    require(numPerms == bands * (numPerms / bands) && numPerms % bands == 0,
      "numPerms must be divisible by bands")
    val rowsPerBand = numPerms / bands
    // both sides of the band-bucket self-join read the signatures; persist
    // (id + numPerms longs per doc — small) or the whole shingle→hash→agg
    // chain runs twice
    val sigs = graft.core.Caches.pin(
      minhashSignatures(df, idCol, textCol, numPerms, shingleSize))
    val banded = sigs.select(col("__id"), col("__sig"),
      posexplode(lshBandHashes(col("__sig"), bands, rowsPerBand)).as(Seq("__band", "__bucket")))
    val left = banded.select(col("__band"), col("__bucket"),
      col("__id").as("id_a"), col("__sig").as("__sig_a"))
    val right = banded.select(col("__band"), col("__bucket"),
      col("__id").as("id_b"), col("__sig").as("__sig_b"))
    val pairs = left.join(right, Seq("__band", "__bucket"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("__sig_a"), col("__sig_b"))
      .dropDuplicates("id_a", "id_b")
    val est = size(filter(zip_with(col("__sig_a"), col("__sig_b"),
      (a, b) => when(a === b, lit(1)).otherwise(lit(null)))
      , x => x.isNotNull)).cast("double") / numPerms
    pairs
      .withColumn("est_jaccard", round(est, 6))
      .where(col("est_jaccard") >= threshold)
      .select("id_a", "id_b", "est_jaccard")
  }

  /** SimHash fingerprint over whitespace tokens.
    *
    * Bit b of the fingerprint is 1 iff the sum over tokens of ±1 (sign of
    * bit b of the token's 60-bit hash) is positive. Pure expressions; the
    * bit test uses modular arithmetic (`h % 2^(b+1) >= 2^b`) so the same
    * formula runs on any engine. Empty docs → 0.
    */
  def simhash(text: Column, bits: Int = 32): Column = {
    require(bits >= 1 && bits <= 60, "bits must be in [1, 60]")
    val powers = array((0 until bits).map(b => lit(1L << b)): _*)
    val hashes = transform(tokens(text), t => hash60(t))
    val zero = transform(sequence(lit(0), lit(bits - 1)), _ => lit(0L))
    val bitSums = aggregate(hashes, zero, (acc, h) =>
      zip_with(acc, powers, (a, p) =>
        a + when(h % (p * 2) >= p, lit(1L)).otherwise(lit(-1L))))
    aggregate(zip_with(bitSums, powers,
      (s, p) => when(s > 0, p).otherwise(lit(0L))), lit(0L), (a, x) => a + x)
  }

  /** Hamming distance between two simhash fingerprints (bit_count of xor). */
  def hammingDistance(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /** Band values of a `bits`-bit simhash: element b holds bit range
    * [b·bits/bands, (b+1)·bits/bands). Shared by the batch pair join and
    * the streaming filter — their exactness equivalence depends on
    * byte-identical band extraction, so there is exactly one definition.
    */
  def simhashBands(sh: Column, bits: Int, bands: Int): Column = {
    require(bands >= 1 && bits % bands == 0, "bits must be divisible by bands")
    val bandBits = bits / bands
    val mask = (1L << bandBits) - 1L
    array((0 until bands).map(b =>
      shiftright(sh, b * bandBits).bitwiseAND(lit(mask))): _*)
  }

  /** SimHash near-duplicate pairs: (id_a, id_b, hamming) with id_a < id_b
    * and Hamming distance <= `maxHamming` between the documents' `bits`-bit
    * simhashes.
    *
    * Candidate generation is banded, like LSH: the fingerprint is split
    * into `bands` contiguous bit-bands and the self-join runs only within
    * equal (band index, band value) buckets. By pigeonhole this is EXACT —
    * not approximate — whenever `maxHamming < bands`: a pair within
    * distance maxHamming differs in at most `bands - 1` bands, so at least
    * one band matches and the pair reaches verification. The quadratic
    * pair space is never materialized; the one shuffle is on band keys.
    * Verification (`bit_count(xor)`) is a per-candidate integer op.
    */
  def simhashNearDupPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      bits: Int = 48,
      bands: Int = 4,
      maxHamming: Int = 3): DataFrame =
    hashNearDupPairs(df, idCol, simhash(col(textCol), bits),
      bits, bands, maxHamming)

  /** Near-duplicate pairs by Hamming distance over ANY long fingerprint
    * (simhash, image perceptual hash, audio fingerprint — anything that
    * packs similarity into bits of a long). `fingerprint` is an
    * EXPRESSION evaluated after the input is spread across cores — pass
    * `col("name")` for a precomputed column or the hash expression itself
    * (so an expensive fingerprint never runs at single-file-scan
    * parallelism). Same banded pigeonhole machinery for every fingerprint
    * kind: EXACT whenever `maxHamming < bands`, one band-key shuffle,
    * per-candidate `bit_count(xor)` verification, quadratic pair space
    * never materialized.
    *
    * `dropZero = true` excludes rows whose fingerprint is exactly 0
    * BEFORE pairing: degenerate payloads (null/empty/constant) typically
    * hash to 0 by convention, and on a real corpus thousands of
    * placeholder payloads would otherwise collide in EVERY band — a
    * quadratic hot bucket emitting hamming-0 "near-dups" that share no
    * content. Route degenerate payloads through [[exactDedup]] instead;
    * the default keeps historical simhash semantics (zero fingerprints
    * pair like any other value).
    *
    * Output: (id_a, id_b, hamming) with id_a < id_b.
    */
  def hashNearDupPairs(
      df: DataFrame,
      idCol: String,
      fingerprint: Column,
      bits: Int,
      bands: Int,
      maxHamming: Int,
      dropZero: Boolean = false): DataFrame = {
    require(bands >= 1 && bits % bands == 0, "bits must be divisible by bands")
    require(maxHamming >= 0 && maxHamming < bands,
      s"maxHamming ($maxHamming) must be < bands ($bands) for the banded " +
        "join to be exact (pigeonhole: some band must match)")
    // fingerprints are reused by both join sides; checkpoint so the
    // fingerprint expression runs once per document, not once per side —
    // and AFTER the spread, so it never runs at one-file parallelism
    val sigs0 = spreadForCompute(df)
      .select(col(idCol).as("__id"), fingerprint.as("__sh"))
    Caches.holding { held =>
      val sigs = held(if (dropZero) sigs0.where(col("__sh") =!= 0L) else sigs0)
      val banded = sigs.select(col("__id"), col("__sh"),
        posexplode(simhashBands(col("__sh"), bits, bands))
          .as(Seq("__band", "__bv")))
      val left = banded.select(col("__band"), col("__bv"),
        col("__id").as("id_a"), col("__sh").as("__sha"))
      val right = banded.select(col("__band"), col("__bv"),
        col("__id").as("id_b"), col("__sh").as("__shb"))
      left.join(right, Seq("__band", "__bv"))
        .where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"),
          hammingDistance(col("__sha"), col("__shb")).as("hamming"))
        .where(col("hamming") <= maxHamming)
        .dropDuplicates("id_a", "id_b")
    }
  }

  /** Jaccard similarity of the two texts' distinct word n-gram shingle sets. */
  def ngramJaccard(a: Column, b: Column, n: Int = 3): Column =
    shingleSetJaccard(array_distinct(shingles(a, n)), array_distinct(shingles(b, n)))

  /** Jaccard of two precomputed distinct shingle arrays. */
  def shingleSetJaccard(sa: Column, sb: Column): Column = {
    val inter = size(array_intersect(sa, sb))
    val uni = size(array_union(sa, sb))
    when(uni === 0, lit(0.0)).otherwise(inter.cast("double") / uni)
  }

  /** Blocked n-gram Jaccard near-dup pairs: (id_a, id_b, jaccard) for pairs
    * sharing `blockCols` with Jaccard >= `threshold`.
    *
    * Shingle sets are materialized per document BEFORE the self-join (each
    * side's Project runs once per row) — computing them from the raw text
    * columns after the join would redo the O(tokens·n) construction once
    * per PAIR, which is quadratic in block size.
    *
    * Long-lived sessions: the persisted intermediate lives until the
    * session ends or the caller releases it — for deterministic release
    * wrap in [[graft.core.Caches.collectPins]] and `release()` after
    * materializing, same contract as [[minhashLshPairs]].
    */
  def ngramJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCols: Seq[String],
      n: Int = 3,
      threshold: Double = 0.1): DataFrame = {
    require(threshold > 0.0, "threshold must be positive (zero-overlap pairs are pruned)")
    blockedShinglePairCounts(df, idCol, textCol, blockCols, n, minSize = 1)
      .withColumn("jaccard", round(
        col("__c").cast("double") / (col("__sza") + col("__szb") - col("__c")), 6))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Shared pair-generation core of [[ngramJaccardPairs]] and
    * [[ngramContainmentPairs]]: explode distinct shingles once per doc
    * (pinned, so the tokenize→shingle chain runs once for sizes AND both
    * join sides), self-join within (blockCols, shingle), count shared
    * shingles per pair. Pairs with no shared shingle never materialize
    * (array_intersect per pair would be quadratic in block size). With
    * `minSize > 1`, sub-minSize docs are dropped BEFORE the self-join —
    * tiny docs are near-everything, and pruning them after pairing would
    * still materialize their quadratic noise pair count.
    *
    * Output: (id_a, id_b, __c, __sza, __szb) with id_a < id_b; callers
    * apply their similarity formula and threshold.
    */
  private def blockedShinglePairCounts(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCols: Seq[String],
      n: Int,
      minSize: Int): DataFrame = {
    val sh = graft.core.Caches.pin(
      spreadForCompute(df).select(blockCols.map(col) ++ Seq(
        col(idCol).as("__id"),
        explode(array_distinct(shingles(col(textCol), n))).as("__s")): _*))
    val sizes = sh.groupBy(col("__id")).agg(count(lit(1)).as("__sz"))
      .where(col("__sz") >= minSize)
    val shP =
      if (minSize <= 1) sh // every doc with >= 1 shingle qualifies
      else sh.join(sizes.select("__id"), "__id")
    val a = shP.select(blockCols.map(col) ++ Seq(
      col("__id").as("id_a"), col("__s")): _*)
    val b = shP.select(blockCols.map(col) ++ Seq(
      col("__id").as("id_b"), col("__s")): _*)
    a.join(b, blockCols :+ "__s")
      .where(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("__c"))
      .join(sizes.withColumnRenamed("__id", "id_a").withColumnRenamed("__sz", "__sza"),
        "id_a")
      .join(sizes.withColumnRenamed("__id", "id_b").withColumnRenamed("__sz", "__szb"),
        "id_b")
  }

  /** Containment near-dup pairs: |A∩B| / min(|A|, |B|) over distinct word
    * n-gram shingle sets, within `blockCols` blocks.
    *
    * Jaccard misses the quote/excerpt case on purpose: a 50-shingle doc
    * fully embedded in a 5000-shingle doc scores J ≈ 0.01 but containment
    * 1.0. Normalizing by the SMALLER set (the overlap coefficient) makes
    * the measure symmetric while still flagging "one side is mostly inside
    * the other" — the standard near-dup companion to Jaccard for partial
    * copies (Broder 1997 distinguishes resemblance from containment).
    *
    * Same relational machinery and cost shape as [[ngramJaccardPairs]]
    * (the [[blockedShinglePairCounts]] core): explode distinct shingles
    * once (pinned), count shared shingles per co-blocked pair, join
    * per-doc sizes; zero-overlap pairs never materialize. `minSize` drops
    * docs with fewer than that many shingles BEFORE the self-join — tiny
    * docs are contained in everything, and at corpus scale they otherwise
    * dominate the pair count with noise.
    *
    * Output: (id_a, id_b, containment) with id_a < id_b and
    * containment >= threshold. Same pin lifecycle as [[ngramJaccardPairs]].
    */
  def ngramContainmentPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      blockCols: Seq[String],
      n: Int = 3,
      threshold: Double = 0.5,
      minSize: Int = 5): DataFrame = {
    require(threshold > 0.0, "threshold must be positive (zero-overlap pairs are pruned)")
    require(minSize >= 1, "minSize must be >= 1")
    blockedShinglePairCounts(df, idCol, textCol, blockCols, n, minSize)
      .withColumn("containment", round(
        col("__c").cast("double") / least(col("__sza"), col("__szb")), 6))
      .where(col("containment") >= threshold)
      .select("id_a", "id_b", "containment")
  }

  /** GLOBAL exact-Jaccard near-dup pairs via prefix filtering (the
    * AllPairs/PPJoin family: Bayardo et al. 2007, Xiao et al. 2008) —
    * the scale path when no natural blocking key exists.
    *
    * [[ngramJaccardPairs]] needs `blockCols` to bound the self-join;
    * without one, a token-exchange self-join fans out on the most
    * frequent shingle (O(df²) candidate rows for a boilerplate shingle
    * shared by df documents). Prefix filtering removes that requirement
    * EXACTLY — no false negatives: order every document's shingle set by
    * global (frequency asc, shingle asc) and keep only the first
    * `|S| - ceil(t·|S|) + 1` shingles as join keys. Any pair with
    * Jaccard >= t must share a prefix token under a common total order,
    * so the candidate set is a superset of the answer; exact
    * verification then runs per candidate pair. Because prefixes hold
    * each document's RAREST shingles, per-key join fan-out is bounded by
    * the rare tail of the frequency distribution, not its boilerplate
    * head — that inversion is what makes the global self-join safe at
    * corpus scale.
    *
    * Exchanges: shingle explode feeds one frequency aggregation and one
    * frequency join (both on the shingle key), one per-doc regroup, the
    * prefix-key self-join, the candidate-pair distinct, and two id-keyed
    * joins back to the (pinned) per-doc table for verification — all
    * key-partitioned; nothing corpus-quadratic materializes. Prefix rows
    * carry ONLY (id, shingle): carrying the sorted array on every prefix
    * row (the tempting join-free shape) materializes O(prefixLen·|S|)
    * cells per document — quadratic in document length — and was measured
    * 2× slower at sf0.1 before the join-back rewrite.
    *
    * Output: (id_a, id_b, jaccard) with id_a < id_b and
    * jaccard >= `threshold`, identical to [[ngramJaccardPairs]] on the
    * union of all blocks.
    */
  def prefixJaccardPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      threshold: Double = 0.5): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold (prefix length is undefined at t = 0)")
    // one tokenize->shingle pass, pinned: it feeds the frequency count
    // and the per-doc regroup (same contract as ngramJaccardPairs)
    val sh = graft.core.Caches.pin(
      spreadForCompute(df).select(col(idCol).as("__id"),
        explode(array_distinct(shingles(col(textCol), n))).as("__s")))
    val freq = sh.groupBy(col("__s")).agg(count(lit(1)).as("__f"))
    // per-doc shingle array sorted by the GLOBAL (freq, shingle) order —
    // the order itself is the ranking, so no dense global rank table
    // (and no single-task vocabulary sort) is ever built
    // pinned: feeds the prefix explode on both self-join sides AND the
    // two verification join-backs — without the pin the regroup subtree
    // (the heaviest exchange here) executes four times
    val docs = graft.core.Caches.pin(sh.join(freq, "__s")
      .groupBy(col("__id"))
      .agg(transform(sort_array(collect_list(struct(col("__f"), col("__s")))),
        x => x.getField("__s")).as("__toks"))
      .select(col("__id"), col("__toks"), size(col("__toks")).as("__sz")))
    // Prune with SLACK below the accept threshold: the final filter (and
    // the ngramJaccardPairs/DuckDB twins) accept round(J, 6) >= t, which
    // admits true J down to t − 5e-7 — pruning at exactly t could drop a
    // boundary pair those twins emit. The 1e-6 margin also absorbs the
    // other FP edge (double(t)·sz over-representing t can push ceil one
    // integer UP and shorten the prefix). Candidates admitted by the
    // slack are discarded by the exact verification; exactness is one-
    // sided, so slack is free.
    val tEff = math.max(threshold - 1e-6, 0.0)
    // prefix length |S| - ceil(t·|S|) + 1
    val prefLen = (col("__sz") - ceil(lit(tEff) * col("__sz")).cast("int") + 1)
    val pref = docs.select(col("__id"), col("__sz"),
      explode(slice(col("__toks"), lit(1), prefLen)).as("__p"))
    val a = pref.select(col("__id").as("id_a"), col("__sz").as("__la"), col("__p"))
    val b = pref.select(col("__id").as("id_b"), col("__sz").as("__lb"), col("__p"))
    // a pair sharing k prefix tokens appears k times; dedup to once,
    // then fetch both sorted arrays by id for exact verification. The
    // AllPairs length filter runs BEFORE the dedup/join-backs: J >= t
    // forces min(|A|,|B|) >= t*max(|A|,|B|) (intersection <= min, union
    // >= max), so length-skewed candidates drop without touching arrays
    val cand = a.join(b, "__p").where(col("id_a") < col("id_b") &&
        least(col("__la"), col("__lb")).cast("double") >=
          lit(tEff) * greatest(col("__la"), col("__lb")))
      .select("id_a", "id_b").distinct()
    cand
      .join(docs.select(col("__id").as("id_a"), col("__toks").as("__ta"),
        col("__sz").as("__sza")), "id_a")
      .join(docs.select(col("__id").as("id_b"), col("__toks").as("__tb"),
        col("__sz").as("__szb")), "id_b")
      .withColumn("__c", size(array_intersect(col("__ta"), col("__tb"))))
      .withColumn("jaccard", round(
        col("__c").cast("double") / (col("__sza") + col("__szb") - col("__c")), 6))
      .where(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** Span-containment pairs via shared winnowing fingerprints (the MOSS
    * detection step, Schleimer et al. 2003 — the same fingerprints
    * [[TextAnalysis.winnowingFingerprints]] produces, whose guarantee is
    * that any shared token run of length >= shingleSize + window - 1
    * shares at least one fingerprint). Counts DISTINCT shared fingerprints
    * per document pair, so a copied paragraph inside an otherwise-long
    * document scores by absolute shared material — the case where Jaccard
    * similarity (normalized by union size) goes quiet. This is the
    * span-level decontamination / plagiarism sweep.
    *
    * `maxDocsPerFingerprint` drops boilerplate fingerprints (present in
    * more than that many documents): they carry no pair signal and would
    * otherwise emit O(docs²) candidates per fingerprint — the standard
    * MOSS/LSH frequency cap, and the skew bound that makes the self-join
    * safe at corpus scale.
    *
    * Output: (id_a, id_b, shared_fps) with id_a < id_b and
    * shared_fps >= minShared.
    */
  def sharedFingerprintPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      minShared: Int = 2,
      shingleSize: Int = 5,
      window: Int = 4,
      maxDocsPerFingerprint: Int = 50): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxDocsPerFingerprint >= 2,
      s"maxDocsPerFingerprint must be >= 2, got $maxDocsPerFingerprint")
    // the frequency count and both self-join sides read the fingerprints;
    // pin (id + fp per winnowed position — ≈ tokens/window rows) or the
    // sha256-per-shingle chain runs 4× (same caller-scoped lifecycle as
    // minhashLshPairs' signatures — release via graft.core.Caches scopes)
    val fps = graft.core.Caches.pin(
      df.select(col(idCol), explode(
        TextAnalysis.winnowingFingerprints(col(textCol), shingleSize, window))
        .as("fp")))
    // fingerprints in [2, cap] docs: singletons pair with nothing, and
    // above the cap a fingerprint is boilerplate, not evidence
    val eligible = fps.groupBy("fp").agg(count(lit(1)).as("__docs"))
      .where(col("__docs").between(2, maxDocsPerFingerprint))
      .select("fp")
    val pruned = fps.join(eligible, "fp")
    val a = pruned.select(col("fp"), col(idCol).as("id_a"))
    val b = pruned.select(col("fp"), col(idCol).as("id_b"))
    // per-doc fingerprints are already distinct (winnowing array_distinct)
    // → the pair count IS the distinct shared-fingerprint count
    a.join(b, "fp").where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("shared_fps"))
      .where(col("shared_fps") >= minShared)
  }

  /** Audit candidate pairs against EXACT n-gram Jaccard: join each
    * `(id_a, id_b)` pair back to its documents' distinct shingle sets and
    * compute the true Jaccard next to whatever estimate produced the pair.
    * The trust check for the LSH/SimHash scale paths — run it on a sample
    * of candidate pairs to measure estimator bias and false-positive rate
    * before committing a threshold to a 100 TB dedup pass.
    *
    * Cost is proportional to the PAIR list (each side's shingle sets are
    * built once per referenced doc, then equi-joined by id) — never to
    * the corpus pair space.
    *
    * Output: `pairs`' columns plus `exact_jaccard`.
    */
  def auditPairs(
      pairs: DataFrame,
      docs: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 3,
      idA: String = "id_a",
      idB: String = "id_b"): DataFrame = {
    val sets = docs.select(col(idCol),
      array_distinct(shingles(col(textCol), n)).as("__set"))
    pairs
      .join(sets.select(col(idCol).as(idA), col("__set").as("__sa")), Seq(idA))
      .join(sets.select(col(idCol).as(idB), col("__set").as("__sb")), Seq(idB))
      .withColumn("exact_jaccard",
        round(shingleSetJaccard(col("__sa"), col("__sb")), 6))
      .drop("__sa", "__sb")
  }

  /** Cross-corpus n-gram overlap — the eval-decontamination primitive:
    * which training documents share word n-gram shingles with a benchmark
    * ("probe") set, and what fraction of each probe document they cover.
    *
    * Output: (corpus_id, probe_id, n_shared, probe_frac) for pairs with at
    * least `minShared` shared distinct shingles, where `probe_frac` =
    * n_shared / |probe's distinct shingles| (1.0 = the probe document is
    * fully contained). Decontamination policy is the caller's filter —
    * e.g. drop corpus docs with probe_frac >= 0.5 via a left_anti join.
    *
    * Scale shape: both sides explode to distinct (id, shingle-hash) rows;
    * the join key is a 60-bit shingle hash (narrow shuffle width, no raw
    * text moved). Benchmark sets are small by construction, so the probe
    * side is broadcast by default (`broadcastProbe = false` for the
    * shuffled join when the probe is itself corpus-sized).
    */
  def crossCorpusOverlap(
      corpus: DataFrame,
      corpusIdCol: String,
      corpusTextCol: String,
      probe: DataFrame,
      probeIdCol: String,
      probeTextCol: String,
      n: Int = 3,
      minShared: Int = 1,
      broadcastProbe: Boolean = true): DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    def side(df: DataFrame, id: String, text: String, as: String): DataFrame =
      df.select(col(id).as(as),
        explode(array_distinct(shingles(col(text), n))).as("__s"))
        .select(col(as), hash60(col("__s")).as("__h"))
    val c = side(spreadForCompute(corpus), corpusIdCol, corpusTextCol, "corpus_id")
    val p0 = side(probe, probeIdCol, probeTextCol, "probe_id")
    val sizes = p0.groupBy("probe_id").agg(count(lit(1)).as("__psz"))
    val p = if (broadcastProbe) broadcast(p0) else p0
    c.join(p, "__h")
      .groupBy("corpus_id", "probe_id")
      .agg(count(lit(1)).as("n_shared"))
      .where(col("n_shared") >= minShared)
      .join(if (broadcastProbe) broadcast(sizes) else sizes, "probe_id")
      .select(col("corpus_id"), col("probe_id"), col("n_shared"),
        round(col("n_shared").cast("double") / col("__psz"), 6).as("probe_frac"))
  }

  /** Cosine similarity between two numeric array columns (summed in element
    * order — deterministic). Uses the codegen'd [[graft.functions.DotProduct]]
    * / [[graft.functions.SumSquares]] expressions.
    */
  def cosine(a: Column, b: Column): Column = {
    val ad = transform(a, x => x.cast("double"))
    val bd = transform(b, x => x.cast("double"))
    val dot = graft.functions.VectorFunctions.dot(ad, bd)
    val na = sqrt(graft.functions.VectorFunctions.sumSquares(ad))
    val nb = sqrt(graft.functions.VectorFunctions.sumSquares(bd))
    when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(dot / (na * nb))
  }

  /** Cosine from pre-cast double arrays + precomputed norms: only the dot
    * product is per-pair work.
    */
  private[operators] def cosineWithNorms(
      va: Column, vb: Column, na: Column, nb: Column): Column = {
    val dot = graft.functions.VectorFunctions.dot(va, vb)
    // mixed-dimension pairs (mixed encoder versions in one corpus) must
    // fail loudly: the dot truncates to the shorter vector while norms
    // cover the full lengths, silently underestimating every similarity
    when(size(va) =!= size(vb), raise_error(concat(
      lit("cosine: mismatched vector dimensions "),
      size(va).cast("string"), lit(" vs "), size(vb).cast("string"))))
      .otherwise(
        when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(dot / (na * nb)))
  }

  /** Per-side projection for cosine pair joins: id, double array, norm —
    * computed once per ROW so the join only pays for the dot product per
    * PAIR (norms recomputed per pair are quadratic waste).
    */
  private[operators] def cosineSide(
      df: DataFrame, blockCols: Seq[String], idCol: String, vecCol: String,
      suffix: String): DataFrame = {
    val vd = transform(col(vecCol), x => x.cast("double"))
    df.select(blockCols.map(col) ++ Seq(
      col(idCol).as(s"id_$suffix"), vd.as(s"__v_$suffix")): _*)
      .withColumn(s"__n_$suffix",
        sqrt(graft.functions.VectorFunctions.sumSquares(col(s"__v_$suffix"))))
  }

  /** Embedding-cosine near-duplicate pairs within blocking keys.
    *
    * `blockCols` bounds the pair space (at scale: an LSH bucket, coarse
    * cluster id, or shard key — never an unblocked cross join).
    * Output: (id_a, id_b, cos) with id_a < id_b and cos >= threshold.
    */
  def cosineNearDupPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      blockCols: Seq[String],
      threshold: Double): DataFrame = {
    val a = cosineSide(df, blockCols, idCol, vecCol, "a")
    val b = cosineSide(df, blockCols, idCol, vecCol, "b")
    a.join(b, blockCols)
      .where(col("id_a") < col("id_b"))
      .withColumn("cos", round(
        cosineWithNorms(col("__v_a"), col("__v_b"), col("__n_a"), col("__n_b")), 6))
      .where(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** Semantic decontamination (the embedding-level sibling of
    * [[crossCorpusOverlap]]'s n-gram check, the SemDeDup-era eval
    * hygiene step): every (train, eval) pair whose cosine reaches
    * `threshold` — paraphrased or re-rendered eval items that n-gram
    * overlap provably misses. Drop the flagged train docs before
    * training; report the pairs for audit.
    *
    * Scale shape: the EVAL side is the small one by definition
    * (benchmarks are thousands of rows, the corpus is billions) — it
    * is BROADCAST (bounded loudly) against one narrow pass over the
    * train embeddings; no shuffle of the corpus at all. The cosine
    * uses the library-wide rounded-cosine contract, so the pair set is
    * engine-exact. For an eval side too large to broadcast, shrink it
    * or use [[hyperplaneLshPairs]] over the union with a side tag.
    *
    * Output: `(train_id, eval_id, cos)`.
    */
  def semanticDecontaminate(
      train: DataFrame,
      trainIdCol: String,
      eval: DataFrame,
      evalIdCol: String,
      vecCol: String,
      threshold: Double,
      maxEvalRows: Long = 1000000L): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold out of (0, 1]: $threshold")
    require(maxEvalRows >= 1, s"maxEvalRows must be >= 1: $maxEvalRows")
    val nEval = eval.count()
    require(nEval <= maxEvalRows,
      s"semanticDecontaminate: eval side has $nEval rows > $maxEvalRows — " +
        "the eval side is broadcast; shrink it or raise maxEvalRows " +
        "deliberately (it must fit in executor memory)")
    val t = cosineSide(train, Nil, trainIdCol, vecCol, "t")
      .withColumnRenamed("id_t", "train_id")
    val e = cosineSide(eval, Nil, evalIdCol, vecCol, "e")
      .withColumnRenamed("id_e", "eval_id")
    t.crossJoin(broadcast(e))
      .withColumn("cos", round(
        cosineWithNorms(col("__v_t"), col("__v_e"),
          col("__n_t"), col("__n_e")), 6))
      .where(col("cos") >= threshold)
      .select(col("train_id"), col("eval_id"), col("cos"))
  }

  /** Deterministic ±1 hyperplane component for table `t`, plane `p`,
    * dimension `d`: derived from sha256 so any engine reproduces the
    * planes from (salt, t, p, d) alone — no RNG state to ship.
    */
  private def hyperplaneSign(salt: String, t: Int, p: Int, d: Int): Double = {
    val digest = java.security.MessageDigest.getInstance("SHA-256")
      .digest(s"$salt:$t:$p:$d".getBytes("UTF-8"))
    val prefix7 = java.lang.Long.parseLong(
      digest.take(4).map("%02x".format(_)).mkString.take(7), 16)
    if (prefix7 % 2 == 0) 1.0 else -1.0
  }

  /** Embedding-cosine near-duplicate pairs WITHOUT caller-provided
    * blocking: sign-random-projection (hyperplane) LSH generates the
    * candidate buckets. `tables` independent hash tables of
    * `planesPerTable` hyperplanes each: vectors collide in a table iff
    * every plane in it agrees on sign, and a pair is a candidate if ANY
    * table collides — the standard recall knob (more tables = higher
    * recall, more candidates; more planes = tighter buckets).
    *
    * Scale shape: signatures are per-row expressions against literal ±1
    * plane matrices (no shuffle), the single shuffle is the self-join on
    * (table, signature), cosine verification runs per candidate with
    * per-ROW precomputed norms. The quadratic pair space never
    * materializes. Planes derive from sha256(salt:t:p:d) — deterministic
    * and engine-reproducible (the DuckDB oracle rebuilds them in SQL).
    *
    * Output: (id_a, id_b, cos) with id_a < id_b, cos >= threshold.
    *
    * Long-lived sessions: the persisted intermediate lives until the
    * session ends or the caller releases it. For deterministic release,
    * wrap the call in [[graft.core.Caches.collectPins]], materialize the
    * result, then `pins.release()` — same lifecycle as
    * [[minhashLshPairs]] and `Sampling.deterministicShuffle`.
    */
  def hyperplaneLshPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      dim: Int,
      planesPerTable: Int = 8,
      tables: Int = 4,
      threshold: Double = 0.9,
      salt: String = "hp"): DataFrame = {
    require(dim >= 1, "dim must be >= 1")
    require(planesPerTable >= 1 && planesPerTable <= 62,
      "planesPerTable must be in [1, 62] (signature packs into a long)")
    require(tables >= 1, "tables must be >= 1")
    // fail fast on a dim mismatch: zip_with against a wrong-length plane
    // array would null-poison every projection, making ALL signatures 0 —
    // a silent quadratic self-join instead of an error
    val vd = transform(col(vecCol), x => x.cast("double"))
    val checked = when(size(vd) === dim, vd).otherwise(raise_error(concat(
      lit(s"hyperplaneLshPairs: expected $dim-dim vectors, got "),
      size(vd).cast("string"))))
    val base0 = spreadForCompute(df).select(col(idCol).as("__id"),
      checked.as("__v"))
    // __v below is a projected ATTRIBUTE, so the tables*planes projection
    // expressions all read the same materialized array (no re-evaluation)
    val sigs = (0 until tables).map { tIdx =>
      (0 until planesPerTable).map { p =>
        val signs = array((0 until dim).map(d =>
          lit(hyperplaneSign(salt, tIdx, p, d))): _*)
        val proj = aggregate(
          zip_with(col("__v"), signs, (v, sgn) => v * sgn),
          lit(0.0), (acc, x) => acc + x)
        // round before the sign test, mirroring the oracle: summation
        // order must not decide a boundary bit
        when(round(proj, 6) > 0, lit(1L << p)).otherwise(lit(0L))
      }.reduce(_ + _)
    }
    // signatures + norms are reused by both join sides; persist so the
    // projection stage runs once per vector
    val base = graft.core.Caches.pin(base0
      .withColumn("__n", sqrt(graft.functions.VectorFunctions.sumSquares(col("__v"))))
      .withColumn("__sigs", array(sigs: _*)))
    val banded = base.select(col("__id"), col("__v"), col("__n"),
      posexplode(col("__sigs")).as(Seq("__t", "__sig")))
    val left = banded.select(col("__t"), col("__sig"),
      col("__id").as("id_a"), col("__v").as("__v_a"), col("__n").as("__n_a"))
    val right = banded.select(col("__t"), col("__sig"),
      col("__id").as("id_b"), col("__v").as("__v_b"), col("__n").as("__n_b"))
    left.join(right, Seq("__t", "__sig"))
      .where(col("id_a") < col("id_b"))
      .dropDuplicates("id_a", "id_b")
      .withColumn("cos", round(
        cosineWithNorms(col("__v_a"), col("__v_b"), col("__n_a"), col("__n_b")), 6))
      .where(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }

  /** End-to-end corpus deduplication: MinHash+LSH candidate pairs →
    * connected components → one survivor per cluster → the cleaned
    * corpus (all of `df`'s columns, duplicates removed).
    *
    * The survivor is the cluster's minimum id by default — free, because
    * that is exactly the component label. Pass `keepBy` to keep the best
    * row per cluster instead (e.g. quality score descending); that costs
    * one extra shuffle on the cluster label.
    */
  def dedupCorpus(
      df: DataFrame,
      idCol: String,
      textCol: String,
      numPerms: Int = 16,
      bands: Int = 4,
      shingleSize: Int = 3,
      threshold: Double = 0.5,
      keepBy: Seq[Column] = Nil): DataFrame = {
    // Scope the signature cache: connectedComponents consumes `pairs`
    // EAGERLY (it checkpoints/collects the edge set before iterating), so
    // the signatures pinned inside minhashLshPairs are dead the moment it
    // returns — release them here rather than leak one cache entry per call
    // into long-lived sessions. Neither `clusters` nor the joins below
    // reference the pairs lineage, so this never forces a recompute.
    val (pairs, sigPins) = graft.core.Caches.collectPins {
      minhashLshPairs(df, idCol, textCol, numPerms, bands,
        shingleSize, threshold)
    }
    val clusters = connectedComponents(pairs, "id_a", "id_b")
    sigPins.release()
    keepSurvivors(df, idCol, clusters, keepBy)
  }

  /** One survivor per near-dup component: with no `keepBy`, the component
    * label (min id) survives via a single anti-join; with `keepBy`, rank
    * inside each component and keep rank 1 (un-clustered rows are their
    * own singleton component).
    */
  private[operators] def keepSurvivors(
      df: DataFrame,
      idCol: String,
      clusters: DataFrame,
      keepBy: Seq[Column]): DataFrame =
    if (keepBy.isEmpty) {
      // survivor == component label; drop every non-label member
      val removed = clusters.where(col("node") =!= col("comp"))
        .select(col("node").as(idCol))
      df.join(removed, Seq(idCol), "left_anti")
    } else {
      val labeled = df.join(
        clusters.withColumnRenamed("node", idCol), Seq(idCol), "left")
      // un-clustered docs are their own cluster; rank inside real clusters
      val w = Window.partitionBy(coalesce(col("comp"), col(idCol)))
        .orderBy(keepBy :+ col(idCol): _*)
      labeled.withColumn("__rank", row_number().over(w))
        .where(col("__rank") === 1)
        .drop("__rank", "comp")
    }

  /** Semantic (embedding-space) dedup, SemDeDup-style (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding space with the sampled
    * KMeans coarse quantizer, compare cosine ONLY within a cluster, and
    * keep one document per near-identical group. This catches paraphrase/
    * re-render duplicates that text shingles miss, at clustering cost
    * instead of all-pairs cost.
    *
    * Approximate by design (the paper's contract): a near-dup pair split
    * across two clusters is not compared. More clusters = cheaper
    * within-cluster comparison, lower recall. Exact duplicates are always
    * caught — identical vectors land in the same cell.
    *
    * Scale shape: quantizer trains on a bounded sample and rides as a
    * constant-folded literal (Ann.Ivf.build); cluster assignment is a
    * narrow codegen'd projection; the one shuffle is the within-cell
    * self-join; components + survivor selection reuse the audited dedup
    * machinery. The quadratic pair space never materializes — within-cell
    * pairs only.
    *
    * Not SQL-expressible (KMeans) → spec-verified (SelectionSpec) and a
    * rows-only `q_semantic_dedup` entry, same contract as `q_ann_ivf`.
    */
  def semanticDedup(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      nclusters: Int,
      threshold: Double = 0.97,
      seed: Long = 42L,
      keepBy: Seq[Column] = Nil,
      maxIter: Int = 8,
      quantizer: String = "seeded"): DataFrame = {
    require(nclusters >= 1, s"nclusters must be >= 1, got $nclusters")
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    // the quantizer is only a blocking device here: exact duplicates land
    // together under ANY centroid set, and near-identical vectors under
    // almost any, so centroid polish buys nothing. Default "seeded"
    // (Ann.Ivf.buildSeeded) costs one TakeOrdered job where "kmeans"
    // (the paper's choice) pays count + sample + maxIter scheduled jobs —
    // at cluster scale that is pure scheduling overhead for identical
    // blocking quality; keep "kmeans" when cells must be balanced for a
    // downstream use beyond this call.
    val assigned = quantizer match {
      case "seeded" =>
        Ann.Ivf.buildSeeded(df, idCol, vecCol, nclusters, seed = seed).assigned
      case "kmeans" =>
        Ann.Ivf.build(df, idCol, vecCol, nclusters,
          seed = seed, maxIter = maxIter, initMode = "random").assigned
      case other => throw new IllegalArgumentException(
        s"quantizer must be 'seeded' or 'kmeans', got '$other'")
    }
    val pairs = cosineNearDupPairs(assigned, idCol, vecCol, Seq("__cell"), threshold)
    val clusters = connectedComponents(pairs, "id_a", "id_b")
    keepSurvivors(df, idCol, clusters, keepBy)
  }

  /** Below this many (undirected) candidate edges, `algorithm = "auto"`
    * solves components with a driver-side union-find: a bounded ≤ ~16 MB
    * collect replaces O(rounds) iterative Spark jobs whose scheduler
    * overhead dwarfs the computation (the same small-graph fallback
    * GraphFrames ships). The distributed paths below remain the ONLY
    * options above the threshold.
    */
  val LocalEdgeThreshold: Long = 1L * 1000 * 1000


  /** Group near-duplicate candidate pairs into clusters: returns
    * (node, comp) where comp is the minimum node id reachable from the
    * node (nodes appearing in `pairs` only; isolated documents are the
    * caller's anti-join). This is the step that turns pairwise LSH /
    * Jaccard / cosine output into "keep one doc per cluster".
    *
    * `algorithm`:
    *  - `"local"` — driver union-find over a bounded edge collect: exact,
    *    no iterative jobs. Only sound below [[LocalEdgeThreshold]] edges —
    *    explicit use above it throws rather than OOM the driver.
    *  - `"labelprop"` — min-label propagation: one join + one min-aggregate
    *    per round, O(component diameter) rounds. Slightly cheaper rounds
    *    than stars; the right explicit choice when the caller KNOWS
    *    components are band-bucket cliques or tight chains (2–4 rounds).
    *  - `"stars"` — alternating large-star/small-star (Kiveris et al.,
    *    "Connected Components in MapReduce and Beyond", SoCC'14):
    *    O(log n) rounds regardless of diameter — the 100 TB path, where a
    *    single adversarial chain must not turn into thousands of full-edge
    *    shuffles.
    *  - `"auto"` (default) — local below [[LocalEdgeThreshold]], stars
    *    above. Never labelprop: diameter is unknowable before traversal,
    *    and auto must not gamble an unbounded round count on it.
    *
    * Both distributed variants detect convergence from the round's own
    * checkpointed output (no extra job) and throw [[IllegalStateException]]
    * when the round budget runs out: returning silently would split one
    * real cluster into several and make downstream dedup under-delete.
    * For labelprop the budget is `maxIter`; for stars the budget is
    * `max(maxIter, 2·⌈log₂ edges⌉ + 8)` — the self-sized floor covers
    * real near-dup graphs (which converge in 2–5 rounds) at any data
    * size, while star contraction's THEORETICAL worst case is O(log² n)
    * rounds on adversarial chains: for such topologies pass a larger
    * `maxIter` (it raises the stars budget too). Running out is always a
    * loud error, never a partial answer.
    */
  def connectedComponents(
      pairs: DataFrame,
      aCol: String,
      bCol: String,
      maxIter: Int = 20,
      algorithm: String = "auto"): DataFrame = {
    require(maxIter > 0, "maxIter must be positive")
    require(Set("auto", "local", "labelprop", "stars").contains(algorithm),
      s"unknown algorithm '$algorithm' (auto | local | labelprop | stars)")
    // localCheckpoint (not persist) on every iteration state: an iterative
    // plan that only persists still re-ANALYZES its whole lineage per round,
    // and each round's plan references the previous round's, so analysis
    // cost grows exponentially with rounds (observed 100x blowup).
    // Checkpointing truncates the logical plan to the materialized blocks.
    // Checkpoint the incoming pairs BEFORE the symmetric union: both union
    // branches reference `pairs`, and without truncation each branch
    // re-plans AND re-executes the caller's whole candidate-generation
    // pipeline (for LSH input that is the shingle→minhash→band-join plan —
    // measured as the dominant cost of the operator, far above the rounds).
    Caches.holding { held =>
      val p = held(pairs.select(col(aCol).as("s"), col(bCol).as("d")))
      val edgesRaw = held(p
        .union(p.select(col("d").as("s"), col("s").as("d")))
        .distinct())
      val edgeCount = edgesRaw.count() // cheap: counts the checkpointed blocks
      if (algorithm == "local" && edgeCount > LocalEdgeThreshold)
        throw new IllegalArgumentException(
          s"algorithm='local' on $edgeCount edges exceeds LocalEdgeThreshold " +
            s"($LocalEdgeThreshold); use 'labelprop', 'stars', or 'auto'")
      // the loops call this once their own initial checkpoints are
      // materialized — from then on nothing reads the raw inputs
      val releaseInputs = () => { held.release(p); held.release(edgesRaw) }
      if (algorithm == "local" ||
        (algorithm == "auto" && edgeCount <= LocalEdgeThreshold)) {
        // union-find collected the edges; the result (a parallelized local
        // relation) reads neither input checkpoint
        val out = localUnionFind(edgesRaw)
        releaseInputs()
        out
      } else {
        // the rounds run loop-width on a session clone ([[Loop.session]]);
        // the result rebinds to the caller's session (downstream plans must
        // use CALLER conf)
        val edgesIso = Loop.rebind(edgesRaw,
          Loop.session(pairs.sparkSession, edgeCount))
        val out =
          if (algorithm == "stars" || algorithm == "auto")
            starsLoop(edgesIso, maxIter, edgeCount, releaseInputs)
          else labelPropLoop(edgesIso, maxIter, releaseInputs)
        Loop.rebind(out, pairs.sparkSession)
      }
    }
  }

  /** Path-compressed, size-united union-find over the collected (bounded —
    * see [[LocalEdgeThreshold]]) edge list; components are then relabeled
    * to their minimum member so the contract matches the distributed
    * variants exactly. One Spark job in, one parallelize out — no
    * per-round scheduling at all.
    */
  private def localUnionFind(edgesRaw: DataFrame): DataFrame = {
    val spark = edgesRaw.sparkSession
    val schema = org.apache.spark.sql.types.StructType(Seq(
      edgesRaw.schema.fields.head.copy(name = "node"),
      edgesRaw.schema.fields.head.copy(name = "comp")))
    val edges = edgesRaw.collect()
    val parent = new java.util.HashMap[Any, Any]()
    val size = new java.util.HashMap[Any, Int]()
    def find(x: Any): Any = {
      var root = x
      while (parent.get(root) != root) root = parent.get(root)
      var cur = x // path compression
      while (parent.get(cur) != root) {
        val next = parent.get(cur); parent.put(cur, root); cur = next
      }
      root
    }
    edges.foreach { r =>
      val (a, b) = (r.get(0), r.get(1))
      Seq(a, b).foreach { x =>
        if (!parent.containsKey(x)) { parent.put(x, x); size.put(x, 1) }
      }
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        val (big, small) =
          if (size.get(ra) >= size.get(rb)) (ra, rb) else (rb, ra)
        parent.put(small, big)
        size.put(big, size.get(big) + size.get(small))
      }
    }
    // min member per root, then node -> its root's min. Node ids come from
    // one column, so both sides always share a runtime class; the string
    // fallback is unreachable in practice but keeps the match total.
    def lt(a: Any, b: Any): Boolean = (a, b) match {
      case (x: Comparable[_], y) if x.getClass == y.getClass =>
        x.asInstanceOf[Comparable[Any]].compareTo(y) < 0
      case _ => String.valueOf(a) < String.valueOf(b)
    }
    val minOfRoot = new java.util.HashMap[Any, Any]()
    parent.keySet().forEach { n =>
      val r = find(n)
      val cur = minOfRoot.get(r)
      if (cur == null || lt(n, cur)) minOfRoot.put(r, n)
    }
    val rows = new scala.collection.mutable.ArrayBuffer[Row](parent.size())
    parent.keySet().forEach(n => rows += Row(n, minOfRoot.get(find(n))))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toSeq,
        math.max(1, math.min(rows.length / 100000 + 1,
          spark.sparkContext.defaultParallelism))),
      schema)
  }

  /** Min-label propagation. Convergence is detected inside the round's own
    * aggregate: each node's previous label rides along as
    * `min(comp) where own` (the node's own labels row is tagged, messages
    * are not), so "did anything change" is a single cheap scan of the
    * already-checkpointed round output.
    */
  private def labelPropLoop(
      edgesRaw: DataFrame, maxIter: Int,
      releaseInputs: () => Unit): DataFrame = Caches.holding { held =>
    // Co-partition edges on the join key once (at the loop session's
    // width): localCheckpoint preserves the hash partitioning, so every
    // round's join re-shuffles only the (much smaller) labels side.
    val edges = held(edgesRaw.repartition(
      edgesRaw.sparkSession.sessionState.conf.numShufflePartitions, col("s")))
    val labels0 =
      held(edges.select(col("s").as("node"), col("s").as("comp")).distinct())
    releaseInputs()
    // The changed-row count rides on each round's checkpoint job via
    // observe() — convergence detection costs zero extra actions.
    Loop.iterate(labels0, rounds = maxIter,
      until = (_, _, seen) => seen("changed") == 0L,
      unconverged = Some(
        s"connectedComponents did not converge within $maxIter rounds; " +
          "raise maxIter (rounds needed ~ component diameter)"),
      observe = Seq(count(when(col("comp") =!= col("prev"), 1)).as("changed"))) {
      (state, _) =>
        val labels = state.select(col("node"), col("comp"))
        val msgs = edges
          .join(labels, edges("s") === labels("node"))
          .select(edges("d").as("node"), labels("comp"), lit(false).as("own"))
        // Every node has exactly one own=true row (labels covers all
        // nodes), so prev is never null and comp <=> prev iff the node's
        // label held.
        Some(msgs
          .union(labels.select(col("node"), col("comp"), lit(true).as("own")))
          .groupBy("node")
          .agg(
            min("comp").as("comp"),
            min(when(col("own"), col("comp"))).as("prev")))
    }.select(col("node"), col("comp"))
  }

  /** Alternating large-star/small-star on canonically oriented edges
    * (u > v, i.e. child → smaller parent):
    *
    *  - large-star: every node's strictly-larger neighbors re-attach to the
    *    minimum of its closed neighborhood;
    *  - small-star: every node and its smaller neighbors attach to that
    *    minimum.
    *
    * The edge set converges to depth-1 stars rooted at each component's
    * minimum id in O(log n) rounds. Fixpoint is detected by comparing a
    * 1-row signature (count + endpoint sums + pair-hash sum) of the
    * checkpointed round output — collisions would need equal counts, an
    * xxhash64 xor-fold collision AND a mod-sum collision simultaneously.
    * (xor / bounded mod-sum, not plain sums: ANSI mode would throw on a
    * 64-bit hash-sum overflow.)
    */
  private def starsLoop(
      edgesRaw: DataFrame, maxIter: Int, edgeCount: Long,
      releaseInputs: () => Unit): DataFrame = {
    // The budget self-sizes as 2·⌈log₂ edges⌉ + 8 with `maxIter` as a
    // floor: enough for real near-dup graphs (which exit on the
    // convergence signature in 2–5 rounds) at any data size, while never
    // letting a fixed cap silently under-provision a bigger graph. Star
    // contraction's THEORETICAL worst case is O(log² n) rounds on a long
    // chain — beyond this budget — so an adversarial topology fails loud
    // (IllegalStateException below) and the caller raises `maxIter`,
    // rather than the loop gambling unbounded rounds on every input.
    val logCeil =
      64 - java.lang.Long.numberOfLeadingZeros(math.max(edgeCount, 2L) - 1L)
    val budget = math.max(maxIter, 2 * logCeil + 8)
    val sigExprs = {
      val h = xxhash64(col("u"), col("v"))
      Seq(count(lit(1)).as("n"), bit_xor(h).as("x"),
        sum(pmod(h, lit(1000000007L))).as("s"))
    }
    Caches.holding { held =>
      // Every endpoint must come back labeled — including nodes whose only
      // "pair" is a self-loop, which the canonical orientation drops below.
      val allNodes = held(edgesRaw.select(col("s").as("node")).distinct())
      // child → parent orientation; self-loops dropped
      val edges0 = held(edgesRaw
        .select(greatest(col("s"), col("d")).as("u"), least(col("s"), col("d")).as("v"))
        .where(col("u") =!= col("v"))
        .distinct())
      releaseInputs()
      if (edges0.isEmpty) allNodes.select(col("node"), col("node").as("comp"))
      else {
        val sig0 = edges0.agg(sigExprs.head, sigExprs.tail: _*).head()
        // the fixpoint signature rides on each round's checkpoint job via
        // observe() — no extra action per round
        val edges = Loop.iterate(edges0, rounds = budget,
          until = Loop.repeats(sig0.getValuesMap[Any](Seq("n", "x", "s"))),
          unconverged = Some(
            s"connectedComponents(stars) did not converge within $budget rounds"),
          observe = sigExprs) {
          (edges, _) =>
            // large-star: symmetric view keyed on each node; m = min of
            // closed neighborhood; larger neighbors re-attach to m
            val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
            val mins = sym.groupBy("u")
              .agg(min(least(col("u"), col("v"))).as("m"))
            // no checkpoint on the intermediate: both consumers below read
            // it through an identical Exchange on "u", which ReuseExchange
            // computes once — the round stays a single job, and the
            // round-end checkpoint of `small` keeps lineage depth constant
            val large = sym.where(col("v") > col("u"))
              .join(mins, "u")
              .select(col("v").as("u"), col("m").as("v"))
              .distinct()
            // small-star: keyed on the larger endpoint; node and all its
            // smaller neighbors attach to the minimum
            val mins2 = large.groupBy("u").agg(min(col("v")).as("m"))
            Some(large.join(mins2, "u")
              .select(col("v").as("n"), col("m"))
              .union(mins2.select(col("u").as("n"), col("m")))
              .where(col("n") =!= col("m"))
              .select(col("n").as("u"), col("m").as("v"))
              .distinct())
        }
        val starLabels = edges.select(col("u").as("node"), col("v").as("comp"))
          .union(edges.select(col("v").as("node"), col("v").as("comp")))
          .distinct()
        // self-loop-only nodes label themselves
        allNodes.join(starLabels, Seq("node"), "left")
          .select(col("node"), coalesce(col("comp"), col("node")).as("comp"))
      }
    }
  }
}
