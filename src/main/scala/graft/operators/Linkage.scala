package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Probabilistic record linkage / entity resolution over structured
  * rows — the classic Fellegi–Sunter (1969) match-weight model, the
  * workhorse behind deduplicating customer/author/business registries
  * before they feed a pipeline (the structured-record sibling of the
  * text tier's MinHash family: there the signal is content overlap,
  * here it is field-level agreement patterns).
  *
  * Candidate pairs come from equality BLOCKING (the standard scale
  * device: only rows sharing every block key are compared, so the
  * quadratic explosion is per-block, not global); each compare field
  * then contributes its agreement weight `log2(m/u)` when the two rows
  * agree (null-safely) and its disagreement weight
  * `log2((1−m)/(1−u))` when they do not, where `m` = P(agree | same
  * entity) and `u` = P(agree | different entities). The pair score is
  * the sum — the log-likelihood ratio of the match hypothesis under
  * field independence. m/u are caller-supplied (estimated offline via
  * EM or domain knowledge — this operator is the scoring engine, not
  * the fit).
  *
  * Engine-exact: the weights are computed ONCE driver-side (`log2`
  * has no cross-libm guarantee — the [[RankEval]] discount
  * discipline), QUANTIZED to integer micro-bits, and embedded as LONG
  * literals; agreement is codegen'd null-safe equality and the score
  * is an integer sum — no floating rounding anywhere, so a SQL oracle
  * reproduces it bit-for-bit (a double sum + `round(_, 6)` was
  * measured to split on a decimal-vs-binary half-way boundary between
  * engines).
  *
  * Scale shape: one self-join shuffling on the block keys (choose keys
  * selective enough that a block fits a task — a mega-block is the
  * caller's skew to salt or sub-block; the join itself is
  * AQE-skew-splittable), per-pair work is a handful of codegen'd
  * comparisons, and the output is threshold-filtered. Rows with a NULL
  * block key never pair (equality blocking drops them — the SQL
  * convention on both engines).
  */
object Linkage {

  /** One compare field with its conditional agreement probabilities:
    * `m` = P(fields agree | records match), `u` = P(fields agree |
    * records differ). `m > u` (an informative field), both in (0, 1).
    */
  final case class FieldWeight(column: String, m: Double, u: Double) {
    require(m > 0.0 && m < 1.0 && u > 0.0 && u < 1.0,
      s"m and u must be in (0, 1), got m=$m u=$u for `$column`")
    require(m > u,
      s"m must exceed u (an agreeing field must favor the match " +
        s"hypothesis), got m=$m <= u=$u for `$column`")
    /** log2(m/u), the agreement weight. */
    def agreeWeight: Double = math.log(m / u) / math.log(2.0)
    /** log2((1-m)/(1-u)), the disagreement weight (negative). */
    def disagreeWeight: Double = math.log((1.0 - m) / (1.0 - u)) / math.log(2.0)
    /** The weights in integer micro-bits — what the score sums. */
    def agreeMicros: Long = math.round(agreeWeight * 1e6)
    def disagreeMicros: Long = math.round(disagreeWeight * 1e6)
  }

  /** [[fitEM]]'s result: the estimated prior P(match) over blocked
    * candidate pairs and the per-field weights ready for
    * [[scorePairs]].
    */
  case class EmFit(pMatch: Double, fields: Seq[FieldWeight])

  /** Unsupervised m/u estimation — the standard Fellegi–Sunter EM over
    * agreement patterns (Winkler 1988, "Using the EM algorithm for
    * weight computation in the Fellegi-Sunter model of record
    * linkage"), so callers stop hand-supplying [[FieldWeight]]s.
    *
    * The model: each blocked candidate pair is a latent match (prior
    * `p`) or non-match; field j agrees null-safely with probability
    * `m_j` among matches, `u_j` among non-matches, independently
    * across fields. EM alternates posterior match weights per
    * AGREEMENT PATTERN (E) with count-weighted re-estimates of
    * p/m/u (M).
    *
    * Scale shape: the data is touched by exactly ONE distributed
    * aggregate — the blocked self-join's agreement patterns are
    * bit-packed into a long and histogrammed (`groupBy(pattern)
    * .count`, map-side partials), at most 2^|fields| rows collect to
    * the driver, and every EM iteration is driver-local arithmetic
    * over that histogram. 100 TB of pairs costs the same driver work
    * as 100 MB.
    *
    * Deterministic: fixed seeds (p=0.1, m=0.9, u=0.1 — the standard
    * uninformative start), the histogram folded in sorted pattern
    * order, no data-dependent branching. Component label-switching
    * (EM converging onto the mirrored solution) is normalized by
    * swapping when most fields land m < u. A field the fit finds
    * UNINFORMATIVE (m ≤ u: agreement does not separate matches) is a
    * loud error, not a silent sign-flip — it means the field or the
    * blocking is wrong.
    */
  /** The Fellegi–Sunter SUFFICIENT STATISTIC as a table: blocked
    * candidate pairs' null-safe field-agreement patterns, bit-packed
    * (field j agreeing sets bit j) and histogrammed — `(pattern,
    * n_pairs)`, at most 2^|fields| rows. This is the ONE distributed
    * aggregate [[fitEM]] consumes; exposed separately so the statistic
    * itself is auditable (and SQL-twinnable: one blocked self-join +
    * groupBy) even though the EM that digests it is driver-local.
    *
    * Scale shape: the self-join shuffles on the block keys (caller
    * picks selective keys; mega-blocks are skew to salt), agreement is
    * codegen'd `<=>` per field, and the groupBy is map-side-combined
    * into ≤ 2^|fields| cells. A HOT BLOCK is the unbounded term — one
    * block of B rows yields B²/2 pairs regardless of how selective
    * every other block is (the classic degenerate case: a NULL or
    * empty-string block key holding half the corpus) — so the largest
    * block is checked EAGERLY (one blocks-sized aggregate) and refused
    * loudly above `maxBlockRows`; salt or sub-block the hot key.
    */
  def agreementPatterns(
      df: DataFrame,
      idCol: String,
      blockCols: Seq[String],
      fieldCols: Seq[String],
      maxBlockRows: Long = 100000L): DataFrame = {
    require(blockCols.nonEmpty,
      "blockCols must be non-empty — unblocked linkage is a global " +
        "cartesian product; block on something (and salt/sub-block hot keys)")
    require(fieldCols.nonEmpty && fieldCols.length <= 20,
      s"fieldCols must be 1..20, got ${fieldCols.length} (beyond 20 " +
        "the pattern histogram is no longer driver-bounded)")
    require(maxBlockRows >= 2L && maxBlockRows <= 10000000L,
      s"maxBlockRows must be in 2..10000000, got $maxBlockRows")
    // eager hot-block guard: NULL block keys join nowhere (`===` never
    // matches NULL) so they are exempt; everything else is bounded
    val hot = df
      .where(blockCols.map(col(_).isNotNull).reduce(_ && _))
      .groupBy(blockCols.map(col): _*)
      .agg(count(lit(1)).as("__b"))
      .agg(max(col("__b")).as("__mx")).head()
    val mx = if (hot.isNullAt(0)) 0L else hot.getAs[Long]("__mx")
    require(mx <= maxBlockRows,
      s"agreementPatterns: a block holds $mx rows (> maxBlockRows=" +
        s"$maxBlockRows) — one hot block yields mx²/2 candidate " +
        "pairs no matter how selective the rest are; salt or " +
        "sub-block the hot key (add a discriminating column to " +
        "blockCols) upstream")
    val allCols = (Seq(idCol) ++ blockCols ++ fieldCols).distinct
    val left = df.select(allCols.map(c => col(c).as(s"${c}_a")): _*)
    val right = df.select(allCols.map(c => col(c).as(s"${c}_b")): _*)
    val joined = left.join(right,
      blockCols.map(c => col(s"${c}_a") === col(s"${c}_b"))
        .reduce(_ && _) && col(s"${idCol}_a") < col(s"${idCol}_b"))
    val pattern = fieldCols.zipWithIndex.map { case (f, j) =>
      when(col(s"${f}_a") <=> col(s"${f}_b"), lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    joined.select(pattern.as("pattern"))
      .groupBy("pattern").agg(count(lit(1)).as("n_pairs"))
  }

  def fitEM(
      df: DataFrame,
      idCol: String,
      blockCols: Seq[String],
      fieldCols: Seq[String],
      iters: Int = 50): EmFit = {
    require(fieldCols.length >= 3 && fieldCols.length <= 20,
      s"fieldCols must be 3..20, got ${fieldCols.length}: below 3 " +
        "fields the latent-class model is UNDER-identified (2^k - 1 " +
        "pattern degrees of freedom vs 2k + 1 parameters needs k >= 3 " +
        "— Winkler 1988) and EM lands on an arbitrary ridge point; " +
        "above 20 the pattern histogram is no longer driver-bounded")
    require(iters >= 1 && iters <= 10000,
      s"iters must be in 1..10000, got $iters")
    val hist = agreementPatterns(df, idCol, blockCols, fieldCols)
      .collect().map(r => r.getLong(0) -> r.getLong(1))
      .sortBy(_._1) // deterministic fold order
    require(hist.nonEmpty,
      "fitEM: the blocking yields no candidate pairs — nothing to fit")
    val nf = fieldCols.length
    val total = hist.map(_._2).sum.toDouble
    val eps = 1e-6
    def clamp(x: Double) = math.min(1 - eps, math.max(eps, x))
    var p = 0.1
    var m = Array.fill(nf)(0.9)
    var u = Array.fill(nf)(0.1)
    for (_ <- 1 to iters) {
      var sw = 0.0
      var swn = 0.0
      val swAgree = Array.fill(nf)(0.0)
      val swnAgree = Array.fill(nf)(0.0)
      hist.foreach { case (pat, n) =>
        var pm = p
        var pu = 1.0 - p
        var j = 0
        while (j < nf) {
          val agree = ((pat >> j) & 1L) == 1L
          pm *= (if (agree) m(j) else 1.0 - m(j))
          pu *= (if (agree) u(j) else 1.0 - u(j))
          j += 1
        }
        val w = pm / (pm + pu) // clamps keep pm + pu > 0
        sw += n * w
        swn += n * (1.0 - w)
        j = 0
        while (j < nf) {
          if (((pat >> j) & 1L) == 1L) {
            swAgree(j) += n * w
            swnAgree(j) += n * (1.0 - w)
          }
          j += 1
        }
      }
      p = clamp(sw / total)
      for (j <- 0 until nf) {
        m(j) = clamp(swAgree(j) / math.max(sw, eps))
        u(j) = clamp(swnAgree(j) / math.max(swn, eps))
      }
    }
    // label-switching normalization: the two-component likelihood is
    // symmetric under (p, m, u) -> (1-p, u, m); pick the orientation
    // where agreement marks MATCHES
    if (fieldCols.indices.count(j => m(j) < u(j)) * 2 > nf) {
      p = 1.0 - p
      val t = m.clone(); Array.copy(u, 0, m, 0, nf); Array.copy(t, 0, u, 0, nf)
    }
    val fitted = fieldCols.indices.map { j =>
      require(m(j) > u(j),
        f"fitEM: field '${fieldCols(j)}' is uninformative under this " +
          f"blocking (m=${m(j)}%.4f <= u=${u(j)}%.4f — agreement does " +
          "not separate matches from non-matches); drop the field, fix " +
          "the blocking, or supply its weights by hand")
      FieldWeight(fieldCols(j), m(j), u(j))
    }
    EmFit(p, fitted)
  }

  /** EXACT all-pairs fuzzy matching: every pair of rows whose string
    * column is within Levenshtein distance `maxDist` — without the
    * cross product. The fuzzy sibling of [[scorePairs]]' null-safe
    * EQUALITY comparators (reference `spark_fuse` blocks on exact
    * field agreement and so never sees a typo'd twin; this is the
    * operator that catches them).
    *
    * Method is FastSS (Bocek, Hunt & Stiller 2007, "Fast Similarity
    * Search in Large Dictionaries"): each string's DELETION
    * NEIGHBORHOOD — every variant reachable by deleting up to
    * `maxDist` characters — is generated row-locally as a codegen'd
    * array expression; two strings within edit distance k always share
    * at least one depth-k variant, so an equi-join on the exploded
    * variants yields a candidate superset, deduped per pair and then
    * verified with the exact `levenshtein` — no false positives, no
    * false negatives. Scale shape: neighborhood generation is
    * embarrassingly parallel (|s| variants at k=1, O(|s|²/2) at k=2),
    * the single shuffle is the variant equi-join — a hash join on a
    * bounded-fanout key, AQE-skew-splittable. Short strings all share
    * deletion variants with each other (every length-≤k string's
    * neighborhood contains ""); `minLength` is the guard that keeps
    * those degenerate hot buckets out.
    *
    * `maxDist` is capped at 2: depth-3 neighborhoods multiply row
    * width by O(|s|³) and FastSS stops being cheaper than an n-gram
    * prefilter — refuse loudly rather than degrade silently.
    *
    * Output: `(id_a, id_b, dist)` with `id_a < id_b`, one row per
    * matched pair.
    */
  def editDistancePairs(
      df: DataFrame,
      idCol: String,
      strCol: String,
      maxDist: Int = 1,
      minLength: Int = 2): DataFrame = {
    require(maxDist >= 1 && maxDist <= 2,
      s"maxDist must be 1 or 2 (deletion neighborhoods explode beyond), " +
        s"got $maxDist")
    require(minLength >= 1, s"minLength must be >= 1, got $minLength")
    val base = df.select(col(idCol).as("__id"),
      col(strCol).cast("string").as("__s"))
      .where(col("__s").isNotNull && length(col("__s")) >= minLength)
    // all single-character deletions of s, as one row-local array
    def deletions(s: Column): Column =
      transform(sequence(lit(1), length(s)), i =>
        concat(substring(s, lit(1), i - lit(1)),
          substring(s, i + lit(1), length(s))))
    val d1 = array_union(array(col("__s")), deletions(col("__s")))
    val variants =
      if (maxDist == 1) d1
      else array_distinct(flatten(transform(d1, v =>
        array_union(array(v), deletions(v)))))
    val sides = base.select(col("__id"), col("__s"),
      explode(variants).as("__v"))
    val left = sides.select(col("__v"), col("__id").as("id_a"),
      col("__s").as("__sa"))
    val right = sides.select(col("__v"), col("__id").as("id_b"),
      col("__s").as("__sb"))
    // dedup candidates BEFORE the verify: a k=2 pair can share dozens
    // of variants, and one levenshtein per unique pair beats one per
    // shared bucket
    left.join(right, Seq("__v"))
      .where(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"), col("__sa"), col("__sb"))
      .dropDuplicates("id_a", "id_b")
      .select(col("id_a"), col("id_b"),
        levenshtein(col("__sa"), col("__sb")).as("dist"))
      .where(col("dist") <= maxDist)
  }

  /** Score every blocked candidate pair; keep pairs with
    * `score_micros >= threshold × 1e6`. Output:
    * `(id_a, id_b, n_agree, score_micros)` with `id_a < id_b` and the
    * log-likelihood-ratio score in integer micro-bits.
    */
  def scorePairs(
      df: DataFrame,
      idCol: String,
      blockCols: Seq[String],
      fields: Seq[FieldWeight],
      threshold: Double = 0.0): DataFrame =
    scoreBetween(df, df, idCol, blockCols, fields, threshold,
      withinOne = true)

  /** The shared scoring join: candidates are block-equal (left, right)
    * row pairs — `withinOne` compares one frame to itself (`id_a <
    * id_b` kills mirror+self pairs), the cross form takes distinct-id
    * pairs and normalizes id order afterward (the field weights are
    * symmetric, so normalization touches only the id columns).
    */
  private def scoreBetween(
      leftDf: DataFrame,
      rightDf: DataFrame,
      idCol: String,
      blockCols: Seq[String],
      fields: Seq[FieldWeight],
      threshold: Double,
      withinOne: Boolean): DataFrame = {
    require(blockCols.nonEmpty,
      "blockCols must be non-empty — unblocked linkage is a global " +
        "cartesian product; block on something (and salt/sub-block hot keys)")
    require(fields.nonEmpty, "fields must be non-empty")
    val allCols = (Seq(idCol) ++ blockCols ++ fields.map(_.column)).distinct
    val left = leftDf.select(allCols.map(c => col(c).as(s"${c}_a")): _*)
    val right = rightDf.select(allCols.map(c => col(c).as(s"${c}_b")): _*)
    val idCond =
      if (withinOne) col(s"${idCol}_a") < col(s"${idCol}_b")
      else col(s"${idCol}_a") =!= col(s"${idCol}_b")
    val joined = left.join(right,
      blockCols.map(c => col(s"${c}_a") === col(s"${c}_b"))
        .reduce(_ && _) && idCond)
    // integer sum of per-field micro-bit literals — order-free and
    // rounding-free, so any engine agrees term-for-term
    val agrees = fields.map(f =>
      col(s"${f.column}_a") <=> col(s"${f.column}_b"))
    val score = fields.zip(agrees).map { case (f, a) =>
      when(a, lit(f.agreeMicros)).otherwise(lit(f.disagreeMicros))
    }.reduce(_ + _)
    val nAgree = agrees.map(a => when(a, lit(1L)).otherwise(lit(0L)))
      .reduce(_ + _)
    joined
      .withColumn("score_micros", score)
      .withColumn("n_agree", nAgree)
      .where(col("score_micros") >= lit(math.round(threshold * 1e6)))
      .select(
        least(col(s"${idCol}_a"), col(s"${idCol}_b")).as("id_a"),
        greatest(col(s"${idCol}_a"), col(s"${idCol}_b")).as("id_b"),
        col("n_agree"), col("score_micros"))
  }

  /** Incremental linkage against a PERSISTED record index — the
    * identity-resolution twin of [[DedupIndex]]'s text pattern: a
    * registry too large to re-pair nightly takes arriving batches,
    * each batch pairs against the standing records (and itself)
    * WITHOUT re-pairing the standing records against each other, and
    * the entity map is always derivable from the accumulated pairs.
    *
    * Layout: `path/records` (append-only record store),
    * `path/pairs` (append-only scored-pair log),
    * [[IndexParamsFileName]] (the linkage config — id/block/field
    * m-u/threshold — committed once; later batches must match it, a
    * drifted config fails loud, because pairs scored under different
    * weights must never mix in one log).
    *
    * Delivery is at-least-once: a replayed batch re-appends duplicate
    * records and re-derives the SAME pairs (identical ids pair with
    * nothing — `id_a ≠ id_b` — and [[entities]] distincts the log), so
    * replays are exact no-ops on the entity map.
    */
  object Index {

    val IndexParamsFileName = "_graft_linkage_params.json"

    private def paramsJson(
        idCol: String, blockCols: Seq[String], fields: Seq[FieldWeight],
        threshold: Double): String =
      graft.io.Json.toJson(Map(
        "id_col" -> idCol,
        "block_cols" -> blockCols,
        "threshold" -> threshold,
        "fields" -> fields.map(f =>
          Map("column" -> f.column, "m" -> f.m, "u" -> f.u))))

    private def readParams(spark: org.apache.spark.sql.SparkSession,
        path: String): (String, Seq[String], Seq[FieldWeight], Double) = {
      val dir = new org.apache.hadoop.fs.Path(path)
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      val raw = graft.io.Sidecar.read(fs, dir, IndexParamsFileName)
        .getOrElse(throw new IllegalStateException(
          s"no linkage-index params sidecar at $path — index missing or " +
            "torn by a failed create"))
      val node = graft.io.Json.parse(raw)
      import scala.jdk.CollectionConverters._
      (node.get("id_col").asText(),
        node.get("block_cols").elements().asScala.map(_.asText()).toSeq,
        node.get("fields").elements().asScala.map(f =>
          FieldWeight(f.get("column").asText(),
            f.get("m").asDouble(), f.get("u").asDouble())).toSeq,
        node.get("threshold").asDouble())
    }

    /** Create the index from the initial corpus: records land, the
      * within-corpus pairs seed the pair log, params commit LAST (the
      * [[graft.io.Sidecar]] discipline — a crash leaves data without a
      * sidecar, which every later call refuses loudly).
      */
    def create(
        records: DataFrame,
        path: String,
        idCol: String,
        blockCols: Seq[String],
        fields: Seq[FieldWeight],
        threshold: Double): Unit = {
      val spark = records.sparkSession
      records.write.mode("errorifexists").parquet(s"$path/records")
      scorePairs(records, idCol, blockCols, fields, threshold)
        .write.mode("overwrite").parquet(s"$path/pairs")
      val dir = new org.apache.hadoop.fs.Path(path)
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      val json = paramsJson(idCol, blockCols, fields, threshold)
      val committed = graft.io.Sidecar.commit(
        fs, dir, IndexParamsFileName, json, overwrite = false)
      if (committed != json) throw new IllegalStateException(
        s"linkage index at $path was created concurrently with different " +
          "params — single-writer creation required")
    }

    /** Pair `batch` against the standing records AND itself, append
      * both the batch's records and the new pairs, and return the new
      * pairs. The standing corpus is read once, filtered to the
      * batch's blocks by the join itself (bucket the records layout by
      * block key upstream to prune the scan at 100×).
      *
      * The batch's schema is validated against the standing records
      * BEFORE anything is appended: a drifted, extra, or retyped column
      * would otherwise write mismatched parquet footers under
      * `records/`, and a later non-mergeSchema read could silently
      * adopt one footer's shape and corrupt every future cross-pair
      * score — loud like the params sidecar, not silent. Column ORDER
      * is normalized (select in standing order), not rejected.
      */
    def ingestBatch(
        spark: org.apache.spark.sql.SparkSession,
        path: String,
        batch: DataFrame): DataFrame = {
      val (idCol, blockCols, fields, threshold) = readParams(spark, path)
      val standing = spark.read.parquet(s"$path/records")
      val want = standing.schema.fields.map(f => f.name -> f.dataType)
      val got = batch.schema.fields.map(f => f.name -> f.dataType).toMap
      val missing = want.collect { case (n, _) if !got.contains(n) => n }
      val extra = batch.schema.fieldNames.filterNot(want.map(_._1).toSet)
      val retyped = want.collect {
        case (n, t) if got.contains(n) && got(n) != t =>
          s"$n: ${got(n).simpleString} (standing ${t.simpleString})"
      }
      if (missing.nonEmpty || extra.nonEmpty || retyped.nonEmpty)
        throw new IllegalArgumentException(
          s"ingestBatch: batch schema drifts from the standing records " +
            s"at $path — missing [${missing.mkString(", ")}], extra " +
            s"[${extra.mkString(", ")}], retyped [${retyped.mkString(", ")}]; " +
            "refusing to append a mismatched parquet footer")
      val aligned = batch.select(want.map { case (n, _) => col(n) }: _*)
      val withinBatch =
        scorePairs(aligned, idCol, blockCols, fields, threshold)
      val crossPairs = scoreBetween(aligned, standing, idCol, blockCols,
        fields, threshold, withinOne = false)
      graft.core.Caches.holding { held =>
        // materialize BEFORE the appends mutate dirs
        val newPairs = held(withinBatch.unionByName(crossPairs).distinct())
        newPairs.write.mode("append").parquet(s"$path/pairs")
        aligned.write.mode("append").parquet(s"$path/records")
        newPairs
      }
    }

    /** The standing entity map: connected components over every pair
      * ever logged (distinct-insensitive, so replays are no-ops), each
      * record labeled with its component's MIN member id — records
      * matching nothing are their own entity.
      */
    def entities(
        spark: org.apache.spark.sql.SparkSession,
        path: String): DataFrame = {
      val (idCol, _, _, _) = readParams(spark, path)
      val pairs = spark.read.parquet(s"$path/pairs")
        .select("id_a", "id_b").distinct()
      val cc = Dedup.connectedComponents(pairs, "id_a", "id_b")
      spark.read.parquet(s"$path/records").select(col(idCol)).distinct()
        .join(cc.withColumnRenamed("node", idCol), Seq(idCol), "left")
        .select(col(idCol),
          coalesce(col("comp"), col(idCol)).as("entity_id"))
    }
  }
}
