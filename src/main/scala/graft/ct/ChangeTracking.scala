package graft.ct

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Hashing

/** SCD Type-1 / Type-2 change tracking, Delta-free.
  *
  * Reference semantics: src/spark_fuse/utils/change_tracking.py —
  * `current_only_upsert` (SCD1, :370-496), `track_history_upsert` (SCD2,
  * :499-665), batch step (:277-367), mode dispatcher (:668-688). The Delta
  * MERGE is re-expressed as a full-outer join + column-wise merge + staged
  * rewrite ([[TableStore.overwrite]]).
  *
  * Scale notes: every step is a keyed join/window (shuffle on the business
  * keys, broadcast-able when the batch is small relative to the target), no
  * driver-side data collection (the only collect is a 1-row max-rank scalar).
  * The per-rank loop runs once per *duplicate depth in one batch* (almost
  * always 1), not per row.
  */
object ChangeTracking {

  /** Delimiter for stable row-hash concatenation (U+241F). */
  val UnitSeparator: String = Hashing.UnitSeparator
  val SequenceCol = "__change_tracking_seq"

  sealed trait Mode
  case object CurrentOnly extends Mode
  case object TrackHistory extends Mode

  /** Mode alias resolution (change_tracking.py:40-79). */
  def resolveMode(value: Any): Mode = {
    val norm = value match {
      case m: Mode => return m
      case i: Int => i.toString
      case s: String => s.trim.toLowerCase
      case other => other.toString.trim.toLowerCase
    }
    norm match {
      case "1" | "current" | "current_only" | "currentonly" => CurrentOnly
      case "2" | "track_history" | "trackhistory" | "history" => TrackHistory
      case other => throw new IllegalArgumentException(
        s"Unsupported change_tracking_mode '$other'. Use 1/2 or current_only/track_history.")
    }
  }

  private val HistoryFields =
    Set("effective_start_ts", "effective_end_ts", "is_current", "version")

  private def keysNotNull(keys: Seq[String]): Column =
    keys.map(col(_).isNotNull).reduce(_ && _)

  /** Null-business-key policy: "error" probes with limit(1), "drop" filters.
    * (change_tracking.py:411-424, 573-586)
    */
  private def applyNullKeyPolicy(
      df: DataFrame, keys: Seq[String], policy: String): DataFrame = policy match {
    case "drop" => df.where(keysNotNull(keys))
    case "error" =>
      if (!df.where(!keysNotNull(keys)).isEmpty)
        throw new IllegalArgumentException(
          "Null business key encountered in source; set nullKeyPolicy='drop' to drop them.")
      df
    case other =>
      throw new IllegalArgumentException(s"nullKeyPolicy must be 'error' or 'drop', got '$other'")
  }

  private def validateKeys(df: DataFrame, keys: Seq[String]): Unit = {
    require(keys.nonEmpty, "businessKeys must be a non-empty sequence")
    val missing = keys.filterNot(df.columns.contains)
    require(missing.isEmpty, s"source missing businessKeys: ${missing.mkString(", ")}")
  }

  private def resolveTracked(
      df: DataFrame, keys: Seq[String], tracked: Option[Seq[String]],
      alsoExclude: Set[String]): Seq[String] = tracked match {
    case Some(cols) =>
      val missing = cols.filterNot(df.columns.contains)
      require(missing.isEmpty, s"trackedColumns not in source: ${missing.mkString(", ")}")
      cols
    case None =>
      df.columns.filterNot(c => keys.contains(c) || alsoExclude.contains(c)).toSeq
  }

  /** Keep-latest window dedup (change_tracking.py:430-440). */
  /** dedupeKeys must not be broader than businessKeys: deduping by a
    * SUPERSET (e.g. (id, region) for business key id) leaves multiple
    * source rows per business key, and the merge join then writes several
    * "current" rows for one key — silently breaking the SCD invariant.
    * A subset (stronger dedup) is fine.
    */
  private def validateDedupeKeys(
      businessKeys: Seq[String], dedupeKeys: Option[Seq[String]]): Unit =
    dedupeKeys.foreach { dk =>
      val extra = dk.toSet -- businessKeys.toSet
      require(extra.isEmpty,
        s"dedupeKeys must be a subset of businessKeys (exactly one source " +
          s"row per business key must survive dedup); extra: " +
          extra.toSeq.sorted.mkString(", "))
    }

  private def dedupeLatest(
      df: DataFrame, dedupeKeys: Seq[String], orderBy: Seq[String]): DataFrame =
    if (orderBy.nonEmpty) {
      val w = Window.partitionBy(dedupeKeys.map(col): _*)
        .orderBy(orderBy.map(col(_).desc_nulls_last): _*)
      df.withColumn("__rn", row_number().over(w)).where(col("__rn") === 1).drop("__rn")
    } else df.dropDuplicates(dedupeKeys)

  /** Per-source-column "did it change" predicate against the target.
    * Uses the row hash when the target carries it, otherwise a null-safe
    * per-tracked-column comparison (change_tracking.py:465-472).
    * Tracked columns absent from the target count as changed when non-null.
    */
  private def changeCond(
      tgt: DataFrame, src: DataFrame, tracked: Seq[String], hashCol: String): Column =
    if (tgt.columns.contains(hashCol)) !(tgt(hashCol) <=> src(hashCol))
    else {
      val diffs = tracked.map { c =>
        if (tgt.columns.contains(c)) !(tgt(c) <=> src(c)) else src(c).isNotNull
      }
      if (diffs.isEmpty) lit(false) else diffs.reduce(_ || _)
    }

  private def checkSchemaEvolution(
      newCols: Seq[String], allow: Boolean, target: String): Unit =
    require(newCols.isEmpty || allow,
      s"Source adds columns ${newCols.mkString(", ")} not present in target " +
        s"'$target'; pass allowSchemaEvolution=true to add them.")

  /** SCD Type-1: keep exactly one current row per business key.
    * (current_only_upsert, change_tracking.py:370-496)
    */
  def currentOnlyUpsert(
      spark: SparkSession,
      sourceDf: DataFrame,
      target: String,
      businessKeys: Seq[String],
      trackedColumns: Option[Seq[String]] = None,
      dedupeKeys: Option[Seq[String]] = None,
      orderBy: Seq[String] = Nil,
      hashCol: String = "row_hash",
      nullKeyPolicy: String = "error",
      createIfNotExists: Boolean = true,
      allowSchemaEvolution: Boolean = false,
      numBuckets: Option[Int] = None): Unit = {
    validateKeys(sourceDf, businessKeys)
    validateDedupeKeys(businessKeys, dedupeKeys)
    val tracked = resolveTracked(sourceDf, businessKeys, trackedColumns, Set.empty)
    val cleaned = applyNullKeyPolicy(sourceDf, businessKeys, nullKeyPolicy)
    val deduped = dedupeLatest(cleaned, dedupeKeys.getOrElse(businessKeys), orderBy)
    // bucket id is derived AFTER the row hash, so hashes (and therefore
    // change detection) are identical across bucketed and flat layouts
    val srcHashed = withBucket(
      deduped.withColumn(hashCol, Hashing.rowHashOf(tracked)),
      businessKeys, numBuckets, target)

    if (!TableStore.exists(spark, target)) {
      require(createIfNotExists,
        s"Target '$target' does not exist and createIfNotExists=false")
      if (numBuckets.isDefined) TableStore.appendBucketed(srcHashed, target)
      else TableStore.append(srcHashed, target)
      return
    }

    // bucketed merges collect the touched bucket ids from the source and
    // then re-read it for the join + rewrite: persist so the source plan
    // computes once, and so a nondeterministic source cannot emit rows whose
    // bucket falls outside the collected set (those rows would be staged but
    // never swapped in — silently lost)
    val bucketed = numBuckets.isDefined
    if (bucketed)
      srcHashed.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val (tgt, batchBuckets) = readPruned(spark, target, srcHashed, numBuckets)
    // Never write SCD2 metadata columns from a current-only merge
    val writeCols = srcHashed.columns.filterNot(HistoryFields.contains).toSeq
    checkSchemaEvolution(
      writeCols.filterNot(tgt.columns.contains), allowSchemaEvolution, target)

    val tMark = "__graft_t_present"
    val sMark = "__graft_s_present"
    val t = tgt.withColumn(tMark, lit(true))
    val s = srcHashed.withColumn(sMark, lit(true))
    val keyCond = businessKeys.map(k => t(k) <=> s(k)).reduce(_ && _)
    val joined = t.join(s, keyCond, "full_outer")
    val sPresent = s(sMark).isNotNull
    val tPresent = t(tMark).isNotNull
    val changed = changeCond(tgt, srcHashed, tracked, hashCol)
    // take the source value on insert or matched-and-changed, else keep target
    val takeSource = sPresent && (!tPresent || changed)

    val outCols: Seq[Column] =
      tgt.columns.toSeq.map { c =>
        if (writeCols.contains(c)) when(takeSource, s(c)).otherwise(t(c)).as(c)
        else t(c).as(c) // target-only columns (incl. SCD2 metadata) pass through
      } ++ writeCols.filterNot(tgt.columns.contains).map { c =>
        when(takeSource, s(c)).as(c) // evolved columns: null for untouched rows
      }
    val merged = joined.select(outCols: _*)
    if (bucketed)
      TableStore.overwriteBuckets(spark, merged, target, batchBuckets)
    else TableStore.overwrite(spark, merged, target)
    } finally if (bucketed) srcHashed.unpersist(blocking = false)
  }

  /** Add the physical bucket column for bucketed targets (no-op otherwise). */
  private def withBucket(
      df: DataFrame, keys: Seq[String], numBuckets: Option[Int],
      target: String): DataFrame = numBuckets match {
    case Some(n) =>
      require(TableStore.isPath(target), "bucketed targets are path-addressed")
      df.withColumn(TableStore.BucketCol, Hashing.bucketOf(keys, n))
    case None => df
  }

  /** Read the target snapshot; for bucketed targets, prune to the buckets the
    * source batch touches (a bounded ≤numBuckets driver-side collect — scan
    * and rewrite then cost O(touched fraction) of the table, not O(table)).
    */
  private def readPruned(
      spark: SparkSession, target: String, src: DataFrame,
      numBuckets: Option[Int]): (DataFrame, Seq[Int]) = {
    val all = TableStore.read(spark, target)
    if (numBuckets.isEmpty) (all, Nil)
    else {
      require(all.columns.contains(TableStore.BucketCol),
        s"numBuckets was set but existing target '$target' is not bucketed")
      val bs = src.select(TableStore.BucketCol).distinct()
        .collect().map(_.getInt(0)).toSeq
      (all.where(col(TableStore.BucketCol).isin(bs: _*)), bs)
    }
  }

  /** SCD Type-2: close changed current rows, insert new versions.
    * (track_history_upsert, change_tracking.py:499-665)
    *
    * @param loadTsExpr SQL expression for the effective-start timestamp
    *                   (defaults to `current_timestamp()`); pin it for
    *                   deterministic tests/oracles.
    */
  def trackHistoryUpsert(
      spark: SparkSession,
      sourceDf: DataFrame,
      target: String,
      businessKeys: Seq[String],
      trackedColumns: Option[Seq[String]] = None,
      dedupeKeys: Option[Seq[String]] = None,
      orderBy: Seq[String] = Nil,
      effectiveCol: String = "effective_start_ts",
      expiryCol: String = "effective_end_ts",
      currentCol: String = "is_current",
      versionCol: String = "version",
      hashCol: String = "row_hash",
      loadTsExpr: Option[String] = None,
      nullKeyPolicy: String = "error",
      createIfNotExists: Boolean = true,
      allowSchemaEvolution: Boolean = false,
      numBuckets: Option[Int] = None): Unit = {
    validateKeys(sourceDf, businessKeys)
    validateDedupeKeys(businessKeys, dedupeKeys)
    val meta = Set(effectiveCol, expiryCol, currentCol, versionCol, hashCol)
    val tracked = resolveTracked(sourceDf, businessKeys, trackedColumns, meta)
    val cleaned = applyNullKeyPolicy(sourceDf, businessKeys, nullKeyPolicy)

    // Rank duplicates per key: rank 1 = latest; batches processed oldest→newest
    val dKeys = dedupeKeys.getOrElse(businessKeys)
    val ranked =
      if (orderBy.nonEmpty) {
        val w = Window.partitionBy(dKeys.map(col): _*)
          .orderBy(orderBy.map(col(_).desc_nulls_last): _*)
        cleaned.withColumn(SequenceCol, row_number().over(w))
      } else cleaned.dropDuplicates(dKeys).withColumn(SequenceCol, lit(1))

    val sourceHashed = withBucket(
      ranked.withColumn(hashCol, Hashing.rowHashOf(tracked)),
      businessKeys, numBuckets, target)
    val tsCol = expr(loadTsExpr.getOrElse("current_timestamp()"))

    // cache when the per-rank loop re-reads the source (orderBy) OR when
    // bucketed (each batch collects its touched bucket ids and then re-reads
    // the source for the merge — uncached, a nondeterministic source could
    // emit rows outside the collected buckets, which the swap would drop)
    val shouldCache = orderBy.nonEmpty || numBuckets.isDefined
    val cached = if (shouldCache) sourceHashed.cache() else sourceHashed
    try {
      // no orderBy → every rank is 1 by construction; a cheap empty probe on
      // the pre-shuffle source replaces the agg(max) job over the dedup
      val maxSeq =
        if (orderBy.isEmpty) {
          if (cleaned.isEmpty) return else 1
        } else {
          val maxSeqRow = cached.agg(max(col(SequenceCol))).head()
          if (maxSeqRow.isNullAt(0)) return
          maxSeqRow.getInt(0)
        }
      var targetExists = TableStore.exists(spark, target)
      var createFlag = createIfNotExists
      (maxSeq to 1 by -1).foreach { seq =>
        val batch = cached.where(col(SequenceCol) === seq).drop(SequenceCol)
        trackHistoryBatch(spark, batch, target, businessKeys, tracked,
          effectiveCol, expiryCol, currentCol, versionCol, hashCol, tsCol,
          createFlag, targetExists, allowSchemaEvolution, numBuckets)
        targetExists = true
        createFlag = false
      }
    } finally if (shouldCache) cached.unpersist()
  }

  /** One SCD2 batch (at most one row per business key):
    * close + insert computed from a single target snapshot, one rewrite.
    * (_track_history_process_batch, change_tracking.py:277-367 — the
    * reference re-reads the target between its MERGE-close and insert; here
    * both sets derive from the same snapshot, which is equivalent because
    * the close step only flips rows whose key is being replaced.)
    */
  private def trackHistoryBatch(
      spark: SparkSession,
      batch: DataFrame,
      target: String,
      businessKeys: Seq[String],
      tracked: Seq[String],
      effectiveCol: String, expiryCol: String, currentCol: String,
      versionCol: String, hashCol: String, tsCol: Column,
      createIfNotExists: Boolean, targetExists: Boolean,
      allowSchemaEvolution: Boolean, numBuckets: Option[Int]): Unit = {

    if (!targetExists) {
      require(createIfNotExists,
        s"Target '$target' does not exist and createIfNotExists=false")
      val initial = batch
        .withColumn(effectiveCol, tsCol)
        .withColumn(expiryCol, lit(null).cast("timestamp"))
        .withColumn(currentCol, lit(true))
        .withColumn(versionCol, lit(1).cast("bigint"))
      if (numBuckets.isDefined) TableStore.appendBucketed(initial, target)
      else TableStore.append(initial, target)
      return
    }

    // the close join, current-rows filter, and max-version agg all read the
    // target snapshot (pruned to the batch's buckets when bucketed); persist
    // it for this batch (overwrite below is eager, so the cache is released
    // before the method returns)
    val (tgt0, batchBuckets) = readPruned(spark, target, batch, numBuckets)
    val tgt = tgt0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      checkSchemaEvolution(
        batch.columns.filterNot(c => tgt.columns.contains(c)).toSeq,
        allowSchemaEvolution, target)

    val tMark = "__graft_t_present"
    val sMark = "__graft_s_present"

    // --- close step: expire current rows whose key arrives with a new hash
    val sKeys = batch
      .withColumn(sMark, lit(true))
    val t = tgt.withColumn(tMark, lit(true))
    val keyCondT = businessKeys.map(k => t(k) <=> sKeys(k)).reduce(_ && _)
    val closedJoin = t.join(sKeys, keyCondT, "left_outer")
    val changed = changeCond(tgt, batch, tracked, hashCol)
    val closeCond =
      t(currentCol) === lit(true) && sKeys(sMark).isNotNull && changed
    val updatedTarget = closedJoin.select(
      tgt.columns.toSeq.map {
        case c if c == expiryCol => when(closeCond, tsCol).otherwise(t(c)).as(c)
        case c if c == currentCol => when(closeCond, lit(false)).otherwise(t(c)).as(c)
        case c => t(c).as(c)
      }: _*)

    // --- insert step: batch rows with no surviving current match
    // (new key, or current row hash differs → that row was just closed)
    val cur = tgt.where(col(currentCol) === lit(true))
      .withColumn(tMark, lit(true))
    val s = batch.withColumn(sMark, lit(true))
    val keyCondS = businessKeys.map(k => cur(k) <=> s(k)).reduce(_ && _)
    val insJoin = s.join(cur, keyCondS, "left_outer")
    val curChanged = changeCond(cur, batch, tracked, hashCol)
    val rowsToInsert = insJoin
      .where(cur(tMark).isNull || curChanged)
      .select(batch.columns.toSeq.map(c => s(c).as(c)): _*)

    // version = max prior version per key (over ALL history) + 1
    val maxVer = tgt.groupBy(businessKeys.map(col): _*)
      .agg(max(col(versionCol)).as("__prev_version"))
    val toInsert = rowsToInsert
      .join(maxVer, businessKeys, "left")
      .withColumn(effectiveCol, tsCol)
      .withColumn(expiryCol, lit(null).cast("timestamp"))
      .withColumn(currentCol, lit(true))
      .withColumn(versionCol,
        (coalesce(col("__prev_version"), lit(0)).cast("bigint") + lit(1)).cast("bigint"))
      .drop("__prev_version")

      val merged = updatedTarget.unionByName(toInsert, allowMissingColumns = true)
      if (numBuckets.isDefined)
        TableStore.overwriteBuckets(spark, merged, target, batchBuckets)
      else TableStore.overwrite(spark, merged, target)
    } finally tgt.unpersist(blocking = false)
  }

  /** Unified dispatcher (apply_change_tracking, change_tracking.py:668-688). */
  def applyChangeTracking(
      spark: SparkSession,
      sourceDf: DataFrame,
      target: String,
      mode: Any,
      businessKeys: Seq[String],
      options: ChangeTrackingOptions = ChangeTrackingOptions()): Unit =
    resolveMode(mode) match {
      case CurrentOnly => currentOnlyUpsert(spark, sourceDf, target, businessKeys,
        options.trackedColumns, options.dedupeKeys, options.orderBy, options.hashCol,
        options.nullKeyPolicy, options.createIfNotExists, options.allowSchemaEvolution,
        options.numBuckets)
      case TrackHistory => trackHistoryUpsert(spark, sourceDf, target, businessKeys,
        options.trackedColumns, options.dedupeKeys, options.orderBy,
        options.effectiveCol, options.expiryCol, options.currentCol,
        options.versionCol, options.hashCol, options.loadTsExpr,
        options.nullKeyPolicy, options.createIfNotExists, options.allowSchemaEvolution,
        options.numBuckets)
    }

  /** Point-in-time snapshot of a track-history table: each business
    * key's row version that was effective AT `ts` — the time-travel read
    * the SCD2 layout exists to answer ("what did the dimension look like
    * when this training run started?"). Interval semantics are
    * `[effective_start_ts, effective_end_ts)`: a row expiring exactly at
    * `ts` is already gone, its successor (starting at `ts`) is visible —
    * so every key resolves to AT MOST ONE row for any `ts`. Keys first
    * seen after `ts` are absent. Pure filter over the partition-prunable
    * parquet — no shuffle, no window. The target is read like every merge
    * reads it ([[TableStore]]: path or catalog name, crash recovery
    * first), without the internal bucket column.
    */
  def asOf(
      spark: SparkSession,
      target: String,
      ts: org.apache.spark.sql.Column,
      effectiveCol: String = "effective_start_ts",
      expiryCol: String = "effective_end_ts"): DataFrame = {
    require(TableStore.exists(spark, target), s"asOf: '$target' does not exist")
    val df = TableStore.read(spark, target).drop(TableStore.BucketCol)
    require(df.columns.contains(effectiveCol) && df.columns.contains(expiryCol),
      s"asOf: '$target' is not a track-history table " +
        s"(missing $effectiveCol/$expiryCol)")
    df.where(col(effectiveCol) <= ts &&
      (col(expiryCol).isNull || ts < col(expiryCol)))
  }
}

/** Keyword-style options bundle for the dispatcher / fluent builder. */
final case class ChangeTrackingOptions(
    trackedColumns: Option[Seq[String]] = None,
    dedupeKeys: Option[Seq[String]] = None,
    orderBy: Seq[String] = Nil,
    effectiveCol: String = "effective_start_ts",
    expiryCol: String = "effective_end_ts",
    currentCol: String = "is_current",
    versionCol: String = "version",
    hashCol: String = "row_hash",
    loadTsExpr: Option[String] = None,
    nullKeyPolicy: String = "error",
    createIfNotExists: Boolean = true,
    allowSchemaEvolution: Boolean = false,
    /** Hash-bucket the path target by business key into this many partitions;
      * merges then read and rewrite only the buckets a batch touches. */
    numBuckets: Option[Int] = None)

/** Fluent writer, the Scala analogue of `df.write.change_tracking`
  * (change_tracking.py:117-215 — Python monkey-patches DataFrame; Scala uses
  * an implicit enrichment instead; import [[graft.ct.implicits._]]).
  *
  * {{{
  * import graft.ct.implicits._
  * df.changeTracking
  *   .mode("track_history")
  *   .businessKeys("id")
  *   .option(_.copy(orderBy = Seq("ts")))
  *   .table("/path/to/target")
  * }}}
  */
final class ChangeTrackingWriteBuilder(df: DataFrame) {
  private var modeValue: Option[Any] = None
  private var keys: Seq[String] = Nil
  private var opts: ChangeTrackingOptions = ChangeTrackingOptions()

  def mode(m: Any): this.type = { modeValue = Some(m); this }
  def businessKeys(ks: String*): this.type = { keys = ks.toSeq; this }
  def option(f: ChangeTrackingOptions => ChangeTrackingOptions): this.type = {
    opts = f(opts); this
  }

  def table(name: String): Unit = {
    val m = modeValue.getOrElse(
      throw new IllegalArgumentException("Missing required option 'change_tracking_mode'."))
    ChangeTracking.applyChangeTracking(df.sparkSession, df, name, m, keys, opts)
  }
}

object implicits {
  implicit class ChangeTrackingDataFrame(private val df: DataFrame) extends AnyVal {
    def changeTracking: ChangeTrackingWriteBuilder = new ChangeTrackingWriteBuilder(df)
  }
}
