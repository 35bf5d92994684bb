package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.{LongType, StructType, TimestampType}

/** Event-stream operators over the `events` table shape
  * (event_id, ts, user_id, event_type, value, props).
  *
  * The reference has no streaming surface (SURVEY §2.11); these are the
  * beyond-reference operators a training-data pipeline needs: watermarked
  * windowed aggregation and sessionization, each with a batch twin that
  * shares the same plan shape (`window()` works identically on a static
  * DataFrame), so the oracle-checked batch queries verify the streaming
  * semantics.
  *
  * Scale notes: both aggregations shuffle once on their grouping keys
  * (window+type / user_id); state per key is O(1). At 100 TB the windowed
  * agg gets map-side partial aggregation for free, and sessionization's
  * window functions sort within user partitions only — skew shows up only
  * if a single user dominates, which `events` keys don't.
  */
object StreamingOps {

  val EventSchema: StructType = StructType.fromDDL(
    "event_id LONG, ts TIMESTAMP, user_id LONG, event_type STRING, " +
      "value DOUBLE, props STRING")

  /** Events with `ts` normalized to nanos-since-epoch (`ts_ns`, LONG),
    * whatever physical type the parquet carries. Generators have shipped
    * the column as TIMESTAMP(NANOS) — which Spark 4's reader only
    * surfaces via the legacy nanos-as-LONG conf — and as plain
    * TIMESTAMP(MICROS)/NTZ; both land here as the same `ts_ns` contract
    * (naive micros are interpreted as UTC, matching the DuckDB oracle's
    * `epoch_us` and the UTC session timezone set by [[graft.core.Sessions]]).
    *
    * The legacy conf is session-wide and changes how EVERY later parquet
    * read surfaces nanos timestamps, so it is set only when a footer
    * probe of `path` actually finds a TIMESTAMP(NANOS) `ts` — a
    * micros-era file leaves the session untouched. (When nanos ARE
    * present the conf must stay set for the frame's whole lifetime —
    * the scan consults it at execution, not at construction, so a
    * set/restore scope around this call would break the read.)
    */
  def readEventsRaw(spark: SparkSession, path: String): DataFrame = {
    if (tsIsNanos(spark, path))
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(path)
    raw.schema("ts").dataType match {
      case LongType => raw.withColumnRenamed("ts", "ts_ns")
      case _ =>
        val cols = raw.columns.map {
          case "ts" =>
            (unix_micros(col("ts").cast(TimestampType)) * 1000L).as("ts_ns")
          case c => col(c)
        }
        raw.select(cols.toIndexedSeq: _*)
    }
  }

  /** Footer probe: does the first parquet file under `path` carry `ts`
    * as TIMESTAMP(NANOS)? Reads one footer's metadata — no data pages —
    * through the parquet-hadoop API Spark already ships.
    */
  private def tsIsNanos(spark: SparkSession, path: String): Boolean = {
    val hconf = spark.sessionState.newHadoopConf()
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(hconf)
    if (!fs.exists(root)) return false
    // RECURSIVE listing: a partitioned layout (date=…/part-*.parquet)
    // has no direct-child parquet files, and a non-recursive probe would
    // silently skip the conf and fail the read on nanos data
    val file =
      if (fs.getFileStatus(root).isDirectory) {
        val it = fs.listFiles(root, true)
        var found: Option[org.apache.hadoop.fs.Path] = None
        while (found.isEmpty && it.hasNext) {
          val p = it.next().getPath
          if (p.getName.endsWith(".parquet") && !p.getName.startsWith("_")
              && !p.getName.startsWith("."))
            found = Some(p)
        }
        found
      } else Some(root)
    file.exists { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(f, hconf))
      try {
        val schema = reader.getFooter.getFileMetaData.getSchema
        schema.containsField("ts") && {
          val t = schema.getType(schema.getFieldIndex("ts"))
          t.isPrimitive && (t.getLogicalTypeAnnotation match {
            case ts: org.apache.parquet.schema.LogicalTypeAnnotation
                .TimestampLogicalTypeAnnotation =>
              ts.getUnit ==
                org.apache.parquet.schema.LogicalTypeAnnotation.TimeUnit.NANOS
            case _ => false
          })
        }
      } finally reader.close()
    }
  }

  /** Events with `ts` converted to a proper TIMESTAMP (microsecond
    * precision — Spark's native resolution; sub-microsecond is truncated).
    */
  def readEvents(spark: SparkSession, path: String): DataFrame =
    readEventsRaw(spark, path)
      // integer `div`, not `/1000`: double division loses exactness at
      // ~1.7e15 µs magnitudes and can round up into the next microsecond
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      .drop("ts_ns")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")

  /** File-based event stream (expects micro-precision parquet, e.g. staged
    * via `readEvents(...).write.parquet`).
    */
  def readEventStream(spark: SparkSession, path: String): DataFrame =
    spark.readStream.schema(EventSchema).parquet(path)

  /** Tumbling-window per-type aggregates with a watermark. Works on both
    * static and streaming frames; `window_start` is emitted as epoch
    * seconds so results compare exactly across engines.
    */
  def windowedTypeCounts(
      events: DataFrame,
      windowLength: String = "1 hour",
      watermark: String = "2 hours"): DataFrame = {
    val src =
      if (events.isStreaming) events.withWatermark("ts", watermark) else events
    src.groupBy(window(col("ts"), windowLength), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .select(
        unix_timestamp(col("window.start")).as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))
  }

  /** Sliding-window per-type counts — [[windowedTypeCounts]]'s
    * overlapping sibling (`window(ts, length, slide)`): each event
    * lands in `length/slide` windows, the freshness-vs-smoothing dial
    * of rate dashboards ("events per trailing hour, updated every 15
    * minutes"). Same shape batch and streaming; window starts align to
    * epoch multiples of `slide` (Spark's contract, which the oracle's
    * integer-division twin reproduces exactly).
    */
  def slidingTypeCounts(
      events: DataFrame,
      windowLength: String = "1 hour",
      slide: String = "15 minutes",
      watermark: String = "2 hours"): DataFrame = {
    val src =
      if (events.isStreaming) events.withWatermark("ts", watermark) else events
    src.groupBy(window(col("ts"), windowLength, slide), col("event_type"))
      .agg(
        count(lit(1)).as("n_events"),
        round(sum(col("value")), 2).as("sum_value"))
      .select(
        unix_timestamp(col("window.start")).as("window_start"),
        col("event_type"), col("n_events"), col("sum_value"))
  }

  /** Keyed interval join — the stream-stream enrichment shape ("attach to
    * each left event the right-side events for the same key whose
    * timestamps fall in [left.ts - lookback, left.ts + lookahead]"), e.g.
    * click-to-impression attribution. Works identically on static frames
    * (plain equi-join + interval filter), which is what the oracle-checked
    * batch query and the streaming/batch equivalence spec compare.
    *
    * On streams BOTH sides get watermarks, which is what lets Spark expire
    * join state: left rows are held at most `lookahead` + watermark past
    * their event time, right rows `lookback` + watermark — bounded state
    * on unbounded streams, the non-negotiable property at 100 TB/day.
    * Inner join only (outer interval joins emit on watermark expiry and
    * change result timing, not values; add when a consumer needs it).
    *
    * Output: left columns prefixed `l_`, right columns prefixed `r_`
    * (both sides share the event schema, so prefixing is the collision
    * rule), joined on equal `keyCol`.
    *
    * Scale shape: one shuffle per side on the join key; the interval
    * predicate rides the same exchange (it is a post-join filter in
    * batch, a state-pruning condition in streaming). Skewed keys are
    * AQE-skew-join territory in batch; in streaming, key salting before
    * the join is the standard mitigation.
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      keyCol: String,
      tsCol: String = "ts",
      lookback: String = "10 minutes",
      lookahead: String = "0 seconds",
      watermark: String = "1 hour"): DataFrame = {
    val l0 = left.select(left.columns.map(c => col(c).as(s"l_$c")).toIndexedSeq: _*)
    val r0 = right.select(right.columns.map(c => col(c).as(s"r_$c")).toIndexedSeq: _*)
    val l = if (left.isStreaming) l0.withWatermark(s"l_$tsCol", watermark) else l0
    val r = if (right.isStreaming) r0.withWatermark(s"r_$tsCol", watermark) else r0
    l.join(r,
      col(s"l_$keyCol") === col(s"r_$keyCol") &&
        col(s"r_$tsCol") >= col(s"l_$tsCol") - expr(s"interval $lookback") &&
        col(s"r_$tsCol") <= col(s"l_$tsCol") + expr(s"interval $lookahead"))
  }

  /** Batch sessionization: pure window functions (lag → gap flag →
    * cumulative sum → per-session aggregate). One shuffle on user_id; the
    * idiomatic scale path for backfills — no state store involved.
    * Timestamps are epoch longs in the caller's unit (`tsCol`, `gap` in
    * the same unit) so the comparison is exact.
    */
  def sessionizeBatch(
      events: DataFrame,
      userCol: String = "user_id",
      tsCol: String = "ts_us",
      tieBreakCol: String = "event_id",
      valueCol: String = "value",
      gap: Long = 30L * 60 * 1000000L): DataFrame = {
    val order = Window.partitionBy(col(userCol))
      .orderBy(col(tsCol), col(tieBreakCol))
    val brk = when(
      col(tsCol) - lag(col(tsCol), 1).over(order) > gap, 1).otherwise(0)
    events
      .withColumn("__brk", brk)
      .withColumn("__sid", sum(col("__brk")).over(
        order.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(userCol), col("__sid"))
      .agg(
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_end"),
        count(lit(1)).as("n_events"),
        round(sum(col(valueCol)), 2).as("sum_value"))
      .drop("__sid")
  }

  /** Streaming exact dedup: drop events whose key was already seen, with
    * state bounded by the watermark (late duplicates beyond `watermark`
    * are the accepted trade for bounded state — the standard pattern for
    * unbounded streams).
    */
  def streamingDedup(
      events: DataFrame,
      keys: Seq[String],
      tsCol: String = "ts",
      watermark: String = "1 hour"): DataFrame =
    events.withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keys)

  /** Per-bucket rolling state for [[streamingNearDupFilter]]: the most
    * recent (id, simhash) entries seen in one band bucket.
    */
  case class NearDupBucketState(entries: List[(Long, Long)])

  /** Decision row emitted by [[streamingNearDupFilter]]: `dupOf` is the
    * id of a previously-seen near-duplicate, None for novel docs. A doc
    * appears once per band it lands in; downstream keeps
    * `min(dup_of)`-style any-band-flagged semantics (one groupBy).
    */
  case class NearDupDecision(id: Long, band: Int, dupOf: Option[Long])

  /** Streaming SimHash near-dup filter: flags documents whose `bits`-bit
    * simhash is within `maxHamming` of ANY previously seen document,
    * across micro-batches. The streaming twin of
    * [[graft.operators.Dedup.simhashNearDupPairs]], with the same banded
    * candidate structure: state lives per (band, band-value) bucket, so a
    * new document only compares against its bucket's entries — never the
    * whole history — and the pigeonhole guarantee (exact for
    * maxHamming < bands) carries over for every document still in state.
    *
    * State is bounded: each bucket keeps the most recent `maxPerBucket`
    * fingerprints (FIFO eviction). Docs evicted from every shared bucket
    * can no longer be matched — the standard bounded-state trade,
    * mirroring `streamingDedup`'s watermark bound. Deterministic within a
    * batch: entries process in id order.
    */
  def streamingNearDupFilter(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      bits: Int = 48,
      bands: Int = 4,
      maxHamming: Int = 3,
      maxPerBucket: Int = 256): Dataset[NearDupDecision] = {
    require(bands >= 1 && bits % bands == 0, "bits must be divisible by bands")
    require(maxHamming >= 0 && maxHamming < bands,
      "maxHamming must be < bands (pigeonhole exactness)")
    require(maxPerBucket >= 1, "maxPerBucket must be >= 1")
    val spark = docs.sparkSession
    import spark.implicits._
    val banded = docs.select(col(idCol).cast("long").as("id"),
      graft.operators.Dedup.simhash(col(textCol), bits).as("sh"))
      .select(col("id"), col("sh"),
        posexplode(graft.operators.Dedup.simhashBands(col("sh"), bits, bands))
          .as(Seq("band", "bv")))
      .as[(Long, Long, Int, Long)]
    banded.groupByKey { case (_, _, band, bv) => (band, bv) }
      .flatMapGroupsWithState[NearDupBucketState, NearDupDecision](
        OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        case ((band, _), rows, state: GroupState[NearDupBucketState]) =>
          var entries = state.getOption.map(_.entries).getOrElse(Nil)
          val out = rows.toSeq.sortBy(_._1).map { case (id, sh, _, _) =>
            val dup = entries.collectFirst {
              case (seenId, seenSh)
                if java.lang.Long.bitCount(seenSh ^ sh) <= maxHamming =>
                seenId
            }
            entries = ((id, sh) :: entries).take(maxPerBucket)
            NearDupDecision(id, band, dup)
          }
          state.update(NearDupBucketState(entries))
          out.iterator
      }
  }

  /** `foreachBatch` over the non-empty micro-batches of `stream`: the
    * one place the sinks here (and [[StatLog.sink]]) skip a trigger that
    * delivered no rows, so an empty batch writes nothing.
    */
  private[streaming] def foreachNonEmptyBatch(stream: DataFrame)(
      write: (DataFrame, Long) => Unit): DataStreamWriter[Row] =
    stream.writeStream.foreachBatch { (batch: Dataset[Row], batchId: Long) =>
      if (!batch.isEmpty) write(batch.toDF(), batchId)
    }

  /** Stream documents into a continuously-deduped corpus: each micro-batch
    * dedups within itself, then against the persisted MinHash signature
    * index at `indexPath`; survivors append to `corpusPath` and their
    * already-computed signature rows append to the index — the streaming
    * face of [[graft.operators.DedupIndex.ingestBatch]]. The historical
    * corpus is never re-read or re-hashed; per-batch cost is O(batch).
    *
    * Delivery semantics (at-least-once, corpus-before-index): a crash
    * between the two appends can leave a batch's survivors in the corpus
    * but not the index, so a replay re-appends them — duplicates, which a
    * downstream [[graft.operators.Dedup.exactDedup]] heals. The reverse
    * order would instead silently DROP those documents on replay (the
    * index would suppress them), so duplicate-over-loss is the chosen
    * trade. A fully-replayed batch whose index write committed is
    * self-suppressing: every doc matches the index, survivors are empty.
    */
  def dedupIngestSink(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      corpusPath: String,
      indexPath: String,
      numPerms: Int = 16,
      bands: Int = 4,
      shingleSize: Int = 3,
      threshold: Double = 0.5)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    foreachNonEmptyBatch(docs) { (batch, _) =>
      val spark = batch.sparkSession
      // the ingest chain persists per-batch intermediates (signature
      // rows, matched ids, component checkpoints inside dedupCorpus)
      // with session lifetime — on an unbounded stream that is one
      // leaked cache entry per micro-batch. A Caches scope records
      // exactly what THIS batch pins (a global getPersistentRDDs diff
      // would also catch RDDs pinned concurrently by other queries on
      // the shared context); the release frees precisely that set once
      // the batch's writes commit, and collectPins itself frees it when
      // the batch throws.
      val (_, pins) = graft.core.Caches.collectPins {
        val p = new org.apache.hadoop.fs.Path(indexPath)
        val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
        // existence alone is not readiness: a first batch of only
        // signature-less (empty-text) docs appends ZERO index rows,
        // leaving a parquet dir with no data files that
        // spark.read.parquet can never infer a schema from — probe for
        // an actual data file (early-exit iteration, not a full listing)
        def hasIndexData: Boolean = fs.exists(p) && {
          val it = fs.listFiles(p, true)
          var found = false
          while (!found && it.hasNext) {
            val f = it.next()
            found = f.getLen > 0 && f.getPath.getName.endsWith(".parquet")
          }
          found
        }
        val index =
          if (hasIndexData) // loadIndex: validates the stored build
            // params (bands/shingleSize drift is a loud error)
            graft.operators.DedupIndex.loadIndex(
              spark, indexPath, numPerms, bands, shingleSize)
          else // bootstrap: empty index with the right schema
            graft.operators.DedupIndex.indexRowsFor(
              batch.limit(0), idCol, textCol, numPerms, bands, shingleSize)
        val (survivors, newRows) = graft.operators.DedupIndex.ingestBatch(
          batch, idCol, textCol, index, numPerms, bands, shingleSize,
          threshold)
        // survivors and newRows share the persisted signature rows
        // inside ingestBatch — the batch text is hashed exactly once
        survivors.write.mode("append").parquet(corpusPath)
        graft.operators.DedupIndex.writeIndex(newRows, indexPath,
          numPerms, bands, shingleSize)
      }
      pins.release()
    }

  /** Stream documents into a segmented BM25 search index: each micro-batch
    * becomes one committed segment ([[graft.operators.Search.appendSegment]])
    * named by its batch id, so the sink is IDEMPOTENT under foreachBatch's
    * at-least-once replay — a replayed batch finds `seg_b<id>` already
    * committed and skips, the standard exactly-once-by-naming pattern.
    * Queries ([[graft.operators.Search.searchIndex]]) see every committed
    * segment immediately; scores stay bit-identical to a from-scratch
    * rebuild over everything ingested.
    *
    * Run [[graft.operators.Search.compactSegments]] as maintenance only
    * when the stream's checkpoint has advanced past every ingested batch:
    * compaction renames batch segments away, so a replay of a
    * pre-compaction batch would re-append it (duplicate postings — same
    * between-ingests caveat as [[graft.operators.DedupIndex.compactIndex]]).
    */
  def searchIndexSink(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      indexPath: String,
      numBuckets: Int = 64,
      lowercase: Boolean = true)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    foreachNonEmptyBatch(docs) { (batch, batchId) =>
      graft.operators.Search.appendSegment(
        batch, idCol, textCol, indexPath, numBuckets, lowercase,
        segmentName = Some(f"seg_b$batchId%012d"))
    }

  /** Stream documents through exact repeated-substring dedup: each
    * micro-batch has spans already present in the window-hash index at
    * `indexPath` (or repeated within the batch) CUT OUT
    * ([[graft.operators.ExactSubstrings]]), the cleaned rows append to
    * `corpusPath`, and the batch's original window hashes append to the
    * index. History is never re-read; per-batch cost is O(batch).
    *
    * Delivery semantics (at-least-once, corpus-before-index — the same
    * trade as [[dedupIngestSink]]): a crash between the corpus append
    * and the index append re-cleans the batch against the PRE-batch
    * index on replay and appends the same cleaned rows again —
    * duplicates, healed downstream by
    * [[graft.operators.Dedup.exactDedup]]. The reverse order would
    * instead cut a replayed batch against its own hashes and lose its
    * content silently, which is why the corpus write goes first. A
    * fully-replayed batch whose index write DID commit is
    * self-suppressing for every ≥ w-token doc (all windows match, all
    * docs cut to empty and fully-cut docs never append); sub-`w` docs
    * duplicate on that path, healed the same way.
    */
  def substrIngestSink(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      corpusPath: String,
      indexPath: String,
      w: Int = 10,
      salt: String = "graft-es",
      buckets: Int = 64)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    foreachNonEmptyBatch(docs) { (batch, _) =>
      val es = graft.operators.ExactSubstrings
      // scope the per-batch checkpoint + window-row pin exactly like
      // dedupIngestSink: one leaked pin per micro-batch is an
      // unbounded-stream leak
      val (_, pins) = graft.core.Caches.collectPins {
        // the pinned window rows serve the probe, the within-batch
        // scan AND the index delta — the batch text hashes once
        val (wins, spans) = es.winsAndSpans(batch, indexPath,
          idCol, textCol, w, salt, buckets, broadcastBatch = true)
        graft.core.Caches.holding { held =>
          // materialize BEFORE either append: the probe re-lists the
          // index directory at execution time (see ingestBatch)
          val cleaned = held(es.cutSpans(batch, spans, idCol, textCol))
          // fully-cut documents (everything they carried was already
          // in the corpus) are DROPPED, not appended as empty rows —
          // which also makes a fully-replayed batch whose index write
          // committed self-suppressing: every window matches, every
          // doc cuts to empty, nothing re-appends (the same property
          // dedupIngestSink gets from its survivors-only append).
          // Sub-w-token docs have no windows to match and duplicate
          // on such a replay — healed downstream by exactDedup, the
          // documented at-least-once trade.
          cleaned.where(!(col("kept_text") === "" &&
              col("removed_tokens") > 0))
            .write.mode("append").parquet(corpusPath)
          es.writeSubstrIndex(
            wins.select("__hb", "__h1", "__h2").distinct(),
            indexPath, w, salt, buckets)
          cleaned // the batch scope releases it below
        }
      }
      pins.release()
    }

  /** Stream into a mergeable-sketch STORE: each micro-batch reduces to
    * one sketch row per group via `sketchBatch` (any of the
    * [[graft.operators.Sketches]] builders, partially applied — distinct
    * HLL, frequent items, KLL quantiles, theta) and appends under a
    * `__batch_id` partition. The incremental-analytics face of the
    * store-fine/roll-up-coarse pattern: "distinct users per (day, source)
    * across a year of ingest" reads the sketch store and merges — history
    * is never rescanned, and any `Sketches.rollup*` works unchanged on
    * the store because rollups group by the sketch key columns and
    * simply merge across `__batch_id` rows.
    *
    * EXACTLY-ONCE by partition overwrite: a replayed batch dynamically
    * overwrites its own `__batch_id=<id>` partition, so at-least-once
    * foreachBatch delivery cannot double-count (HLL/theta unions would
    * forgive a duplicate row; frequent/KLL merges would NOT — the
    * overwrite protects all four kinds).
    */
  def sketchStoreSink(
      stream: DataFrame,
      sketchBatch: DataFrame => DataFrame,
      storePath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    foreachNonEmptyBatch(stream) { (batch, batchId) =>
      writeSketchBatch(sketchBatch(batch), storePath, batchId)
    }

  /** One sketch-store batch commit ([[sketchStoreSink]]'s write path,
    * factored out so replay idempotency is directly testable). */
  private[graft] def writeSketchBatch(
      sketches: DataFrame, storePath: String, batchId: Long): Unit =
    sketches
      .withColumn("__batch_id", org.apache.spark.sql.functions.lit(batchId))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("__batch_id").parquet(storePath)

  /** Continuous WARC ingestion: a stream of ARRIVED FILE PATHS (the
    * crawl frontier's "shard landed" feed) parses each batch's archives
    * through [[graft.io.warc.Warc.readWarc]] and commits the records
    * under a `__batch_id` partition with dynamic partition overwrite —
    * the [[sketchStoreSink]] exactly-once recipe: a replayed batch
    * rewrites ITS OWN partition instead of appending duplicates.
    *
    * The per-batch driver collect is the batch's file-path list (names,
    * not contents — bounded by the trigger's file cadence); record
    * parsing and the parquet write stay distributed, one task per
    * archive file (the WARC split unit).
    */
  def warcIngestSink(
      files: DataFrame,
      pathCol: String,
      corpusPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    foreachNonEmptyBatch(files) { (batch, batchId) =>
      writeWarcBatch(batch, pathCol, corpusPath, batchId)
    }

  /** One WARC-ingest batch commit (factored out so replay idempotency is
    * directly testable). */
  private[graft] def writeWarcBatch(
      batch: DataFrame, pathCol: String, corpusPath: String, batchId: Long): Unit = {
    val spark = batch.sparkSession
    val paths = batch
      .select(org.apache.spark.sql.functions.col(pathCol).cast("string"))
      .where(org.apache.spark.sql.functions.col(pathCol).isNotNull)
      .distinct().collect().map(_.getString(0)) // bounded: file NAMES
    // the multi-path read joins on "," (Hadoop's list syntax) — a comma
    // INSIDE a path would silently split into two bogus paths
    paths.find(_.contains(",")).foreach(p => throw new IllegalArgumentException(
      s"warcIngestSink: path contains a comma (unsupported): $p"))
    if (paths.nonEmpty)
      graft.io.warc.Warc.readWarc(spark, paths.mkString(","))
        .withColumn("__batch_id", org.apache.spark.sql.functions.lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__batch_id").parquet(corpusPath)
  }

  /** Stream into an SCD target: every micro-batch runs one change-tracking
    * upsert (mode 1 = current-only, mode 2 = track-history). Batch ids are
    * recorded nowhere — idempotency relies on the upsert itself (replaying
    * a batch re-merges the same rows to the same state, so at-least-once
    * delivery is safe as long as `loadTsExpr` is stable per batch).
    */
  def scdSink(
      stream: DataFrame,
      target: String,
      mode: Any,
      businessKeys: Seq[String],
      options: graft.ct.ChangeTrackingOptions = graft.ct.ChangeTrackingOptions())
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    foreachNonEmptyBatch(stream) { (batch, _) =>
      graft.ct.ChangeTracking.applyChangeTracking(
        batch.sparkSession, batch, target, mode, businessKeys, options)
    }

  /** Stream events into a funnel matched-event log — the streaming twin
    * of [[graft.operators.Funnels.funnelUsers]]. Each micro-batch keeps
    * only its step-matching `(user, __step, __ts)` rows (the funnel's
    * sufficient statistic — a selective-predicate-sized slice of the
    * firehose, ONE pass over the batch) and lands them in a directory
    * named by the batch id, so foreachBatch's at-least-once replay
    * OVERWRITES the same bytes instead of duplicating — the
    * [[searchIndexSink]] exactly-once-by-naming pattern.
    * [[funnelUsersFromLog]] then equals the batch funnel over every
    * event ever delivered, under ANY cross-batch arrival order: a late
    * step-1 event still re-orders against retained step-2 candidates,
    * which no folded per-step state could reproduce.
    */
  def funnelLogSink(
      events: DataFrame,
      logPath: String,
      userCol: String,
      tsCol: String,
      steps: Seq[(String, org.apache.spark.sql.Column)])
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    StatLog.sink(events, logPath, "distinct") { (batch, _) =>
      graft.operators.Funnels.matchedStepEvents(batch, userCol, tsCol, steps)
    }

  /** The standing funnel over everything [[funnelLogSink]] ingested.
    * Duplicate matched rows (an event delivered under two batch ids)
    * are harmless: the funnel is min-aggregate-shaped, so duplicates
    * change no reach time.
    */
  def funnelUsersFromLog(
      spark: SparkSession,
      logPath: String,
      userCol: String,
      stepNames: Seq[String],
      withinSeconds: Option[Long] = None): DataFrame =
    graft.operators.Funnels.funnelUsersFromMatched(
      StatLog.read(spark, logPath),
      userCol, stepNames, withinSeconds)

  /** Stream events into a cohort-retention activity log — the streaming
    * twin of [[graft.operators.Funnels.cohortRetention]]. Per batch the
    * events reduce to distinct `(__u, __p)` (user, period) pairs —
    * retention's sufficient statistic, bounded by users × periods, not
    * events — landed under the batch id with the same
    * overwrite-by-naming idempotency as [[funnelLogSink]].
    */
  def retentionLogSink(
      events: DataFrame,
      logPath: String,
      userCol: String,
      tsCol: String,
      periodDays: Int = 7)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    StatLog.sink(events, logPath, "distinct") { (batch, _) =>
      graft.operators.Funnels.activityPairs(batch, userCol, tsCol, periodDays)
    }

  /** The standing retention curve over everything [[retentionLogSink]]
    * ingested — [[graft.operators.Funnels.retentionFromPairs]] distincts
    * the union, so cross-batch duplicate pairs are exact no-ops.
    */
  def cohortRetentionFromLog(
      spark: SparkSession, logPath: String): DataFrame =
    graft.operators.Funnels.retentionFromPairs(
      StatLog.read(spark, logPath))

  /** Compact a stat log written by any of this family's sinks (every
    * sink built on [[StatLog.sink]]): fold the accumulated
    * per-batch directories into one versioned `batch=c<seq>` partition,
    * erasing the directory fan-out (a year of micro-batches is ~10⁵
    * directories of tiny files — the classic small-file decay).
    *
    * Safe to run at ANY time against a LIVE sink: the fold is additive
    * (only an explicit snapshot of complete batch directories is folded
    * and deleted; a micro-batch landing mid-fold is never touched), and
    * the fold law is the one the sink recorded at construction —
    * `distinct` for the duplicate-insensitive logs, count-sum for
    * [[comboCountSink]], fingerprint-merge for [[fingerprintSink]] —
    * so sum-mergeable rows are aggregated, never distinct-collapsed.
    * See [[StatLog]] for the layout, marker, and replay-exclusion
    * contract. Single concurrent compaction per log.
    */
  def compactStatLog(
      spark: SparkSession,
      logPath: String,
      targetFileBytes: Long = 128L << 20): Unit =
    StatLog.compact(spark, logPath, targetFileBytes)

  /** Stream documents into a standing [[graft.operators.Packing]] shard
    * layout: each micro-batch lands deficit-targeted
    * ([[graft.operators.Packing.appendToShards]]) so the nightly stream
    * keeps the shards token-balanced instead of drifting. Delivery is
    * the appendToShards contract — at-least-once (a replayed batch
    * re-appends; dedup by id downstream), manifest recertified after
    * every batch so readers always see certified totals.
    */
  def shardIngestSink(
      docs: DataFrame,
      layoutPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    foreachNonEmptyBatch(docs) { (batch, _) =>
      graft.operators.Packing.appendToShards(batch, layoutPath)
    }

  /** Stream a corpus's replication fingerprint: each micro-batch's
    * [[graft.operators.Validation.corpusFingerprint]] (one tiny row)
    * lands under its batch id — the [[funnelLogSink]] overwrite-by-
    * naming idempotency — and
    * [[graft.operators.Validation.mergeFingerprints]] over the log
    * equals the one-shot fingerprint of everything ingested (exact
    * merge law). The CORPUS is touched once per batch at arrival; the
    * audit-time merge reads only batches-many fingerprint rows.
    */
  def fingerprintSink(
      docs: DataFrame,
      cols: Seq[String],
      logPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    StatLog.sink(docs, logPath, "fingerprint") { (batch, _) =>
      graft.operators.Validation.corpusFingerprint(batch, cols)
    }

  /** The standing replication fingerprint over everything
    * [[fingerprintSink]] ingested — the exact merge of every delivered
    * batch's fingerprint row (folded partitions merge identically, so
    * this is compaction-invariant).
    */
  def fingerprintFromLog(spark: SparkSession, logPath: String): DataFrame =
    graft.operators.Validation.mergeFingerprints(StatLog.read(spark, logPath))

  /** Stream quasi-identifier combination counts — the k-anonymity
    * twin's sufficient statistic: per batch, (quasi…, `__kcnt`) rows
    * (counts are SUM-mergeable, so the log is combos-sized per batch,
    * never events-sized) under the batch-id overwrite idempotency of
    * [[funnelLogSink]]. [[passingCombosFromLog]] then yields exactly
    * the combinations [[graft.operators.Validation.kAnonymity]] would
    * keep over everything delivered — semi-join the corpus against it
    * (null-safe on the quasi columns) to apply the gate.
    */
  def comboCountSink(
      events: DataFrame,
      quasiCols: Seq[String],
      logPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(quasiCols.nonEmpty, "quasiCols must be non-empty")
    StatLog.sink(events, logPath, "sum") { (batch, _) =>
      batch.groupBy(quasiCols.map(col): _*).agg(count(lit(1)).as("__kcnt"))
    }
  }

  /** [[StatLog.readSum]] of a `sum` log whose cells are keyed by exactly
    * `cellCols`. The fold groups by the log's own columns, so a reader
    * naming fewer keys than its sink wrote would get unrolled-up cells —
    * refused instead.
    */
  private def readSumOf(
      spark: SparkSession, logPath: String, cellCols: Seq[String]): DataFrame = {
    val cells = StatLog.readSum(spark, logPath)
    require(cells.columns.toSet == cellCols.toSet + "__kcnt",
      s"stat log '$logPath' holds cells (${cells.columns.mkString(", ")}); " +
        s"the reader expects (${cellCols.mkString(", ")}, __kcnt) — pass the sink's keys")
    cells
  }

  /** Combinations whose TOTAL delivered count reaches `k` — the
    * standing k-anonymity pass list over a [[comboCountSink]] log.
    */
  def passingCombosFromLog(
      spark: SparkSession,
      logPath: String,
      quasiCols: Seq[String],
      k: Long): DataFrame =
    readSumOf(spark, logPath, quasiCols)
      .select(quasiCols.map(col) :+ col("__kcnt").as("n"): _*)
      .where(col("n") >= k)

  /** Stream distinct (quasi…, sensitive) pairs — the l-diversity twin's
    * sufficient statistic (distinct-union-mergeable, the
    * [[retentionLogSink]] law); [[diverseCombosFromLog]] equals the
    * batch [[graft.operators.Validation.lDiversity]] combo judgment
    * over everything delivered. Null sensitive values are dropped at
    * the sink — they carry no diversity on either engine.
    */
  def diversityPairSink(
      events: DataFrame,
      quasiCols: Seq[String],
      sensitiveCol: String,
      logPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(quasiCols.nonEmpty, "quasiCols must be non-empty")
    StatLog.sink(events, logPath, "distinct") { (batch, _) =>
      batch.where(col(sensitiveCol).isNotNull)
        .select((quasiCols :+ sensitiveCol).map(col): _*)
        .distinct()
    }
  }

  /** Combinations carrying at least `l` distinct delivered sensitive
    * values — the standing l-diversity pass list.
    */
  def diverseCombosFromLog(
      spark: SparkSession,
      logPath: String,
      quasiCols: Seq[String],
      sensitiveCol: String,
      l: Long): DataFrame =
    StatLog.read(spark, logPath)
      .distinct()
      .groupBy(quasiCols.map(col): _*)
      .agg(countDistinct(col(sensitiveCol)).as("diversity"))
      .where(col("diversity") >= l)

  /** Stream two-rater label pairs into a sum-mergeable AGREEMENT log:
    * Cohen's kappa reads only the (a, b) contingency cells, which are
    * additive — per batch one bounded cells table under the stat-log
    * `sum` law (categories², not rows). [[kappaFromLog]] then equals
    * the batch [[graft.operators.Validation.cohenKappa]] over every
    * delivered pair — continuous annotator/model-agreement monitoring.
    * NULL labels are categories (the batch convention) and survive the
    * log under `__a_null`/`__b_null` flags.
    */
  def kappaLogSink(
      events: DataFrame,
      raterACol: String,
      raterBCol: String,
      logPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    StatLog.sink(events, logPath, "sum") { (batch, _) =>
      batch
        .groupBy(col(raterACol).cast("string").as("__a"),
          col(raterBCol).cast("string").as("__b"))
        .agg(count(lit(1)).as("__kcnt"))
        .select(col("__a"), col("__b"),
          col("__a").isNull.as("__a_null"),
          col("__b").isNull.as("__b_null"), col("__kcnt"))
    }

  /** The folded contingency cells of a [[kappaLogSink]] log — the
    * shared sufficient statistic behind both standing agreement stats.
    */
  private def contingencyCellsFromLog(
      spark: SparkSession, logPath: String): DataFrame =
    StatLog.readSum(spark, logPath)
      .select(
        when(col("__a_null"), lit(null)).otherwise(col("__a")).as("__a"),
        when(col("__b_null"), lit(null)).otherwise(col("__b")).as("__b"),
        col("__kcnt").as("__nab"))

  /** The standing Cohen's kappa over everything delivered to a
    * [[kappaLogSink]] log — same output row as the batch operator.
    */
  def kappaFromLog(spark: SparkSession, logPath: String): DataFrame =
    graft.operators.Validation.cohenKappaFromCells(
      contingencyCellsFromLog(spark, logPath))

  /** The standing chi-squared independence test + Cramér's V over the
    * SAME [[kappaLogSink]] contingency log — the cells are the shared
    * sufficient statistic, so one streamed sink serves both "do the
    * raters agree" (kappa) and "are the two columns associated at all"
    * (chi², effect size V); same output row as the batch
    * [[graft.operators.Validation.chiSquaredIndependence]].
    */
  def chiSquaredFromLog(spark: SparkSession, logPath: String): DataFrame =
    graft.operators.Validation.chiSquaredFromCells(
      contingencyCellsFromLog(spark, logPath))

  /** The standing Spearman rank correlation over the SAME
    * [[kappaLogSink]] contingency log — when the two logged columns
    * are integral SCORES rather than categories, the joint cells are
    * also rank correlation's sufficient statistic, so one streamed
    * sink now serves kappa ("do they agree exactly"), chi² ("are they
    * associated at all") and ρ ("do they agree MONOTONICALLY").
    * Values must be integral and non-NULL (the
    * [[cliffsDeltaFromLogs]] contract — the log's strings must cast
    * back to longs losslessly; anything else is refused loudly).
    * Same output row as the batch
    * [[graft.operators.Validation.spearmanFromCells]].
    */
  def spearmanFromLog(spark: SparkSession, logPath: String): DataFrame = {
    // try_cast, not cast: ANSI mode throws mid-executor on a
    // categorical log; the contract check below refuses loudly instead
    val cells = contingencyCellsFromLog(spark, logPath)
      .select(col("__a"), col("__b"),
        expr("try_cast(__a AS LONG)").as("__x"),
        expr("try_cast(__b AS LONG)").as("__y"), col("__nab").as("__n"))
    val bad = cells.agg(count(when(col("__a").isNull ||
      col("__b").isNull || col("__x").isNull || col("__y").isNull ||
      col("__x").cast("string") =!= col("__a") ||
      col("__y").cast("string") =!= col("__b"), 1)).as("__bad"))
      .head().getAs[Long]("__bad")
    require(bad == 0L,
      s"spearmanFromLog: $logPath carries $bad NULL or non-integral " +
        "cell(s) — rank correlation needs integral scores; quantize " +
        "before the sink")
    graft.operators.Validation.spearmanFromCells(
      cells.select(col("__x"), col("__y"), col("__n")))
  }

  /** Streamed per-(unit, value) rating counts — Krippendorff's alpha's
    * SUM-MERGEABLE sufficient statistic (the coincidence recipe reads
    * only how many times each unit received each value, and counts of
    * a union of batches are the summed union of their counts). Late
    * ratings for an already-seen unit fold in exactly: the unit's
    * pairable mass is recomputed from the TOTAL counts at read time,
    * not frozen per batch. NULL units/values are logged with flags and
    * refused loudly at fold time (the batch operator's abstention
    * contract — a silent NULL category would manufacture agreement).
    */
  def ratingLogSink(
      events: DataFrame,
      unitCol: String,
      valueCol: String,
      logPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    StatLog.sink(events, logPath, "sum") { (batch, _) =>
      batch
        .groupBy(col(unitCol).cast("string").as("__u"),
          col(valueCol).cast("string").as("__v"))
        .agg(count(lit(1)).as("__kcnt"))
        .select(col("__u"), col("__v"),
          col("__u").isNull.as("__u_null"),
          col("__v").isNull.as("__v_null"), col("__kcnt"))
    }

  /** Streamed per-(slice, term) token counts — the SUM-MERGEABLE
    * sufficient statistic behind BOTH standing slice comparators
    * (term-count cosine mirror detection and Jensen–Shannon drift):
    * the counts of a union of corpus batches are the summed union of
    * their counts, so a nightly snapshot stream folds into the exact
    * batch statistics at any point. NULL-keyed rows drop at the sink
    * (the batch operators' convention — they can never join). Slice
    * cardinality is the caller's contract, enforced loudly by the
    * readers' `maxSlices` guard at fold time.
    */
  def termCountSink(
      events: DataFrame,
      keyCol: String,
      textCol: String,
      logPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    StatLog.sink(events, logPath, "sum") { (batch, _) =>
      graft.operators.TextAnalysis.sliceTermCounts(batch, keyCol, textCol)
        // __kcnt is the StatLog fold contract's count column
        .withColumnRenamed("__c", "__kcnt")
    }

  private def termCountsFromLog(
      spark: SparkSession, logPath: String): DataFrame =
    StatLog.readSum(spark, logPath).withColumnRenamed("__kcnt", "__c")

  /** Standing slice-mirror detection (term-count cosine) over
    * everything delivered to a [[termCountSink]] log — same output
    * rows as the batch [[graft.operators.TextAnalysis.sourceSimilarity]].
    */
  def sourceSimilarityFromLog(
      spark: SparkSession, logPath: String,
      maxSlices: Int = 1024): DataFrame =
    graft.operators.TextAnalysis.sourceSimilarityFromCounts(
      termCountsFromLog(spark, logPath), maxSlices)

  /** Standing vocabulary richness/coverage (Chao1 + Good–Turing) over
    * the SAME [[termCountSink]] log — the third consumer of one
    * term-count sink: same values as the batch
    * [[graft.operators.TextAnalysis.vocabularyCoverage]] on the union
    * of delivered batches (type counts are sum-mergeable; f1/f2 derive
    * from the FOLDED counts, so cross-batch growth is handled exactly).
    * Output key column is `__k`.
    */
  def vocabularyCoverageFromLog(
      spark: SparkSession, logPath: String): DataFrame =
    graft.operators.TextAnalysis.vocabularyCoverageFromCounts(
      termCountsFromLog(spark, logPath))

  /** Standing Jensen–Shannon corpus drift over the SAME
    * [[termCountSink]] log — same output rows as the batch
    * [[graft.operators.TextAnalysis.sliceDivergence]].
    */
  def sliceDivergenceFromLog(
      spark: SparkSession, logPath: String,
      maxSlices: Int = 1024): DataFrame =
    graft.operators.TextAnalysis.sliceDivergenceFromCounts(
      termCountsFromLog(spark, logPath), maxSlices)

  /** The standing Krippendorff's alpha over everything delivered to a
    * [[ratingLogSink]] log — same output row as the batch
    * [[graft.operators.Validation.krippendorffAlpha]].
    */
  def krippendorffFromLog(spark: SparkSession, logPath: String): DataFrame = {
    val folded = StatLog.readSum(spark, logPath).withColumnRenamed("__kcnt", "__c")
    val bad = folded.agg(count(when(col("__u_null") || col("__v_null"), 1))
      .as("__bad")).head().getAs[Long]("__bad")
    require(bad == 0L,
      s"krippendorffFromLog: $logPath carries $bad NULL unit/rating " +
        "cell(s) — an abstention is an absent row, not a NULL rating")
    graft.operators.Validation.krippendorffFromCounts(
      folded.select(col("__u"), col("__v"), col("__c")))
  }

  /** Standing Cliff's delta between two [[valueCountSink]] logs (A =
    * treatment, B = control) — per-distinct-value counts are the
    * effect size's sufficient statistic, so the same sinks that feed
    * [[ksFromLogs]] serve "how BIG is the shift" next to KS's "is
    * there one". Values must be integral (the batch contract — a
    * fractional or NULL logged value is refused loudly; the log's
    * doubles are exact for integers within 2^53).
    */
  def cliffsDeltaFromLogs(
      spark: SparkSession,
      logA: String,
      logB: String): DataFrame = {
    def side(path: String, out: String): DataFrame = {
      val c = StatLog.readSum(spark, path).withColumnRenamed("__kcnt", "__c")
      val bad = c.agg(
        count(when(col("__is_null") ||
          col("__v") =!= col("__v").cast("long").cast("double"), 1))
          .as("__b")).head().getAs[Long]("__b")
      require(bad == 0L,
        s"cliffsDeltaFromLogs: $path logged $bad NULL or fractional " +
          "value row(s) — the effect size is defined over integral " +
          "micros; quantize upstream of the sink")
      c.select(col("__v").cast("long").as("__v"), col("__c").as(out))
    }
    val a = side(logA, "__ca")
    val b = side(logB, "__cb")
    graft.operators.Validation.cliffsDeltaFromCounts(
      a.join(b, Seq("__v"), "full_outer")
        .select(col("__v"), coalesce(col("__ca"), lit(0L)).as("__ca"),
          coalesce(col("__cb"), lit(0L)).as("__cb")))
  }

  /** Stream first-digit counts into a sum-mergeable Benford log — ten
    * cells per micro-batch (digits 1–9 plus the out-counted
    * non-positive/NULL bucket), the entire sufficient statistic of
    * [[graft.operators.Validation.benfordAudit]].
    */
  def benfordLogSink(
      events: DataFrame,
      valueCol: String,
      logPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    StatLog.sink(events, logPath, "sum") { (batch, _) =>
      graft.operators.Validation.benfordDigitCounts(batch, valueCol)
        .select(col("digit").as("__d"), col("n").as("__kcnt"))
    }

  /** The standing Benford first-digit audit over a [[benfordLogSink]]
    * log — same output rows as the batch operator.
    */
  def benfordFromLog(spark: SparkSession, logPath: String): DataFrame =
    graft.operators.Validation.benfordFromCounts(
      StatLog.readSum(spark, logPath)
        .select(col("__d").as("digit"), col("__kcnt").as("n")))

  /** Stream a keyed integer time series into a replayable point log
    * for the standing CUSUM monitor: CUSUM is ORDER-dependent (no
    * finite mergeable summary exists), so the log IS the points —
    * compacted to `(key, ts, value, count)` cells per micro-batch
    * (duplicate points fold; the stat-log `sum` law holds because
    * replay re-expands counts). [[cusumFromLog]] then equals the batch
    * operator over everything delivered.
    */
  def cusumPointSink(
      events: DataFrame,
      keyCol: String,
      tsCol: String,
      valueCol: String,
      logPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    StatLog.sink(events, logPath, "sum") { (batch, _) =>
      batch
        .groupBy(col(keyCol).cast("string").as("__k"),
          col(tsCol).cast("long").as("__t"),
          col(valueCol).cast("long").as("__x"))
        .agg(count(lit(1)).as("__kcnt"))
    }

  /** The standing CUSUM scores over a [[cusumPointSink]] log — the
    * folded point cells re-expand (equal points are interchangeable in
    * the prefix recursion, so the multiset of scores is exact) and run
    * through the batch operator.
    */
  def cusumFromLog(
      spark: SparkSession,
      logPath: String,
      target: Long,
      slack: Long,
      threshold: Long): DataFrame = {
    val pts = StatLog.readSum(spark, logPath)
      .select(col("__k"), col("__t"), col("__x"),
        explode(expr("sequence(1, __kcnt)")).as("__i"))
      .drop("__i")
    graft.operators.Timeseries.cusumChangepoints(
      pts, Seq("__k"), "__t", "__x", target, slack, threshold)
  }

  /** Stream a numeric column's distinct-value counts into a
    * sum-mergeable log — the sufficient statistic for the two-sample
    * KS drift gate ([[graft.operators.Validation.ksStatistic]] reads
    * only per-value counts, which are additive). Run one sink per
    * slice (e.g. last week's traffic vs this week's) and compare the
    * standing logs with [[ksFromLogs]] whenever the monitor asks —
    * continuous bin-free drift detection. NULL values are logged
    * under a reserved `__is_null` row so the null-rate survives the
    * fold (the batch twin reports it too).
    */
  def valueCountSink(
      events: DataFrame,
      valueCol: String,
      logPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    StatLog.sink(events, logPath, "sum") { (batch, _) =>
      batch
        .groupBy(col(valueCol).cast("double").as("__v"))
        .agg(count(lit(1)).as("__kcnt"))
        .select(col("__v"), col("__v").isNull.as("__is_null"), col("__kcnt"))
    }

  /** The standing two-sample KS statistic between two [[valueCountSink]]
    * logs — equal to the batch
    * [[graft.operators.Validation.ksStatistic]] over everything each
    * sink delivered (same output columns, same exactness).
    */
  def ksFromLogs(
      spark: SparkSession,
      beforeLog: String,
      afterLog: String): DataFrame =
    graft.operators.Validation.ksFromValueCounts(
      StatLog.readSum(spark, beforeLog).withColumnRenamed("__kcnt", "__c"),
      StatLog.readSum(spark, afterLog).withColumnRenamed("__kcnt", "__c"))

  /** Stream rows into a KEYED per-(group, micro-value) count log — the
    * sum-mergeable cells [[graft.operators.Validation.trimmedMean]] is
    * computed FROM (the [[valueCountSink]] shape with group keys):
    * each micro-batch writes its `(keyCols…, __v, __kcnt)` partial
    * counts under the stat-log `sum` fold law, built by the batch
    * operator's own cell builder
    * ([[graft.operators.Validation.microValueCounts]]).
    * [[trimmedMeanFromLog]] replays the batch rank/band back end over
    * the folded log, EQUAL to the batch operator over everything
    * delivered — the standing robust-central-tendency monitor (per-
    * source latency/score/length dashboards) with no raw-row retention.
    * NULL, NaN, ±Inf and |v| ≥ 9.2e12 values are refused per batch
    * (the batch operator's loud contract); NULL group keys are a group,
    * as in batch.
    */
  def trimmedMeanSink(
      events: DataFrame,
      keyCols: Seq[String],
      valueCol: String,
      logPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(keyCols.nonEmpty, "keyCols must be non-empty")
    StatLog.sink(events, logPath, "sum") { (batch, batchId) =>
      graft.operators.Validation.microValueCounts(batch, keyCols, valueCol,
          s"trimmedMeanSink batch $batchId")
        .withColumnRenamed("__c", "__kcnt")
    }
  }

  /** The standing per-group trimmed mean over a [[trimmedMeanSink]] log
    * — equal to the batch [[graft.operators.Validation.trimmedMean]]
    * over everything the sink delivered (same output columns, same
    * exactness: both ride the shared value-counts core, so the
    * equality is by construction, not by parallel implementation).
    */
  def trimmedMeanFromLog(
      spark: SparkSession,
      logPath: String,
      keyCols: Seq[String],
      trim: Double = 0.1): DataFrame =
    graft.operators.Validation.trimmedMeanFromValueCounts(
      readSumOf(spark, logPath, keyCols :+ "__v").withColumnRenamed("__kcnt", "__c"),
      keyCols, trim)

  /** Standing EXACT per-group quantiles over a [[trimmedMeanSink]] log
    * — the same keyed value-count cells serve BOTH standing statistics
    * (one sink, two readbacks): equal to the batch
    * [[graft.operators.Validation.groupedQuantiles]] over everything
    * the sink delivered, by the shared value-counts core.
    */
  def groupedQuantilesFromLog(
      spark: SparkSession,
      logPath: String,
      keyCols: Seq[String],
      probs: Seq[Double] = Seq(0.5, 0.9, 0.95, 0.99)): DataFrame =
    graft.operators.Validation.groupedQuantilesFromValueCounts(
      readSumOf(spark, logPath, keyCols :+ "__v").withColumnRenamed("__kcnt", "__c"),
      keyCols, probs)

  /** Stream embedding rows into a sum-mergeable SLICED-WASSERSTEIN
    * projection-count log: the quantile grid itself is NOT
    * sum-mergeable, but the per-(slice, direction, projection-value)
    * counts it is computed FROM are (the [[valueCountSink]] shape) —
    * each micro-batch writes the SRP projection value-count cells of
    * its rows under the stat-log `sum` fold law, and [[swFromLog]]
    * replays the batch quantile/pair back end over the folded log,
    * EQUAL to [[graft.operators.Ann.slicedWasserstein]] on everything
    * delivered. The standing embedding-geometry drift monitor: stream
    * production vectors as they land, read the pairwise slice drift
    * whenever the dashboard asks. `directions`/`salt` are FROZEN per
    * log (cells from different projection matrices must never merge —
    * pass the same values at read time; [[swFromLog]] validates the
    * direction count loudly). NULL vectors are refused per batch with
    * the batch operator's contract; NULL slice keys drop.
    */
  def swProjectionSink(
      vectors: DataFrame,
      sliceCol: String,
      vecCol: String,
      logPath: String,
      directions: Int = 8,
      salt: Long = 7L)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(directions >= 1 && directions <= 64,
      s"directions must be in 1..64, got $directions")
    StatLog.sink(vectors, logPath, "sum") { (batch, _) =>
      graft.operators.Ann.swProjections(batch, sliceCol, vecCol, directions, salt)
        .groupBy(col("__k"), col("__d"), col("__v"))
        .agg(count(lit(1)).as("__kcnt"))
    }
  }

  /** The standing pairwise sliced-Wasserstein drift over everything
    * delivered to a [[swProjectionSink]] log — equal to the batch
    * [[graft.operators.Ann.slicedWasserstein]] on the union (same
    * output columns, same integer-exact term quantization).
    * `directions` must match the sink's frozen value — validated
    * loudly against the logged direction ids.
    */
  def swFromLog(
      spark: SparkSession,
      logPath: String,
      directions: Int = 8,
      grid: Int = 32,
      maxSlices: Int = 64): DataFrame = {
    val vc = StatLog.readSum(spark, logPath).withColumnRenamed("__kcnt", "__c")
    val dStats = vc.agg(countDistinct(col("__d")).as("__nd"),
      max(col("__d")).as("__maxd")).head()
    require(dStats.getAs[Long]("__nd") == directions.toLong &&
      dStats.getAs[Int]("__maxd") == directions - 1,
      s"swFromLog: log carries ${dStats.getAs[Long]("__nd")} direction " +
        s"ids (max ${dStats.get(1)}), caller asked for $directions — " +
        "directions/salt are frozen per log; read with the sink's values")
    graft.operators.Ann.swFromValueCounts(vc, directions, grid, maxSlices)
  }

  /** Stream scored+labeled eval rows into a sum-mergeable AUC log: the
    * Mann–Whitney statistic reads only per-distinct-score (pos, neg)
    * totals, which are additive — each micro-batch writes its own
    * score-count cells UNPIVOTED to `(__s, __m ∈ 'p'/'n', __kcnt)`
    * rows (the [[resampleSink]] two-measure recipe) under the stat-log
    * `sum` fold law; [[aucFromLog]] is then EQUAL to the batch
    * [[graft.operators.RankEval.aucRoc]] over every delivered row.
    * The continuous-eval shape: score production traffic as it lands,
    * read the standing AUC whenever the dashboard asks. Labels are
    * validated per batch with the batch path's loud 0/1 contract.
    */
  def aucLogSink(
      events: DataFrame,
      scoreCol: String,
      labelCol: String,
      logPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    StatLog.sink(events, logPath, "sum") { (batch, batchId) =>
      graft.operators.RankEval.aucScoreCounts(batch, scoreCol, labelCol,
          Nil, s"aucLogSink batch $batchId")
        .select(col("__s"), explode(array(
          struct(lit("p").as("__m"), col("__pos").as("__kcnt")),
          struct(lit("n").as("__m"), col("__neg").as("__kcnt"))))
          .as("__mv"))
        .select(col("__s"), col("__mv.__m").as("__m"),
          col("__mv.__kcnt").as("__kcnt"))
    }

  /** The standing exact AUC over everything delivered to an
    * [[aucLogSink]] log — equal to the batch eval on the union.
    */
  def aucFromLog(spark: SparkSession, logPath: String): DataFrame =
    graft.operators.RankEval.aucFromScoreCounts(
      StatLog.read(spark, logPath)
        .groupBy(col("__s"))
        .agg(
          coalesce(sum(when(col("__m") === "p", col("__kcnt"))), lit(0L))
            .as("__pos"),
          coalesce(sum(when(col("__m") === "n", col("__kcnt"))), lit(0L))
            .as("__neg")))

  /** Stream embedding batches into a sum-mergeable PCA MOMENT log: each
    * micro-batch writes its [[graft.similarity.Pca.momentCells]] —
    * count/sum/gram LONG cells, additive by construction — under
    * `batch=b<id>` with per-batch overwrite (replays are no-ops) and
    * the stat-log `sum` fold law ([[compactStatLog]] folds it
    * unchanged). [[pcaFitFromLog]] then rebuilds a model BIT-IDENTICAL
    * to the batch [[graft.similarity.Pca.fit]] over every delivered
    * row — incremental PCA with zero approximation. `dim` is frozen
    * per log (cells of different widths must never merge) — pass the
    * same value at fit time; the cell count validates it loudly.
    */
  def pcaMomentSink(
      vectors: DataFrame,
      vecCol: String,
      dim: Int,
      logPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    require(dim >= 1 && dim <= 1024, s"dim $dim outside [1, 1024]")
    StatLog.sink(vectors, logPath, "sum") { (batch, _) =>
      graft.similarity.Pca.momentCells(batch, vecCol, dim)
    }
  }

  /** Fit PCA from everything delivered to a [[pcaMomentSink]] log —
    * equal to the batch fit over the union of all delivered vectors.
    */
  def pcaFitFromLog(
      spark: SparkSession,
      logPath: String,
      dim: Int,
      k: Int): graft.similarity.Pca.PcaModel =
    graft.similarity.Pca.fitFromMomentCells(
      StatLog.read(spark, logPath), dim, k)

  /** Stream events into a sum-mergeable RESAMPLE log: each micro-batch
    * writes its own [[graft.operators.Timeseries.cells]] — per-(key,
    * bucket) counts and micro-unit value sums — UNPIVOTED to
    * `(keys…, __b, __m, __kcnt)` rows (`__m` tags the measure: 'n' =
    * event count, 'v' = value micros) so BOTH measures ride the
    * stat-log `sum` fold law unchanged and
    * [[compactStatLog]] folds this log like any other. Per-batch
    * overwrite under `batch=b<id>` makes replays no-ops.
    * [[resampleGridFromLog]] then equals the batch
    * [[graft.operators.Timeseries.resample]] over the union of every
    * delivered event — the cells are sum-mergeable by construction.
    */
  def resampleSink(
      events: DataFrame,
      tsUsCol: String,
      valueCol: String,
      keyCols: Seq[String],
      stepUs: Long,
      logPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    StatLog.sink(events, logPath, "sum") { (batch, _) =>
      graft.operators.Timeseries.cells(batch, tsUsCol, valueCol, keyCols, stepUs)
        .select(keyCols.map(col) :+ col("__b") :+ explode(array(
          struct(lit("n").as("__m"), col("n_events").as("__kcnt")),
          struct(lit("v").as("__m"), col("value_micros").as("__kcnt"))))
          .as("__mv"): _*)
        .select(keyCols.map(col) :+ col("__b") :+
          col("__mv.__m").as("__m") :+ col("__mv.__kcnt").as("__kcnt"): _*)
    }

  /** The standing regular grid over everything delivered to a
    * [[resampleSink]] log — equal to the batch
    * [[graft.operators.Timeseries.resample]] over the union of all
    * delivered events (gap buckets, micro-exact sums and all).
    */
  def resampleGridFromLog(
      spark: SparkSession,
      logPath: String,
      keyCols: Seq[String],
      stepUs: Long,
      maxBucketsPerKey: Long = 10000000L): DataFrame = {
    val cells = StatLog.read(spark, logPath)
      .groupBy((keyCols :+ "__b").map(col): _*)
      .agg(
        sum(when(col("__m") === "n", col("__kcnt"))).as("n_events"),
        sum(when(col("__m") === "v", col("__kcnt"))).as("value_micros"))
    graft.operators.Timeseries.gridFromCells(cells, keyCols, stepUs,
      maxBucketsPerKey)
  }

  /** Stream count-min cells into a sum-mergeable stat log: each
    * micro-batch aggregates into its own bounded cell table
    * ([[graft.operators.Sketches.cmsSketches]] — at most
    * groups × depth × width rows however large the batch) under
    * `batch=b<id>`, per-batch overwrite so replays are no-ops. The
    * additive fold law is exactly [[comboCountSink]]'s, so
    * [[StreamingOps.compactStatLog]] folds this log unchanged.
    * `depth`/`width`/`salt` are frozen per log (the cells of different
    * geometries must never merge) — pass the same values to
    * [[cmsCellsFromLog]] and the estimate call.
    */
  def cmsSink(
      events: DataFrame,
      groupCols: Seq[String],
      keyCol: String,
      logPath: String,
      depth: Int = 4,
      width: Int = 2048,
      salt: String = "graft")
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    StatLog.sink(events, logPath, "sum") { (batch, _) =>
      graft.operators.Sketches.cmsSketches(batch, groupCols, keyCol, depth,
          width, salt)
        .withColumnRenamed("cnt", "__kcnt")
    }

  /** The standing cell table over everything delivered to a
    * [[cmsSink]] log — equal to the batch
    * [[graft.operators.Sketches.cmsSketches]] over the union of all
    * delivered events; feed it to
    * [[graft.operators.Sketches.cmsPointEstimates]].
    */
  def cmsCellsFromLog(
      spark: SparkSession,
      logPath: String,
      groupCols: Seq[String]): DataFrame =
    readSumOf(spark, logPath, groupCols :+ "__d" :+ "__b")
      .select((groupCols :+ "__d" :+ "__b").map(col) :+ col("__kcnt").as("cnt"): _*)

  /** Stream embeddings into a persisted IVF-PQ index
    * ([[graft.operators.Ann.IvfPq.appendBatch]] per micro-batch):
    * nightly/continuous embedding arrivals become searchable without a
    * rebuild — frozen quantizers assign and encode, new files land in
    * the existing cell directories. Delivery is the appendBatch
    * contract: at-least-once (a replayed batch re-appends duplicate
    * ids; dedup downstream or on search output), sidecar untouched, so
    * a crash never tears the index. Rebuild on the index's own
    * quantizer-drift schedule, not per batch.
    */
  def annIngestSink(
      vectors: DataFrame,
      indexPath: String,
      idCol: String,
      vecCol: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    foreachNonEmptyBatch(vectors) { (batch, _) =>
      graft.operators.Ann.IvfPq.appendBatch(
        batch.sparkSession, indexPath, batch, idCol, vecCol)
    }

  /** Stream records into a standing [[graft.operators.Linkage.Index]]:
    * each micro-batch pairs against the accumulated registry and lands
    * its records + new pairs (the incremental identity-resolution
    * loop, continuous form). Delivery is the ingestBatch contract —
    * at-least-once, replays re-derive identical pairs and
    * [[graft.operators.Linkage.Index.entities]] distincts the log, so
    * the standing entity map is replay-exact.
    */
  def linkageIngestSink(
      records: DataFrame,
      indexPath: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    foreachNonEmptyBatch(records) { (batch, _) =>
      graft.operators.Linkage.Index.ingestBatch(
        batch.sparkSession, indexPath, batch)
    }

  final case class SessionEvent(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class SessionState(start: Long, lastSeen: Long, events: Long, sum: Double)
  final case class SessionSummary(
      user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, sum_value: Double)

  /** Streaming sessionization: a user's session closes after `gapMs` of
    * event-time inactivity. Event-time timeout (not processing-time) so
    * batches fire only when data or the watermark advances — deterministic
    * under `processAllAvailable`, and at scale the state store holds one
    * small record per open session.
    */
  def sessionize(
      events: Dataset[SessionEvent],
      gapMs: Long = 30 * 60 * 1000L,
      watermarkDelay: String = "0 seconds"): Dataset[SessionSummary] = {
    import events.sparkSession.implicits._
    // captured OUTSIDE the state function: in batch execution there is no
    // watermark (getCurrentWatermarkMs throws) and timeouts never fire, so
    // the trailing open session must be emitted at group end instead
    val streaming = events.isStreaming
    val src =
      if (streaming) events.withWatermark("ts", watermarkDelay)
      else events
    src.groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionSummary](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId, rows, state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator(SessionSummary(userId, new java.sql.Timestamp(s.start),
              new java.sql.Timestamp(s.lastSeen), s.events, s.sum))
          } else {
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var current = state.getOption
            val closed = Seq.newBuilder[SessionSummary]
            sorted.foreach { e =>
              val t = e.ts.getTime
              current match {
                case Some(s) if t - s.lastSeen <= gapMs =>
                  // a LATE event (t below lastSeen, delivered by a later
                  // micro-batch) merges into the open session but must
                  // never move its bounds backward: regressing lastSeen
                  // would shrink session_end below counted events and can
                  // put lastSeen+gap behind the watermark, closing the
                  // session under later on-time events
                  current = Some(s.copy(
                    start = math.min(s.start, t),
                    lastSeen = math.max(s.lastSeen, t),
                    events = s.events + 1,
                    sum = s.sum + e.value))
                case Some(s) =>
                  closed += SessionSummary(userId, new java.sql.Timestamp(s.start),
                    new java.sql.Timestamp(s.lastSeen), s.events, s.sum)
                  current = Some(SessionState(t, t, 1, e.value))
                case None =>
                  current = Some(SessionState(t, t, 1, e.value))
              }
            }
            if (streaming) {
              current.foreach { s =>
                state.update(s)
                // late data can put lastSeen+gap behind the watermark, which
                // setTimeoutTimestamp rejects — clamp to just past it
                state.setTimeoutTimestamp(
                  math.max(s.lastSeen + gapMs, state.getCurrentWatermarkMs + 1))
              }
              closed.result().iterator
            } else {
              // batch input is complete: the trailing session closes now
              (closed.result() ++ current.map(s =>
                SessionSummary(userId, new java.sql.Timestamp(s.start),
                  new java.sql.Timestamp(s.lastSeen), s.events, s.sum))).iterator
            }
          }
      }
  }
}
