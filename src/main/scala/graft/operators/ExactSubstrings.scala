package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact repeated-substring detection and removal — the ExactSubstr
  * deduplication of Lee et al. 2021 ("Deduplicating Training Data Makes
  * Language Models Better"), re-expressed for Spark. Instead of a
  * monolithic suffix array (single-machine, memory-bound at corpus
  * scale), every `w`-token window is hashed in-row and duplicated
  * windows are found with one corpus exchange; any token run of length
  * ≥ w shared between two places in the corpus is guaranteed to produce
  * at least one duplicated window inside it, so maximal repeated runs
  * surface as merged islands of duplicated window positions.
  *
  * Scale shape, per stage:
  *  - window hashing: pure per-row expressions (the [[TextAnalysis]]
  *    shifted-copy fold + posexplode + xxhash64) — no shuffle; the
  *    window STRING dies before the exchange, only (id, pos, h1, h2)
  *    rows travel.
  *  - duplicate marking: ONE hash exchange of those ~28-byte rows,
  *    via `count over (partition by h1, h2)` — deliberately a window
  *    function, not groupBy-count + self-join, which would shuffle the
  *    same stream AND pay a second join exchange.
  *  - island merge: one exchange of the HIT rows only (duplicated
  *    positions — for a mostly-clean corpus a small fraction of the
  *    stream), partitioned by document.
  *
  * For continuous ingest there is also a PERSISTED form: the distinct
  * window hashes of everything already accepted, written once and probed
  * per batch ([[writeSubstrIndex]] / [[repeatedSpansAgainstIndex]] /
  * [[ingestBatch]]) — the batch is hashed and joined against the index
  * at O(batch) cost, the historical corpus text is never re-read. Same
  * division of labor as [[DedupIndex]] (document-level near-dup) and the
  * segmented BM25 index, applied at substring granularity.
  *
  * Exactness: group identity is the 128-bit composite (xxhash64(win),
  * xxhash64(salt, win)). At 10^13 windows (≈100 TB of text) the
  * collision expectation is n²/2·2⁻¹²⁸ ≈ 10⁻¹³ — no verify-join
  * needed. A single 64-bit hash would already collide ~thousands of
  * times at that scale, which is why the key is a pair.
  */
object ExactSubstrings {

  /** Window-hash rows for `df`: (`idCol`, `pos` 1-based, `__h1`, `__h2`).
    * Documents shorter than `w` tokens contribute no windows (the
    * [[TextAnalysis.shingles]] short-doc truncated shingle is filtered
    * out — a partial window is not a w-gram).
    */
  private def windowRows(
      df: DataFrame, idCol: String, textCol: String,
      w: Int, salt: String): DataFrame = {
    require(w >= 2, s"window must be >= 2 tokens, got $w")
    df.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .where(size(col("__toks")) >= w)
      .select(col(idCol),
        posexplode(TextAnalysis.shinglesOfTokens(col("__toks"), w))
          .as(Seq("__p0", "__win")))
      .select(col(idCol), (col("__p0") + 1).as("pos"),
        xxhash64(col("__win")).as("__h1"),
        xxhash64(lit(salt), col("__win")).as("__h2"))
  }

  /** Merge duplicated window positions into maximal spans: islands close
    * wherever two windows overlap or touch (next start ≤ prev + w).
    */
  private def mergeIslands(hits: DataFrame, idCol: String, w: Int): DataFrame = {
    val byDoc = Window.partitionBy(idCol).orderBy("pos")
    val newIsland =
      when(lag("pos", 1).over(byDoc).isNull
        || col("pos") - lag("pos", 1).over(byDoc) > w, 1).otherwise(0)
    hits
      .withColumn("__isl", sum(newIsland).over(
        byDoc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col(idCol), col("__isl"))
      .agg(min("pos").as("span_start"),
        (max("pos") + lit(w - 1)).as("span_end"))
      .withColumn("span_tokens", col("span_end") - col("span_start") + 1)
      .drop("__isl")
  }

  /** Positions (1-based) of every `w`-token window whose exact token
    * content occurs at least `minCount` times corpus-wide. Columns:
    * `idCol`, `pos`.
    */
  def repeatedWindowPositions(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      w: Int = 10,
      minCount: Int = 2,
      salt: String = "graft-es"): DataFrame = {
    require(minCount >= 2, s"minCount must be >= 2, got $minCount")
    val overHash = Window.partitionBy("__h1", "__h2")
    windowRows(df, idCol, textCol, w, salt)
      .withColumn("__c", count(lit(1)).over(overHash))
      .where(col("__c") >= minCount)
      .select(col(idCol), col("pos"))
  }

  /** Maximal repeated token spans per document: islands of duplicated
    * window positions merged wherever two windows overlap or touch.
    * Columns: `idCol`, `span_start`, `span_end` (1-based token
    * positions, inclusive), `span_tokens`.
    *
    * Every repeated run of ≥ w tokens is covered by one span; spans can
    * over-extend a genuine repeat by at most w−1 tokens on each side
    * only when two distinct repeats overlap — the same granularity
    * trade the suffix-array formulation makes when merging repeated
    * extents.
    */
  def repeatedSpans(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      w: Int = 10,
      minCount: Int = 2,
      salt: String = "graft-es"): DataFrame =
    mergeIslands(
      repeatedWindowPositions(df, idCol, textCol, w, minCount, salt),
      idCol, w)

  /** Cut `spans` (a [[repeatedSpans]]-shaped frame: `idCol`,
    * `span_start`, `span_end`) out of each document's token stream.
    * Columns: `idCol`, `kept_text` (surviving tokens joined by single
    * spaces — whitespace runs are NOT preserved; this operator feeds a
    * tokenizer, not a renderer), `removed_tokens`. Every input document
    * appears exactly once — span-free and sub-`w`-token documents pass
    * through with `removed_tokens = 0`.
    *
    * The span table is re-aggregated per document (bounded: spans per
    * doc ≤ tokens/w) and joined back — an equi-join Spark will broadcast
    * while the duplicated fraction is small and shuffle-join once it
    * isn't; both are the right plan at their respective scales.
    */
  def cutSpans(
      df: DataFrame,
      spans: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val spansByDoc = spans
      .groupBy(idCol)
      .agg(collect_list(struct(col("span_start").as("s"),
        col("span_end").as("e"))).as("__spans"))
    df.select(col(idCol), TextAnalysis.tokens(col(textCol)).as("__toks"))
      .join(spansByDoc, Seq(idCol), "left")
      .select(
        col(idCol),
        filter(col("__toks"), (t, i) =>
          !coalesce(exists(col("__spans"), s =>
            i + 1 >= s("s") && i + 1 <= s("e")), lit(false)))
          .as("__kept"),
        col("__toks"))
      .select(
        col(idCol),
        concat_ws(" ", col("__kept")).as("kept_text"),
        (size(col("__toks")) - size(col("__kept"))).as("removed_tokens"))
  }

  /** [[repeatedSpans]] composed with [[cutSpans]]: documents with every
    * repeated span removed from the token stream.
    */
  def removeRepeatedSpans(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      w: Int = 10,
      minCount: Int = 2,
      salt: String = "graft-es"): DataFrame =
    cutSpans(df,
      repeatedSpans(df, idCol, textCol, w, minCount, salt), idCol, textCol)

  /** Benchmark-contaminated token spans per training document: maximal
    * islands of `w`-token windows whose exact content occurs ANYWHERE in
    * `benchmark` — span-granular decontamination, the n-gram-overlap
    * removal GPT-3 applied to its training set (Brown 2020, Appendix C
    * removes 13-gram collisions with eval sets; hence the default).
    * [[Dedup.crossCorpusOverlap]] flags whole documents; this keeps the
    * document and surrenders only the overlapping spans.
    *
    * Scale shape: the benchmark side reduces to DISTINCT window hashes —
    * eval suites are tiny next to a training corpus, so the join against
    * the corpus's window stream is broadcast-sized in practice and one
    * equi-shuffle at worst; the corpus text dies before any exchange
    * exactly as in [[repeatedSpans]]. Output columns: `idCol`,
    * `span_start`, `span_end`, `span_tokens` (1-based, inclusive).
    */
  def contaminatedSpans(
      train: DataFrame,
      idCol: String,
      textCol: String,
      benchmark: DataFrame,
      benchTextCol: String,
      w: Int = 13,
      salt: String = "graft-es"): DataFrame = {
    val benchHashes = windowRows(
      benchmark.select(col(benchTextCol)).withColumn("__bid", lit(0L)),
      "__bid", benchTextCol, w, salt)
      .select("__h1", "__h2").distinct()
    mergeIslands(
      windowRows(train, idCol, textCol, w, salt)
        .join(benchHashes, Seq("__h1", "__h2"))
        .select(col(idCol), col("pos")),
      idCol, w)
  }

  /** [[contaminatedSpans]] composed with [[cutSpans]]: the training
    * corpus with every benchmark-overlapping span cut out of the token
    * stream (and every document preserved — clean and sub-`w`-token docs
    * pass through with `removed_tokens = 0`).
    */
  def removeContaminatedSpans(
      train: DataFrame,
      benchmark: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      benchTextCol: String = "text",
      w: Int = 13,
      salt: String = "graft-es"): DataFrame =
    cutSpans(train,
      contaminatedSpans(train, idCol, textCol, benchmark, benchTextCol, w, salt),
      idCol, textCol)

  // ---------------------------------------------------------------------
  // Persisted window-hash index for continuous ingest
  // ---------------------------------------------------------------------

  /** Sidecar recording (w, salt, buckets) — a probe with different
    * parameters hashes different windows and would silently match
    * nothing, so drift is a loud error instead.
    */
  val ParamsFileName = "_graft_substr_params.json"

  private val IndexBuckets = 64

  /** Distinct window hashes of `df` in index shape:
    * (`__hb`, `__h1`, `__h2`) with `__hb = h1 mod buckets` as the
    * partition-directory key — a probe joining on all three columns
    * prunes index directories through dynamic partition pruning.
    */
  def indexRowsFor(
      df: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      w: Int = 10,
      salt: String = "graft-es",
      buckets: Int = IndexBuckets): DataFrame = {
    require(buckets >= 1, s"buckets must be >= 1, got $buckets")
    windowRows(df, idCol, textCol, w, salt)
      .select(pmod(col("__h1"), lit(buckets.toLong)).as("__hb"),
        col("__h1"), col("__h2"))
      .distinct()
  }

  /** Append `indexRows` ([[indexRowsFor]] shape) to the index at `path`,
    * committing the parameter sidecar on first write and validating it on
    * every later one. Appends may re-add hashes already present —
    * membership semantics are unaffected (the probe is a semi-join);
    * [[compactSubstrIndex]] re-distincts as maintenance.
    */
  def writeSubstrIndex(
      indexRows: DataFrame,
      path: String,
      w: Int = 10,
      salt: String = "graft-es",
      buckets: Int = IndexBuckets): Unit = {
    val spark = indexRows.sparkSession
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val committed = graft.io.Sidecar.commit(fs, dir, ParamsFileName,
      graft.io.Json.toJson(Map(
        "w" -> w, "salt" -> salt, "buckets" -> buckets)),
      overwrite = false)
    checkParams(parseParams(committed), w, salt, buckets, path)
    // co-locate each bucket before the partitioned write: without this,
    // every upstream task writes a sliver into every __hb directory —
    // tasks × buckets files per append (measured 4× the whole query's
    // cost at sf0.1), and the listing storm only grows with cluster size
    indexRows.repartition(col("__hb"))
      .write.mode("append").partitionBy("__hb").parquet(path)
  }

  /** Read the index back for probing, failing loudly on parameter
    * drift. A sidecar-committed index with no data files yet (every
    * batch so far was sub-`w` tokens) is a VALID empty index and loads
    * as an empty frame with the index schema — `spark.read.parquet`
    * alone would die on schema inference there.
    */
  def loadSubstrIndex(
      spark: SparkSession,
      path: String,
      w: Int = 10,
      salt: String = "graft-es",
      buckets: Int = IndexBuckets): DataFrame = {
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val stored = graft.io.Sidecar.read(fs, dir, ParamsFileName).getOrElse(
      throw new IllegalStateException(
        s"no $ParamsFileName sidecar at $path — not a substring index, " +
          "or a build crashed before committing parameters"))
    checkParams(parseParams(stored), w, salt, buckets, path)
    if (hasParquetData(fs, dir)) spark.read.parquet(path)
    else emptyIndex(spark)
  }

  /** Empty frame in index shape (`__hb`, `__h1`, `__h2`). */
  private def emptyIndex(spark: SparkSession): DataFrame =
    spark.range(0).select(col("id").as("__hb"),
      col("id").as("__h1"), col("id").as("__h2"))

  /** Rewrite the index: distinct hashes, ~`targetFileBytes` files, rows
    * range-partitioned and sorted on (`__hb`, `__h1`) so probe scans also
    * prune on parquet min/max within a bucket directory. Atomic swap via
    * [[graft.ct.TableStore]]; the params sidecar survives. Run BETWEEN
    * ingest batches — an append during the rewrite window is lost to the
    * swap.
    */
  def compactSubstrIndex(
      spark: SparkSession,
      path: String,
      targetFileBytes: Long = 128L << 20): Unit = {
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    if (!hasParquetData(fs, dir)) return // data-less index: nothing to do
    val df = spark.read.parquet(path).distinct()
    val n = Compaction.targetFileCount(df, targetFileBytes)
    val shaped = df
      .repartitionByRange(n, col("__hb"), col("__h1"))
      .sortWithinPartitions(col("__hb"), col("__h1"))
    graft.ct.TableStore.overwrite(spark, shaped, path,
      partitionBy = Seq("__hb"), preserveFiles = Seq(ParamsFileName))
  }

  /** Maximal spans of `batch` whose windows already exist in `index`
    * (loaded via [[loadSubstrIndex]]) — plus, when `includeBatchInternal`
    * (default), windows repeated WITHIN the batch itself, so a doc
    * delivered twice in one batch still dedups. Output shape matches
    * [[repeatedSpans]].
    *
    * `broadcastBatch = true` (the default, and the point): the batch's
    * window hashes are broadcast and the index — the big side — streams
    * in place with `__hb` directory pruning; no index shuffle, no
    * re-hash of history. Set it false for a huge batch; the join then
    * shuffles both sides on the hash pair.
    */
  def repeatedSpansAgainstIndex(
      batch: DataFrame,
      index: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      w: Int = 10,
      salt: String = "graft-es",
      buckets: Int = IndexBuckets,
      includeBatchInternal: Boolean = true,
      broadcastBatch: Boolean = true): DataFrame = {
    // pinned: the window rows feed both the index join and the
    // within-batch duplicate scan — unpinned, the tokenize + shingle +
    // double-hash chain would run once per consumer
    val wins = graft.core.Caches.pin(
      bucketedWindowRows(batch, idCol, textCol, w, salt, buckets))
    spansFromWins(wins, Some(index), idCol, w,
      includeBatchInternal, broadcastBatch)
  }

  /** Bucketed window-hash rows: (`idCol`, pos, __h1, __h2, __hb). */
  private def bucketedWindowRows(
      batch: DataFrame, idCol: String, textCol: String,
      w: Int, salt: String, buckets: Int): DataFrame =
    windowRows(batch, idCol, textCol, w, salt)
      .withColumn("__hb", pmod(col("__h1"), lit(buckets.toLong)))

  /** Island-merged spans from ALREADY-HASHED window rows: hits against
    * `index` (when given) unioned with within-batch duplicates (when
    * asked) — every consumer reads the same `wins`, which the caller is
    * expected to have pinned.
    */
  private def spansFromWins(
      wins: DataFrame,
      index: Option[DataFrame],
      idCol: String,
      w: Int,
      includeBatchInternal: Boolean,
      broadcastBatch: Boolean): DataFrame = {
    // Index streamed, batch broadcast: Spark only builds the RIGHT side
    // of a broadcast join (a left-semi with the batch on the left would
    // drop the hint and shuffle the index), so stream the index as the
    // left of an INNER join against the broadcast batch and de-dup the
    // (id, pos) hits — duplicate index rows from repeated appends would
    // otherwise multiply them.
    val vsIndex = index.map { ix =>
      (if (broadcastBatch)
        ix.join(broadcast(wins), Seq("__hb", "__h1", "__h2"))
      else wins.join(ix, Seq("__hb", "__h1", "__h2"), "left_semi"))
        .select(col(idCol), col("pos"))
        .distinct()
    }
    val withinBatch =
      if (includeBatchInternal || index.isEmpty) {
        val overHash = Window.partitionBy("__h1", "__h2")
        Some(wins.withColumn("__c", count(lit(1)).over(overHash))
          .where(col("__c") >= 2)
          .select(col(idCol), col("pos")))
      } else None
    val hits = (vsIndex.toSeq ++ withinBatch.toSeq)
      .reduce(_.unionByName(_))
      .distinct()
    mergeIslands(hits, idCol, w)
  }

  /** Spans of `batch` vs whatever index exists at `path` — including
    * windows repeated within the batch itself. Bootstraps cleanly: no
    * sidecar yet (first-ever batch), or a sidecar but no data files yet
    * (every prior batch was sub-`w` tokens) both fall back to
    * within-batch-only spans; a PRESENT sidecar still validates
    * parameters either way.
    */
  def spansForBatch(
      batch: DataFrame,
      path: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      w: Int = 10,
      salt: String = "graft-es",
      buckets: Int = IndexBuckets,
      broadcastBatch: Boolean = true): DataFrame =
    winsAndSpans(batch, path, idCol, textCol, w, salt, buckets,
      broadcastBatch)._2

  /** (pinned window rows, spans vs the index at `path`): the shared core
    * of [[spansForBatch]], [[ingestBatch]] and the streaming sink — the
    * batch text is tokenized and hashed exactly once and the pinned rows
    * serve the probe, the within-batch scan AND the index delta.
    */
  private[graft] def winsAndSpans(
      batch: DataFrame,
      path: String,
      idCol: String,
      textCol: String,
      w: Int,
      salt: String,
      buckets: Int,
      broadcastBatch: Boolean): (DataFrame, DataFrame) = {
    val spark = batch.sparkSession
    val dir = new org.apache.hadoop.fs.Path(path)
    val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
    val stored = graft.io.Sidecar.read(fs, dir, ParamsFileName)
    stored.foreach(s => checkParams(parseParams(s), w, salt, buckets, path))
    val wins = graft.core.Caches.pin(
      bucketedWindowRows(batch, idCol, textCol, w, salt, buckets))
    val index =
      if (stored.isDefined && hasParquetData(fs, dir))
        Some(spark.read.parquet(path))
      else None
    (wins, spansFromWins(wins, index, idCol, w,
      includeBatchInternal = true, broadcastBatch))
  }

  /** Early-exit probe for an actual non-empty parquet data file. */
  private def hasParquetData(
      fs: org.apache.hadoop.fs.FileSystem,
      dir: org.apache.hadoop.fs.Path): Boolean = fs.exists(dir) && {
    val it = fs.listFiles(dir, true)
    var found = false
    while (!found && it.hasNext) {
      val f = it.next()
      found = f.getLen > 0 && f.getPath.getName.endsWith(".parquet")
    }
    found
  }

  /** One ingest cycle: spans of `batch` vs the index at `path` (and
    * within the batch) are cut out, the batch's ORIGINAL window hashes
    * are appended to the index — so a future re-delivery of the same
    * content dedups against it even where this batch's copy was cut —
    * and the cleaned batch is returned (already materialized via an
    * eager checkpoint). O(batch) end to end; history is never re-read.
    *
    * RETRY HAZARD: the index append commits before this call returns,
    * so if the CALLER's downstream write of the cleaned batch fails and
    * the whole cycle is re-run, the re-run probes against the batch's
    * own hashes and cuts every ≥ w-token document to empty. A pipeline
    * with retry boundaries should persist the cleaned output durably
    * before anything can re-run the cycle — or use
    * [[graft.streaming.StreamingOps.substrIngestSink]], whose
    * corpus-BEFORE-index ordering turns a replay into duplicates
    * (healed downstream) instead of silent loss.
    */
  def ingestBatch(
      batch: DataFrame,
      path: String,
      idCol: String = "doc_id",
      textCol: String = "text",
      w: Int = 10,
      salt: String = "graft-es",
      buckets: Int = IndexBuckets,
      broadcastBatch: Boolean = true): DataFrame = {
    val (wins, spans) = winsAndSpans(batch, path, idCol, textCol, w, salt,
      buckets, broadcastBatch)
    try graft.core.Caches.holding { held =>
      // Materialize the cleaned batch BEFORE appending to the index: the
      // probe plan re-lists the index directory at execution time, so a
      // lazily-evaluated result read after the append would see the
      // batch's own freshly-appended hashes and cut every >= w-token
      // document to nothing. The checkpoint is batch-sized; callers
      // running inside [[graft.core.Caches.collectPins]] release it with
      // the scope.
      val cleaned = held(cutSpans(batch, spans, idCol, textCol))
      writeSubstrIndex(
        wins.select("__hb", "__h1", "__h2").distinct(),
        path, w, salt, buckets)
      cleaned
    } finally wins.unpersist() // cleaned is checkpointed, index written:
    // nothing references the pinned rows — on failure paths either
  }

  private def parseParams(text: String): (Int, String, Int) = {
    val node = graft.io.Json.parse(text)
    (node.get("w").asInt(), node.get("salt").asText(),
      node.get("buckets").asInt())
  }

  private def checkParams(
      stored: (Int, String, Int),
      w: Int, salt: String, buckets: Int, path: String): Unit =
    require(stored == ((w, salt, buckets)),
      s"substring index at $path was built with (w, salt, buckets) = " +
        s"$stored but this call uses (${(w, salt, buckets)}) — build and " +
        "probe parameters must match or the membership join is silently " +
        "empty")
}
