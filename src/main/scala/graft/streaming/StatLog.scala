package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter

/** Storage discipline for the per-batch stat logs the streaming sinks
  * accrete (every sink built on [[sink]]): one `batch=b<id>` directory
  * per micro-batch (overwrite-by-naming idempotency, [[writeBatch]]),
  * folded on a maintenance schedule into a versioned `batch=c<seq>`
  * partition.
  *
  * Two failure modes of the naive "distinct the whole log and swap the
  * directory" compactor motivate this design:
  *
  *  1. '''Mid-compaction ingest loss.''' A whole-directory swap
  *     (rename dest aside, rename staging in, delete old) silently
  *     deletes any micro-batch a live sink lands between the snapshot
  *     read and the swap — and the stream's checkpoint has already
  *     committed that batch id, so it is never replayed. Compaction
  *     here is ADDITIVE instead: it folds only an explicit snapshot of
  *     batch directories (taken at list time, `_SUCCESS`-complete ones
  *     only) into a NEW `batch=c<seq>` directory, then deletes exactly
  *     the folded directories. A batch landing at any point during the
  *     fold is simply not in the snapshot and is never touched — safe
  *     to run against a live sink, with no quiesce contract.
  *  2. '''Fold-law mismatch.''' `distinct()` is only correct for logs
  *     whose readers are duplicate-insensitive (funnel matched events,
  *     retention/diversity pairs). `comboCountSink` logs are
  *     SUM-mergeable (`__kcnt` per batch) and `fingerprintSink` logs
  *     merge by sum/xor — distinct-folding either silently collapses
  *     equal rows from different batches and undercounts forever. Each
  *     sink therefore records its fold law in a `_GRAFT_LOG_KIND`
  *     sidecar at sink-construction time, and [[compact]] dispatches on
  *     it (refusing loudly when the sidecar is missing rather than
  *     guessing).
  *
  * Crash safety: the staged `batch=c<seq>` directory carries a
  * `_GRAFT_FOLDED` marker listing the CUMULATIVE set of directory
  * names ever folded (its predecessors' list plus this fold's inputs,
  * including the previous `c` directory), written before the single
  * atomic rename that publishes it. A crash after the publish but
  * before the deletions leaves folded directories behind; readers
  * consult the newest `c` marker and exclude them (readers are pure —
  * they never delete), and the next [[compact]] finishes the
  * deletions. The same exclusion makes a post-compaction replay of a
  * folded batch id (at-least-once delivery re-creating its directory)
  * an exact no-op for ALL fold laws — without it a replayed
  * `comboCountSink` batch would double-count.
  *
  * Single-maintainer contract: at most one [[compact]] per log at a
  * time (concurrent compactions could publish two `c` directories
  * neither of which folds the other). Concurrent SINKS and READERS are
  * unrestricted.
  *
  * Scale: the fold reads only live directories (after a year of
  * micro-batches, one `c` directory plus the since-last-fold `b`
  * directories), and the marker grows by one line per folded batch —
  * ~10⁵ lines/year, a few MB, read once per fold/read.
  */
object StatLog {

  /** Sidecar at the log root recording the fold law. `_`-prefixed so
    * parquet readers of the directory ignore it.
    */
  private val KindFile = "_GRAFT_LOG_KIND"

  /** Marker inside each `batch=c<seq>` directory: cumulative folded
    * directory names, one per line, END-terminated (a torn write must
    * read as corrupt, not as a shorter valid list — rolling deletions
    * forward from a truncated list could delete an unfolded batch).
    */
  private val FoldedMarker = "_GRAFT_FOLDED"
  private val MarkerEnd = "END"

  /** Fold laws. `distinct`: readers are duplicate-insensitive, fold is
    * `distinct()`. `sum`: rows are (group…, `__kcnt`) partial counts,
    * fold is group-by-all-but-`__kcnt` + sum. `fingerprint`:
    * [[graft.operators.Validation.corpusFingerprint]] rows, fold is
    * [[graft.operators.Validation.mergeFingerprints]].
    */
  val Kinds: Set[String] = Set("distinct", "sum", "fingerprint")

  private val BDir = "^batch=b(\\d{12})$".r
  private val CDir = "^batch=c(\\d{12})$".r
  private def cName(seq: Long) = f"batch=c$seq%012d"

  /** Land one micro-batch's cells under `batch=b<id>`. Overwrite by
    * name: a replayed batch id rewrites its own directory, never adds
    * a second copy (and a replay of an already-folded id is excluded
    * by [[read]]).
    */
  private[graft] def writeBatch(cells: DataFrame, logPath: String, batchId: Long): Unit =
    cells.write.mode("overwrite").parquet(f"$logPath/batch=b$batchId%012d")

  /** A stat-log sink: records `kind` (see [[writeKind]]) now, then
    * lands `cells(batch, batchId)` for every non-empty micro-batch via
    * [[writeBatch]]. `cells` is the sink's whole per-batch logic — the
    * sufficient-statistic builder it shares with its batch twin.
    */
  private[graft] def sink(events: DataFrame, logPath: String, kind: String)(
      cells: (DataFrame, Long) => DataFrame): DataStreamWriter[Row] = {
    writeKind(events.sparkSession, logPath, kind)
    StreamingOps.foreachNonEmptyBatch(events) { (batch, batchId) =>
      writeBatch(cells(batch, batchId), logPath, batchId)
    }
  }

  private def fsOf(spark: SparkSession, path: String): (FileSystem, Path) = {
    val p = new Path(path)
    (p.getFileSystem(spark.sessionState.newHadoopConf()), p)
  }

  private def writeAtomic(fs: FileSystem, dir: Path, name: String,
      content: String): Unit = {
    val tmp = new Path(dir, name + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val dest = new Path(dir, name)
    fs.delete(dest, false)
    if (!fs.rename(tmp, dest))
      throw new IllegalStateException(s"Failed to publish '$dest'")
  }

  private def readSmall(fs: FileSystem, p: Path): String = {
    val in = fs.open(p)
    try {
      val buf = new java.io.ByteArrayOutputStream()
      org.apache.commons.io.IOUtils.copy(in, buf)
      buf.toString("UTF-8")
    } finally in.close()
  }

  /** Record the log's fold law; called by every sink constructor and
    * idempotent, but LOUD on conflict — two sinks of different
    * families writing one logPath is a layout corruption in the
    * making, not a config nit.
    */
  def writeKind(spark: SparkSession, logPath: String, kind: String): Unit = {
    require(Kinds(kind), s"unknown stat-log kind `$kind` (one of ${Kinds.toSeq.sorted.mkString(", ")})")
    val (fs, root) = fsOf(spark, logPath)
    readKind(spark, logPath) match {
      case Some(existing) if existing != kind =>
        throw new IllegalStateException(
          s"Stat log '$logPath' already records kind `$existing`; refusing " +
            s"to re-mark it `$kind` — one log path serves one sink family.")
      case Some(_) => // already recorded
      case None =>
        fs.mkdirs(root)
        writeAtomic(fs, root, KindFile, kind + "\n" + MarkerEnd + "\n")
    }
  }

  def readKind(spark: SparkSession, logPath: String): Option[String] = {
    val (fs, root) = fsOf(spark, logPath)
    val p = new Path(root, KindFile)
    if (!fs.exists(p)) None
    else {
      val lines = readSmall(fs, p).split("\n", -1)
      if (lines.length < 2 || lines(1) != MarkerEnd || !Kinds(lines(0)))
        throw new IllegalStateException(
          s"Stat-log kind sidecar '$p' is corrupt ('${lines.headOption.getOrElse("")}')")
      Some(lines(0))
    }
  }

  private def readFolded(fs: FileSystem, cDir: Path): Set[String] = {
    val p = new Path(cDir, FoldedMarker)
    if (!fs.exists(p))
      throw new IllegalStateException(
        s"Compacted stat-log partition '$cDir' has no $FoldedMarker marker — " +
          "unrecognized layout; refusing to read or fold it.")
    val lines = readSmall(fs, p).split("\n", -1)
    val end = lines.indexOf(MarkerEnd)
    if (end < 0)
      throw new IllegalStateException(
        s"Folded-directory marker '$p' is torn (no $MarkerEnd terminator)")
    lines.take(end).filter(_.nonEmpty).toSet
  }

  /** The log's live layout: newest `batch=c<seq>` directory (if any),
    * its cumulative folded-name set, and the `batch=b<id>` directories
    * not yet folded. Pure — performs no deletions; folded directories
    * left by a crashed or replay-raced fold are excluded, not removed.
    */
  private def layout(fs: FileSystem, root: Path)
      : (Option[(Long, Path)], Set[String], Seq[Path]) = {
    val entries = fs.listStatus(root).filter(_.isDirectory).map(_.getPath)
    // A `batch=*` directory matching NEITHER live pattern (e.g. a
    // `batch=compacted` partition from a pre-additive compactStatLog, or
    // a hand-placed dir) would be silently EXCLUDED from every read and
    // fold — funnel/retention/k-anonymity would undercount with no
    // error. Fail loud instead, like the missing-kind path; history is
    // never silently dropped.
    val alien = entries.map(_.getName).filter(n =>
      n.startsWith("batch=") && !BDir.matches(n) && !CDir.matches(n))
    if (alien.nonEmpty)
      throw new IllegalStateException(
        s"Stat log '$root' holds unrecognized batch directories " +
          s"[${alien.sorted.mkString(", ")}] — a legacy or foreign layout " +
          "this reader would silently exclude; migrate or remove them " +
          "explicitly before reading or folding")
    val cs = entries.flatMap(p => p.getName match {
      case CDir(seq) => Some((seq.toLong, p)); case _ => None
    })
    val newest = if (cs.isEmpty) None else Some(cs.maxBy(_._1))
    val folded = newest.map { case (_, p) => readFolded(fs, p) }.getOrElse(Set.empty)
    val bs = entries.filter(p => p.getName match {
      case BDir(_) => !folded(p.getName); case _ => false
    })
    (newest, folded, bs.toSeq.sortBy(_.getName))
  }

  /** Everything the log holds, exactly once per delivered batch: the
    * newest compacted partition plus unfolded batch directories, with
    * folded names excluded so a replayed pre-compaction batch id can
    * never re-enter (which would double-count `sum`/`fingerprint`
    * logs). No `batch` column — callers never used it.
    */
  def read(spark: SparkSession, logPath: String): DataFrame = {
    val (fs, root) = fsOf(spark, logPath)
    val (newest, _, bs) = layout(fs, root)
    val dirs = (newest.map(_._2).toSeq ++ bs).map(_.toString)
    if (dirs.isEmpty)
      throw new IllegalStateException(
        s"Stat log '$logPath' holds no batch directories to read")
    spark.read.parquet(dirs: _*)
  }

  /** [[read]] with the `sum` fold law applied: one row per distinct
    * cell (every column but `__kcnt`), `__kcnt` summed over every batch
    * that delivered it — the standing table a `sum` log's readers
    * compute from.
    */
  def readSum(spark: SparkSession, logPath: String): DataFrame =
    fold("sum", read(spark, logPath))

  private def fold(kind: String, df: DataFrame): DataFrame = kind match {
    case "distinct" => df.distinct()
    case "sum" =>
      val groups = df.columns.filterNot(_ == "__kcnt")
      require(df.columns.contains("__kcnt") && groups.nonEmpty,
        s"sum-mergeable stat log rows need (group…, __kcnt); got ${df.columns.mkString(", ")}")
      df.groupBy(groups.map(col).toSeq: _*).agg(sum(col("__kcnt")).as("__kcnt"))
        .select(df.columns.map(col).toSeq: _*) // original column order
    case "fingerprint" => graft.operators.Validation.mergeFingerprints(df)
    case other => sys.error(s"unreachable stat-log kind `$other`")
  }

  /** Fold the current snapshot of complete batch directories (plus the
    * previous compacted partition) into `batch=c<seq+1>`, then delete
    * exactly the folded directories. Safe against live sinks (see the
    * object doc); also finishes the deletions of any crashed prior
    * fold first. Directories still being written (no `_SUCCESS`) are
    * skipped — folding a half-written batch and marking it folded
    * would drop the rest of its rows when the replay completes it.
    */
  def compact(
      spark: SparkSession,
      logPath: String,
      targetFileBytes: Long = 128L << 20): Unit = {
    val kind = readKind(spark, logPath).getOrElse(throw new IllegalStateException(
      s"Stat log '$logPath' has no $KindFile sidecar. Logs written by this " +
        "library's sinks record it automatically; for a pre-existing log, " +
        "call StatLog.writeKind(spark, path, kind) once with the sink's fold " +
        "law (" + Kinds.toSeq.sorted.mkString("/") + ") before compacting."))
    val (fs, root) = fsOf(spark, logPath)
    // discard staging leftovers of a fold that died mid-write (never
    // published — their contents are reproducible from the live dirs)
    fs.listStatus(root).map(_.getPath)
      .filter(_.getName.startsWith("_graft_staging_"))
      .foreach(p => fs.delete(p, true))
    val (newest, folded0, bs) = layout(fs, root)
    // finish a crashed prior fold's deletions (publish happened — the
    // newest marker lists these dirs — but the deletes were lost).
    // `layout` already excluded these names from `bs`, so a replay
    // re-creating one mid-call cannot sneak into the snapshot.
    folded0.foreach { name =>
      val p = new Path(root, name)
      if (fs.exists(p)) fs.delete(p, true)
    }
    val complete = bs.filter(p => fs.exists(new Path(p, "_SUCCESS")))
    if (complete.isEmpty) return // nothing new to fold
    val inputs = newest.map(_._2).toSeq ++ complete
    val df = fold(kind, spark.read.parquet(inputs.map(_.toString): _*))
    val n = graft.operators.Compaction.targetFileCount(df, targetFileBytes)
    val seq = newest.map(_._1 + 1).getOrElse(0L)
    val staging = new Path(root, s"_graft_staging_c$seq")
    df.repartition(n).write.mode("overwrite").parquet(staging.toString)
    val foldedNow = folded0 ++ inputs.map(_.getName)
    writeAtomic(fs, staging, FoldedMarker,
      foldedNow.toSeq.sorted.mkString("\n") + "\n" + MarkerEnd + "\n")
    val published = new Path(root, cName(seq))
    if (!fs.rename(staging, published))
      throw new IllegalStateException(
        s"Failed to publish compacted stat-log partition '$published'")
    inputs.foreach(p => if (fs.exists(p)) fs.delete(p, true))
  }
}
