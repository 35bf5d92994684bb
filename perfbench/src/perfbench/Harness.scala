package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** One workload: seeded inputs, one pipeline pass, an output check. */
trait Workload {
  /** Generate the inputs and their independent references from `seed`.
    * Runs several times (set-up time is a median); each run replaces the
    * previous one's state. */
  def setup(spark: SparkSession, seed: Long, work: String): Unit

  /** Restore the pre-pass state (tables, logs, counters). Untimed. */
  def reset(): Unit = ()

  /** One pipeline pass. Every call into the library goes through `p.call`
    * and materializes its result inside that call. */
  def pass(p: Pass): Unit

  /** Mismatches between the last pass's outputs and the references. */
  def check(): Seq[String]

  /** Workload-specific per-layer metrics over the traced passes:
    * name -> (value, unit). */
  def layerMetrics(traced: Seq[PassResult]): Map[String, (Double, String)] = Map.empty

  /** One line describing the generated inputs (rows and bytes). */
  def inputs: String

  def close(): Unit = ()
}

final case class Span(name: String, startNs: Long, endNs: Long) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Context of one pass: counts calls and, when traced, tags each call's
  * Spark jobs with a job group named after the call and records its span. */
final class Pass(val index: Int, val traced: Boolean, sc: SparkContext) {
  var attempted = 0
  var failed = 0
  val spans = mutable.ArrayBuffer.empty[Span]

  def call[T](name: String)(body: => T): T = {
    attempted += 1
    if (traced) sc.setJobGroup(name, name)
    val t0 = System.nanoTime()
    try body
    catch { case e: Throwable => failed += 1; throw e }
    finally {
      val t1 = System.nanoTime()
      if (traced) {
        sc.clearJobGroup()
        spans += Span(name, t0, t1)
      }
    }
  }
}

final case class PassResult(
    index: Int, traced: Boolean, wall: Double, attempted: Int, failed: Int,
    pinnedAfter: Int, spans: Seq[Span], groups: Map[String, Counts]) {
  def total: Counts = groups.values.foldLeft(Counts())(_ + _)
  def group(name: String): Counts = groups.getOrElse(name, Counts())
  def spanSeconds(name: String): Double = spans.filter(_.name == name).map(_.seconds).sum
}

/** Listener counts of the jobs one job group ran. Times in ms, sizes in bytes. */
final case class Counts(
    jobs: Long = 0, tasks: Long = 0, runMs: Long = 0, gcMs: Long = 0,
    shuffleWrite: Long = 0, shuffleRead: Long = 0, spill: Long = 0,
    written: Long = 0) {
  def +(o: Counts): Counts = Counts(jobs + o.jobs, tasks + o.tasks,
    runMs + o.runMs, gcMs + o.gcMs, shuffleWrite + o.shuffleWrite,
    shuffleRead + o.shuffleRead, spill + o.spill, written + o.written)
}

/** Benchmark-owned listener: job, task, GC, shuffle, spill and output
  * counts keyed by the job group [[Pass.call]] sets (untagged jobs, e.g.
  * a streaming query's own thread, land under ""). */
final class LayerListener extends SparkListener {
  private val byGroup = mutable.Map.empty[String, Counts]
  private val stageGroup = mutable.Map.empty[Int, String]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")
    e.stageIds.foreach(stageGroup(_) = g)
    byGroup(g) = byGroup.getOrElse(g, Counts()) + Counts(jobs = 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val g = stageGroup.getOrElse(e.stageId, "")
    val c =
      if (m == null) Counts(tasks = 1)
      else Counts(tasks = 1, runMs = m.executorRunTime, gcMs = m.jvmGCTime,
        shuffleWrite = m.shuffleWriteMetrics.bytesWritten,
        shuffleRead = m.shuffleReadMetrics.totalBytesRead,
        spill = m.memoryBytesSpilled + m.diskBytesSpilled,
        written = m.outputMetrics.bytesWritten)
    byGroup(g) = byGroup.getOrElse(g, Counts()) + c
  }

  def snapshot: Map[String, Counts] = synchronized(byGroup.toMap)
}

/** Runs passes from one fixed starting state: no cached tables, no
  * persisted RDDs, the workload's own state reset. Each pass runs inside a
  * [[graft.core.Caches.collectPins]] scope whose pins are released after
  * it; `pinnedAfter` counts the persisted RDDs still alive after that —
  * state the library leaked past its own pin discipline. */
final class Runner(spark: SparkSession, w: Workload) {
  private val sc = spark.sparkContext
  val cores: Int = sc.defaultParallelism
  var mismatches = 0
  private var index = 0

  def run(traced: Boolean): PassResult = {
    spark.catalog.clearCache()
    sc.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
    w.reset()
    val listener = if (traced) Some(new LayerListener) else None
    listener.foreach(sc.addSparkListener)
    val p = new Pass(index, traced, sc)
    val t0 = System.nanoTime()
    val (_, pins) = graft.core.Caches.collectPins {
      try w.pass(p)
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] pass $index aborted: $e")
          e.printStackTrace()
      }
    }
    val wall = Main.secondsSince(t0)
    pins.release(blocking = true)
    val pinned = sc.getPersistentRDDs.size
    sc.getPersistentRDDs.values.foreach(r =>
      System.err.println(s"[perfbench] pass $index left persisted: $r (${r.getStorageLevel})"))
    val groups = listener.map { l =>
      org.apache.spark.BenchBridge.drainListenerBus(sc)
      sc.removeSparkListener(l)
      l.snapshot
    }.getOrElse(Map.empty)
    val bad = if (p.failed > 0) Seq("a library call failed") else w.check()
    if (bad.nonEmpty) {
      mismatches += 1
      bad.take(10).foreach(m => System.err.println(s"[perfbench] pass $index: $m"))
    }
    index += 1
    PassResult(p.index, traced, wall, p.attempted, p.failed, pinned, p.spans.toSeq, groups)
  }
}

/** Per-layer metrics every workload reports, as medians over traced passes:
  * the `core` scheduler/executor view of the whole pass, and for each
  * library call `<call>.s` (span seconds per pass), `<call>.jobs` and
  * `<call>.shuffle_mb` (listener counts of the call's job group). */
object Layers {
  def of(traced: Seq[PassResult], cores: Int): Seq[(String, Double, String)] = {
    def med(f: PassResult => Double) = Stats.median(traced.map(f))
    val core = Seq(
      ("core.sched_share", med(p => 1.0 - p.total.runMs / 1000.0 / (p.wall * cores)), "ratio"),
      ("core.jobs", med(_.total.jobs.toDouble), "count"),
      ("core.tasks", med(_.total.tasks.toDouble), "count"),
      ("core.gc_s", med(_.total.gcMs / 1000.0), "s"),
      ("core.spill_mb", med(_.total.spill / 1e6), "MB"))
    val calls = traced.flatMap(_.spans.map(_.name)).distinct.sorted
    core ++ calls.flatMap { n =>
      Seq((s"$n.s", med(_.spanSeconds(n)), "s"),
        (s"$n.jobs", med(_.group(n).jobs.toDouble), "count"),
        (s"$n.shuffle_mb", med(_.group(n).shuffleWrite / 1e6), "MB"))
    }
  }
}

/** The traced run's record, written once at exit: every span and the
  * listener counts of every job group, per pass. */
object Trace {
  def write(a: Main.Args, traced: Seq[PassResult], plain: Seq[PassResult]): Unit = {
    val dir = new java.io.File(a.traceDir)
    dir.mkdirs()
    def counts(c: Counts) =
      s"""{"jobs": ${c.jobs}, "tasks": ${c.tasks}, "run_ms": ${c.runMs}, "gc_ms": ${c.gcMs}, """ +
        s""""shuffle_write": ${c.shuffleWrite}, "shuffle_read": ${c.shuffleRead}, """ +
        s""""spill": ${c.spill}, "written": ${c.written}}"""
    def pass(p: PassResult) =
      s"""{"pass": ${p.index}, "traced": ${p.traced}, "wall_s": ${p.wall}, "pinned_after": ${p.pinnedAfter}, """ +
        s""""spans": [${p.spans.map(s =>
          s"""{"name": ${Json.str(s.name)}, "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}""").mkString(", ")}], """ +
        s""""groups": {${p.groups.toSeq.sortBy(_._1).map { case (g, c) =>
          s"${Json.str(g)}: ${counts(c)}" }.mkString(", ")}}}"""
    val body = s"""{"workload": ${Json.str(a.workload)}, "seed": ${a.seed}, "passes": [""" +
      (traced ++ plain).sortBy(_.index).map(pass).mkString(",\n") + "]}\n"
    val f = new java.io.File(dir, s"${a.workload}-seed${a.seed}.json")
    java.nio.file.Files.write(f.toPath, body.getBytes("UTF-8"))
    println(s"[perfbench] trace written to ${f.getPath}")
  }
}
