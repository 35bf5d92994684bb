package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Pipeline benchmark driver: one named workload, inputs generated from a
  * seed, a closed loop of identical pipeline passes on Spark `local[N]`.
  *
  * Run shape: session start, then input generation repeated three times
  * (the median counts toward `setup_s`), then untraced warm-up passes (see
  * below), then measured passes for `--seconds`, at least [[MinPasses]] of
  * each kind. `pass_s` is the fastest measured pass: a run affords only a
  * few passes and the first of them still carries JIT drift, so best-of-N
  * is the steadier estimate of the warm pass time. Every pass starts from
  * the same state (see [[Runner]]) and its outputs are checked against
  * references the workload computed in plain Scala at set-up.
  *
  * `--trace 0` measures with no instrumentation and prints the end-to-end
  * metrics. `--trace 1` interleaves traced and untraced passes and prints
  * the per-layer metrics: medians over the traced passes, plus
  * `trace.overhead_s`, the traced minus the untraced median pass time.
  */
object Main {
  val MinPasses = 2
  val MaxWarmup = 6

  final case class Args(
      workload: String, seed: Long, seconds: Int, trace: Boolean,
      cores: Int, work: String, traceDir: String)

  private def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    def need(k: String) =
      kv.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", kv.getOrElse("cores", "4").toInt, need("work"),
      kv.getOrElse("trace-dir", need("work")))
  }

  def workloadFor(name: String): Workload = name match {
    case "graph_loops" => new GraphLoops
    case "corpus_curation" => new CorpusCuration
    case "cdc_ingest" => new CdcIngest
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = workloadFor(a.workload)
    val t0 = System.nanoTime()
    val spark = graft.core.Sessions.createSession("perfbench",
      Some(s"local[${a.cores}]"), Map(
        "spark.sql.shuffle.partitions" -> a.cores.toString,
        "spark.local.dir" -> s"${a.work}/spark-local",
        "spark.sql.warehouse.dir" -> s"${a.work}/warehouse",
        "spark.hadoop.hadoop.tmp.dir" -> s"${a.work}/hadoop-tmp",
        // bound the status store so retained heap does not grow with the
        // number of passes a run happens to fit
        "spark.ui.retainedJobs" -> "100",
        "spark.ui.retainedStages" -> "100",
        "spark.ui.retainedTasks" -> "2000",
        "spark.sql.ui.retainedExecutions" -> "50"))
    val sessionS = secondsSince(t0)
    val code =
      try { run(a, w, spark, sessionS); 0 }
      catch {
        case e: Throwable =>
          System.err.println(s"[perfbench] run failed: $e")
          e.printStackTrace()
          1
      } finally {
        w.close()
        spark.stop()
      }
    sys.exit(code)
  }

  private def run(a: Args, w: Workload, spark: SparkSession, sessionS: Double): Unit = {
    val gens = (1 to 3).map { _ =>
      val g0 = System.nanoTime()
      w.setup(spark, a.seed, a.work)
      secondsSince(g0)
    }
    val setupS = sessionS + Stats.median(gens)
    println(s"[perfbench] ${a.workload} seed=${a.seed} inputs: ${w.inputs}")

    val runner = new Runner(spark, w)
    // warm-up: the first pass runs on a cold JIT; more passes follow only
    // while they fit in `--seconds` and still drift by more than 10%
    val warm = mutable.ArrayBuffer.empty[Double]
    val warmStart = System.nanoTime()
    def settled = warm.size >= 2 &&
      math.abs(warm.last - warm(warm.size - 2)) <= 0.1 * warm(warm.size - 2)
    while (warm.isEmpty || (!settled && warm.size < MaxWarmup &&
        secondsSince(warmStart) + warm.last < a.seconds))
      warm += runner.run(traced = false).wall

    val passes = mutable.ArrayBuffer.empty[PassResult]
    val start = System.nanoTime()
    def enough(traced: Boolean) = passes.count(_.traced == traced) >= MinPasses
    // trace mode orders passes T U U T T U U T …, so a drift that is still
    // settling weighs equally on both sides of trace.overhead_s
    while (secondsSince(start) < a.seconds || !enough(false) ||
        (a.trace && !enough(true)))
      passes += runner.run(traced = a.trace && Set(0, 3)(passes.size % 4))

    val plain = passes.filterNot(_.traced)
    val traced = passes.filter(_.traced)
    val attempted = passes.map(_.attempted).sum
    val failed = passes.map(_.failed).sum
    val correct = failed == 0 && runner.mismatches == 0
    def fmt(xs: Iterable[Double]) = xs.map(x => f"$x%.3f").mkString(" ")
    println(s"[perfbench] warm-up ${fmt(warm)}; measured ${fmt(passes.map(_.wall))} " +
      s"(${plain.size} untraced, ${traced.size} traced); " +
      s"calls $attempted, failed $failed, mismatching passes ${runner.mismatches}")

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) Seq(
        ("pass_s", plain.map(_.wall).min, "s"),
        ("setup_s", setupS, "s"),
        ("retained_heap_mb", Heap.retainedMb(spark), "MB"))
      else {
        val layers = Layers.of(traced.toSeq, runner.cores) ++
          w.layerMetrics(traced.toSeq).map { case (k, (v, u)) => (k, v, u) }
        val overhead = Stats.median(traced.map(_.wall)) - Stats.median(plain.map(_.wall))
        Trace.write(a, traced.toSeq, plain.toSeq)
        layers ++ Seq(
          ("trace.overhead_s", overhead, "s"),
          ("core.pinned_after_pass", passes.map(_.pinnedAfter).max.toDouble, "count"),
          ("passes", traced.size.toDouble, "count"),
          ("failed_frac", failed.toDouble / math.max(attempted, 1), "ratio"),
          ("env.canary_s", Canary.seconds(), "s"))
      }
    println(Json.result(correct, attempted, failed, metrics))
  }
}

/** Medians and small helpers over samples. */
object Stats {
  def median(xs: Iterable[Double]): Double = {
    val s = xs.toVector.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}

/** Heap in use after a forced full collection. */
object Heap {
  def retainedMb(spark: SparkSession): Double = {
    spark.catalog.clearCache()
    val rt = Runtime.getRuntime
    (1 to 3).foreach { _ => System.gc(); Thread.sleep(50) }
    (rt.totalMemory() - rt.freeMemory()) / 1e6
  }
}

/** Fixed synthetic CPU probe: it does not depend on the program under test,
  * so a slow reading marks a contended machine, not a regression. */
object Canary {
  def seconds(): Double = Stats.median((1 to 3).map { _ =>
    val t0 = System.nanoTime()
    val r = new scala.util.Random(7)
    val xs = Array.fill(400000)(r.nextLong())
    java.util.Arrays.sort(xs)
    if (xs(0) > xs(xs.length - 1)) throw new IllegalStateException("canary")
    Main.secondsSince(t0)
  })
}

/** The result line: `{"correct", "attempted", "failed", "metrics"}`. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0.0" else v.toString

  def result(correct: Boolean, attempted: Int, failed: Int,
      metrics: Seq[(String, Double, String)]): String =
    s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""" +
      metrics.map { case (k, v, u) =>
        s"""${str(k)}: {"value": ${num(v)}, "unit": ${str(u)}}"""
      }.mkString(", ") + "}}"
}
