package graft.core

import graft.SparkTestBase
import graft.operators.{Dedup, Graphs}
import org.apache.spark.metrics.source.CodegenMetrics

/** Generated code lives as long as the application: a loop operator
  * called again on the same input compiles no class. [[Loop.session]]
  * reuses its session clone (Spark keys the codegen cache on the task
  * class loader, one per session), and the cache holds more than one
  * call's classes.
  */
class CodegenReuseSpec extends SparkTestBase {
  import spark.implicits._

  /** Janino compiles `body` triggers, JVM-wide. */
  private def compiles(body: => Unit): Long = {
    val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    body
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
  }

  // a 4-clique, a triangle hanging off it and a tail: three core levels
  private lazy val edges = Seq(
    (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
    (4L, 5L), (5L, 6L), (4L, 6L), (6L, 7L), (7L, 8L),
    (10L, 11L)).toDF("src", "dst")

  private val calls: Seq[(String, () => Unit)] = Seq(
    "Graphs.pageRank" -> (() => Graphs.pageRank(edges, "src", "dst").collect()),
    "Graphs.coreness" -> (() => Graphs.coreness(edges, "src", "dst").collect()),
    "Graphs.kCore" -> (() => Graphs.kCore(edges, "src", "dst", 2).collect()),
    "Dedup.connectedComponents(stars)" -> (() =>
      Dedup.connectedComponents(edges, "src", "dst", algorithm = "stars").collect()))

  for ((name, call) <- calls)
    test(s"a second $name call on the same input compiles 0 classes") {
      def once() = {
        val (_, pins) = Caches.collectPins(call())
        pins.release()
      }
      once()
      assert(compiles(once()) == 0L)
    }
}
