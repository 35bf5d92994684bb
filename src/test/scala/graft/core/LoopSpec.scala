package graft.core

import graft.SparkTestBase
import org.apache.spark.sql.SparkSession

/** Lifecycle contract of [[Loop]]: a throw anywhere in a loop releases
  * every checkpoint it holds, and a returned result keeps exactly the
  * checkpoints it reads — registered with the caller's pin scope.
  */
class LoopSpec extends SparkTestBase {
  import spark.implicits._

  private def pinnedNow: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("a step that throws in round 3 leaves nothing persisted") {
    val before = pinnedNow
    val ex = intercept[IllegalStateException] {
      Loop.iterate(spark.range(10).toDF("x").localCheckpoint(true)) { (s, r) =>
        if (r == 3) throw new IllegalStateException(s"boom in round $r")
        Some(s.select(($"x" + 1).as("x")))
      }
    }
    assert(ex.getMessage == "boom in round 3")
    assert((pinnedNow -- before).isEmpty,
      "the round-2 state must be released when round 3 throws")
  }

  test("an exhausted round budget throws `unconverged` and leaves nothing persisted") {
    val before = pinnedNow
    var probes = 0
    val ex = intercept[IllegalStateException] {
      Loop.iterate(spark.range(4).toDF("x").localCheckpoint(true),
        rounds = 3, until = (_, _, _) => { probes += 1; false },
        unconverged = Some("no fixpoint in 3 rounds")) { (s, _) =>
        Some(s.select(($"x" * 2).as("x")))
      }
    }
    assert(ex.getMessage == "no fixpoint in 3 rounds" && probes == 3)
    assert((pinnedNow -- before).isEmpty)
  }

  test("on return the checkpoints the result reads stay pinned in the caller's scope; the rest are released") {
    val before = pinnedNow
    val (out, pins) = Caches.collectPins {
      Caches.holding { held =>
        val a = held(spark.range(5).toDF("x"))
        val b = held(a.select(($"x" * 2).as("y")))
        held(spark.range(3).toDF("z")) // the result never reads this one
        a.join(b, $"x" === $"y")
      }
    }
    assert(out.count() == 3L)
    assert((pinnedNow -- before).size == 2, "a and b stay pinned for the result")
    pins.release()
    assert((pinnedNow -- before).isEmpty)
  }

  test("Loop.session reuses one clone per caller session, loop width and caller conf") {
    // width = ceil(rows / 250k) capped at the caller's 4 partitions:
    // 10 and 20 rows run 1 wide, 600k rows 3 wide
    val rows: Seq[(String, SparkSession => Boolean)] = Seq(
      "the same caller, width and conf get the same clone" -> { c =>
        Loop.session(c, 10L) eq Loop.session(c, 20L)
      },
      "a different width gets a different clone" -> { c =>
        Loop.session(c, 10L) ne Loop.session(c, 600000L)
      },
      "a changed caller conf gets a different clone" -> { c =>
        val before = Loop.session(c, 10L)
        c.conf.set("spark.sql.caseSensitive", "true")
        before ne Loop.session(c, 10L)
      },
      "a conf set on a clone never shows on the caller" -> { c =>
        val iso = Loop.session(c, 600000L)
        iso.conf.get("spark.sql.shuffle.partitions") == "3" &&
          iso.conf.get("spark.sql.adaptive.enabled") == "false" &&
          c.conf.get("spark.sql.shuffle.partitions") == "4" &&
          c.conf.get("spark.sql.adaptive.enabled") == "true"
      })
    for ((row, holds) <- rows) {
      val caller = spark.newSession()
      caller.conf.set("spark.sql.shuffle.partitions", "4")
      caller.conf.set("spark.sql.adaptive.enabled", "true")
      assert(holds(caller), row)
    }
  }
}
