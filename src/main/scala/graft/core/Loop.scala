package graft.core

import org.apache.spark.sql.{Column, DataFrame, GraftSqlBridge, Observation, SparkSession}

/** The plumbing every iterative operator shares: a loop-width session
  * clone, and the lifecycle of the eager `localCheckpoint`s that truncate
  * a loop's lineage round by round.
  *
  * Why checkpoints: an iterative plan that only persists still
  * re-ANALYZES its whole lineage per round (each round's plan references
  * the previous one), so analysis cost grows with the round count.
  * Checkpointing truncates the logical plan to materialized blocks — but
  * a checkpoint is storage held until someone releases it, and a
  * truncated-lineage plan cannot be recomputed once it is released.
  * [[iterate]] runs on [[Caches.holding]]: a round's checkpoint releases
  * its predecessor only after it is materialized; a throw releases every
  * checkpoint the loop still holds; on return the checkpoints the result
  * still reads are registered with the caller's `collectPins` scope and
  * every other one is released.
  */
object Loop {

  /** Session clone whose shuffle width is right-sized to an iterative
    * loop's data: each round shuffles the (often small relative to the
    * cluster) edge/state tables, and many rounds of default-width tiny
    * tasks are pure scheduler overhead — measured as the DOMINANT cost of
    * the iterative queries at bench scale (~220 sub-50 ms jobs per query
    * at 32-way width over sub-million-row graphs). ~250k rows per
    * partition, never above the session width — so at cluster scale with
    * large inputs the width is UNCHANGED and only the small-input case
    * collapses. AQE is off on the clone: it re-plans every stage of every
    * round and buys nothing once the width is right-sized. Conf overrides
    * live on the CLONE only — concurrent queries on the caller's session
    * never observe them — and results go back through [[rebind]].
    *
    * The clone is REUSED, not rebuilt per call: one clone per caller
    * session (by identity), loop width and caller runtime conf
    * (`spark.conf.getAll`), so a changed caller conf gets a fresh clone.
    * Spark keys its generated-code cache on (task class loader, source),
    * and every session runs its tasks under its own class loader — a
    * fresh clone per call recompiles every executor-side class its plans
    * touch, on every call. The clones live in a `MaxClones`-entry LRU,
    * so discarded caller sessions are not pinned for long. A clone's conf
    * is set once, before it is published, and never mutated afterwards,
    * which is what lets concurrent operator calls share it. It sees the
    * caller's temp views and function registry as they were at clone
    * time; no loop resolves a view or UDF by name (every plan on it is a
    * [[rebind]] of caller-built frames), so that snapshot is never read.
    */
  def session(spark: SparkSession, rows: Long): SparkSession = {
    val defaultParts = spark.sessionState.conf.numShufflePartitions
    val parts = math.max(1,
      math.min(defaultParts, math.ceil(rows / 250e3).toInt))
    // SparkSession keeps reference equality: the key holds the caller by identity
    val key = (spark, parts, spark.conf.getAll)
    clones.synchronized {
      Option(clones.get(key)).getOrElse {
        val iso = GraftSqlBridge.cloneSession(spark)
        iso.conf.set("spark.sql.shuffle.partitions", parts.toString)
        iso.conf.set("spark.sql.adaptive.enabled", "false")
        clones.put(key, iso)
        iso
      }
    }
  }

  /** How many loop sessions [[session]] keeps: a few callers × widths. */
  private val MaxClones = 8

  private type CloneKey = (SparkSession, Int, Map[String, String])

  private val clones = new java.util.LinkedHashMap[CloneKey, SparkSession](16, 0.75f, true) {
    override def removeEldestEntry(
        e: java.util.Map.Entry[CloneKey, SparkSession]): Boolean = size > MaxClones
  }

  /** `df`'s plan on `spark` (same SparkContext): checkpointed frames move
    * between a loop session and the caller's for free. */
  def rebind(df: DataFrame, spark: SparkSession): DataFrame =
    GraftSqlBridge.rebind(df, spark)

  /** A checkpoint-rotating loop over one state table. Round `r` (1-based)
    * calls `step(state, r)`: `None` ends the loop with `state` as the
    * result; `Some(next)` is checkpointed, the previous state released,
    * and `until(checkpoint, r, observed)` probed — `true` ends the loop.
    * At most `rounds` rounds run; when they run out before the loop ended
    * and `unconverged` is set, it is thrown as an [[IllegalStateException]]
    * (a truncated fixpoint is not an answer). Returns the last state,
    * registered with [[Caches]].
    *
    * `observe` is a convergence signal that costs no Spark action: named
    * aggregates riding on each round's checkpoint job (`Dataset.observe`);
    * `observed` maps each name to its value (empty without `observe`).
    * An `until` that probes the checkpoint instead adds a job per round.
    *
    * `init` is the already-checkpointed round-0 state and the loop owns
    * it (released once round 1's checkpoint lands, or on throw). A
    * derived `init` — e.g. a projection of the caller's checkpoint, or a
    * lazy plan round 1 computes — leaves that checkpoint with the caller.
    */
  def iterate(
      init: DataFrame,
      rounds: Int = Int.MaxValue,
      until: (DataFrame, Int, Map[String, Any]) => Boolean = (_, _, _) => false,
      unconverged: Option[String] = None,
      observe: Seq[Column] = Nil)(
      step: (DataFrame, Int) => Option[DataFrame]): DataFrame =
    Caches.holding { held =>
      var state = held.adopt(init)
      var r = 1
      var done = false
      while (!done && r <= rounds) step(state, r) match {
        case None => done = true
        case Some(next) =>
          val seen = Option.when(observe.nonEmpty)(Observation())
          val c = held(seen.fold(next)(o => next.observe(o, observe.head, observe.tail: _*)))
          held.release(state)
          state = c
          done = until(c, r, seen.fold(Map.empty[String, Any])(_.get))
          r += 1
      }
      if (!done) unconverged.foreach(m => throw new IllegalStateException(m))
      state
    }

  /** An [[iterate]] `until` that ends the loop the round its observed
    * values repeat the previous round's; `round0` stands for the round
    * before the first. */
  def repeats(round0: Map[String, Any]): (DataFrame, Int, Map[String, Any]) => Boolean = {
    var last = round0
    (_, _, seen) => { val done = seen == last; last = seen; done }
  }
}
