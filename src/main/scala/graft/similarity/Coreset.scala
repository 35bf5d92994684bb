package graft.similarity

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.core.Loop
import graft.functions.VectorFunctions

/** Diverse-subset selection by greedy k-center (Gonzalez 1985, the
  * farthest-first traversal): repeatedly pick the point farthest from
  * everything already picked. The classic 2-approximation to the
  * k-center cover — and the standard "coreset" recipe for training-data
  * curation: k maximally-spread exemplars beat k random docs for
  * instruction-seed selection, eval-set construction, and labeling
  * budgets (random sampling oversamples dense regions by construction).
  *
  * Deterministic: the first center is the minimum id (not a random
  * draw), every later pick breaks distance ties by ascending id, and
  * per-row distances are exact squared-L2 doubles — the same selection
  * on any engine, run, or partitioning.
  *
  * Scale shape: the corpus NEVER shuffles. Each of the k rounds is one
  * narrow map (min of the running distance and the distance to the new
  * center, both codegen'd dot products against a broadcast-literal
  * center) plus one TakeOrdered-style 1-row argmax; the running
  * min-distance column is checkpoint-rotated with release-on-throw
  * ([[graft.core.Loop.iterate]]). `k` is LOUDLY
  * bounded — the driver holds k centers and the plan grows by one
  * column op per round, not per row.
  */
object Coreset {

  /** Pick `k` k-center exemplars from `vecCol`; returns
    * `(center_rank, idCol, dist)` — rank 0 is the seed (min id), and
    * `dist` is the point's squared L2 distance to the PREVIOUSLY
    * selected set at the moment it was picked (the coverage radius
    * sequence — monotone non-increasing, a useful stopping signal).
    * NULL vectors are rejected loudly (a silently-dropped row would
    * change every later pick).
    */
  def kCenter(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1 && k <= 256,
      s"k must be in 1..256, got $k — k centers live on the driver and " +
        "each adds a round; sample + rerun for larger coresets")
    val spark = df.sparkSession
    import spark.implicits._
    val bad = df.where(col(vecCol).isNull || col(idCol).isNull)
      .limit(1).count()
    require(bad == 0L,
      s"kCenter: NULL $idCol/$vecCol rows present — filter upstream")
    val base = df.select(col(idCol).cast("string").as("__id"),
      col(vecCol).cast("array<double>").as("__v"))
    def distTo(center: Array[Double]) = {
      val c = typedlit(center.toIndexedSeq)
      VectorFunctions.sumSquares(col("__v")) -
        lit(2.0) * VectorFunctions.dot(col("__v"), c) +
        lit(center.map(x => x * x).sum)
    }
    val seedRow = base.orderBy(col("__id")).limit(1)
      .select(col("__id"), col("__v")).head(1)
    require(seedRow.nonEmpty, "kCenter: empty input")
    val seedId = seedRow.head.getString(0)
    val seedVec = seedRow.head.getSeq[Double](1).toArray
    val picked = scala.collection.mutable.ArrayBuffer(
      (0, seedId, 0.0))
    // the last state only feeds `picked`: released on return
    graft.core.Caches.holding { held =>
      held.adopt(Loop.iterate(
        base.select(col("__id"), col("__v"), distTo(seedVec).as("__d"))
          .localCheckpoint(true), rounds = k - 1) { (cur, r) =>
        val far = cur.orderBy(col("__d").desc, col("__id")).limit(1)
          .select(col("__id"), col("__v"), col("__d")).head(1)
        // fewer distinct points than k: stop early rather than repeat
        if (far.isEmpty || far.head.getDouble(2) == 0.0) None
        else {
          picked += ((r, far.head.getString(0), far.head.getDouble(2)))
          val vec = far.head.getSeq[Double](1).toArray
          Some(cur.select(col("__id"), col("__v"),
            least(col("__d"), distTo(vec)).as("__d")))
        }
      })
      picked.toSeq.toDF("center_rank", idCol, "dist")
    }
  }
}
