package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class SkewSpec extends SparkTestBase {
  import spark.implicits._

  // one hot key (90% of rows) plus a uniform tail
  private lazy val facts = ((1 to 900).map(i => ("hot", i)) ++
    (1 to 100).map(i => (s"k${i % 10}", i))).toDF("k", "v")
  private lazy val dims = ("hot" +: (0 until 10).map(i => s"k$i"))
    .zipWithIndex.toDF("k", "dim_val")

  test("saltedJoin matches plain join for inner and left") {
    for (jt <- Seq("inner", "left")) {
      val expected = facts.join(dims, Seq("k"), jt)
        .orderBy("k", "v").collect().toSeq
      val got = Skew.saltedJoin(facts, dims, Seq("k"), saltFactor = 5, joinType = jt)
        .orderBy("k", "v").collect().toSeq
      assert(got == expected, s"join type $jt")
    }
  }

  test("saltedJoin left_anti keeps only unmatched left rows") {
    val extra = facts.union(Seq(("nokey", 1)).toDF("k", "v"))
    val got = Skew.saltedJoin(extra, dims, Seq("k"), 4, joinType = "left_anti")
    assert(got.collect().map(_.getString(0)).toSeq == Seq("nokey"))
  }

  test("saltedJoin rejects join types that replicate unmatched right rows") {
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(facts, dims, Seq("k"), 4, joinType = "full_outer")
    }
    intercept[IllegalArgumentException] {
      Skew.saltedJoin(facts, dims, Seq("k"), 0)
    }
  }

  test("saltedCountDistinct matches count_distinct") {
    val df = ((1 to 500).map(i => ("hot", i % 97)) ++
      (1 to 50).map(i => ("cold", i % 7))).toDF("k", "v")
    val expected = df.groupBy("k").agg(count_distinct($"v").as("distinct_count"))
      .orderBy("k").collect().toSeq
    val got = Skew.saltedCountDistinct(df, Seq("k"), "v", saltFactor = 8)
      .orderBy("k").collect().toSeq
    assert(got == expected)
  }

  test("connectedComponents labels chains, cliques, and string ids") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), // 5-node chain
      (10L, 11L), (11L, 10L), // clique w/ reversed dup
      (20L, 21L)).toDF("a", "b")
    val got = Dedup.connectedComponents(pairs, "a", "b")
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(got == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L, 5L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L))
    val sPairs = Seq(("b", "a"), ("b", "c")).toDF("x", "y")
    val sGot = Dedup.connectedComponents(sPairs, "x", "y")
      .orderBy("node").as[(String, String)].collect().toSeq
    assert(sGot == Seq("a" -> "a", "b" -> "a", "c" -> "a"))
  }

  test("connectedComponents throws when maxIter is hit unconverged") {
    // an 8-node path needs ~4 rounds of min-label propagation; cap at 2
    val path = (1L until 8L).map(i => (i, i + 1)).toDF("a", "b")
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val ex = intercept[IllegalStateException] {
      Dedup.connectedComponents(path, "a", "b", maxIter = 2,
        algorithm = "labelprop")
    }
    assert(ex.getMessage.contains("did not converge"))
    // the loud path releases the loop's live checkpoints: the round
    // state and the co-partitioned edges
    assert((spark.sparkContext.getPersistentRDDs.keySet.toSet -- before).isEmpty,
      "an unconverged labelprop run must not leave checkpoints persisted")
    // same graph with enough rounds still collapses to one component
    val ok = Dedup.connectedComponents(path, "a", "b", maxIter = 10,
      algorithm = "labelprop")
      .agg(count_distinct(col("comp"))).head.getLong(0)
    assert(ok == 1L)
  }

  test("local union-find matches the distributed algorithms") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (20L, 21L), (21L, 22L), (20L, 22L)).toDF("a", "b")
    def run(alg: String) = Dedup.connectedComponents(pairs, "a", "b", algorithm = alg)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    val local = run("local")
    assert(local == run("labelprop") && local == run("stars"))
    // auto on a small graph IS the local path (same output either way)
    assert(run("auto") == local)
    // explicit local above the threshold is refused, not attempted
    assert(Dedup.LocalEdgeThreshold >= 1000000L)
  }

  test("stars algorithm matches labelprop on mixed graphs") {
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L),
      (10L, 11L), (11L, 10L), (20L, 21L), (21L, 22L), (20L, 22L)).toDF("a", "b")
    def run(alg: String) = Dedup.connectedComponents(pairs, "a", "b", algorithm = alg)
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(run("stars") == run("labelprop"))
    // string ids traverse greatest/least the same way
    val sPairs = Seq(("b", "a"), ("b", "c")).toDF("x", "y")
    val sGot = Dedup.connectedComponents(sPairs, "x", "y", algorithm = "stars")
      .orderBy("node").as[(String, String)].collect().toSeq
    assert(sGot == Seq("a" -> "a", "b" -> "a", "c" -> "a"))
  }

  test("stars collapses a path far longer than its round budget") {
    // a 60-node path has diameter 59: labelprop would need ~30+ rounds, but
    // star contraction halves depth each round — well inside maxIter = 10
    val path = (1L until 60L).map(i => (i, i + 1)).toDF("a", "b")
    val labels = Dedup.connectedComponents(path, "a", "b",
      maxIter = 10, algorithm = "stars")
      .as[(Long, Long)].collect().toSeq
    assert(labels.size == 60 && labels.forall(_._2 == 1L))
  }

  test("stars handles empty and already-star inputs") {
    val empty = Seq.empty[(Long, Long)].toDF("a", "b")
    assert(Dedup.connectedComponents(empty, "a", "b", algorithm = "stars")
      .collect().isEmpty)
    val star = Seq((2L, 1L), (3L, 1L), (4L, 1L)).toDF("a", "b")
    val got = Dedup.connectedComponents(star, "a", "b", algorithm = "stars")
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(got == Seq(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L))
    // a node whose only pair is a self-loop still comes back labeled
    val selfLoop = Seq((9L, 9L), (2L, 1L)).toDF("a", "b")
    val sGot = Dedup.connectedComponents(selfLoop, "a", "b", algorithm = "stars")
      .orderBy("node").as[(Long, Long)].collect().toSeq
    assert(sGot == Seq(1L -> 1L, 2L -> 1L, 9L -> 9L))
  }

  test("connectedComponents never mutates the caller session's conf, even mid-flight") {
    import spark.implicits._
    // the loop's shuffle-width/AQE overrides run on a SESSION CLONE; a
    // concurrent reader polling the caller's session during the whole
    // run must never observe them (the old in-place override + restore
    // was visible for the entire loop)
    val key = "spark.sql.shuffle.partitions"
    val before = spark.conf.get(key)
    val beforeAqe = spark.conf.get("spark.sql.adaptive.enabled")
    // a long chain forces a genuine multi-round distributed loop
    val path = (0L until 3000L).map(i => (i, i + 1)).toDF("a", "b")
    val observed = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    @volatile var running = true
    val poller = new Thread(() => {
      while (running) {
        val v = spark.conf.get(key)
        val a = spark.conf.get("spark.sql.adaptive.enabled")
        if (v != before || a != beforeAqe) observed.add(s"$key=$v aqe=$a")
        Thread.sleep(2)
      }
    })
    poller.start()
    try {
      val labels = Dedup.connectedComponents(path, "a", "b",
        algorithm = "stars")
        .select("comp").distinct().count()
      assert(labels == 1L)
    } finally { running = false; poller.join() }
    assert(observed.isEmpty,
      s"caller conf observed mutated mid-flight: ${observed.toArray.mkString(", ")}")
    assert(spark.conf.get(key) == before)
    // the returned frame is bound to the CALLER's session (downstream
    // plans must use caller conf, not the clone's loop sizing)
    val out = Dedup.connectedComponents(
      Seq((1L, 2L)).toDF("a", "b"), "a", "b", algorithm = "stars")
    assert(out.sparkSession eq spark)
  }

  test("skewReport ranks hot keys exactly; saltPlan sizes salts; nulls count") {
    val rows = Seq.fill(60)(("hot", 1)) ++ Seq.fill(25)(("warm", 1)) ++
      Seq.fill(10)((null: String, 1)) ++ Seq.fill(5)(("cold", 1))
    val df = rows.toDF("k", "v")
    val rep = Skew.skewReport(df, Seq("k"), k = 3)
      .collect().map(r => (Option(r.getString(0)).getOrElse("NULL"),
        r.getLong(1), r.getLong(2), r.getInt(3)))
    assert(rep.toSeq == Seq(("hot", 60L, 600000L, 1),
      ("warm", 25L, 250000L, 2), ("NULL", 10L, 100000L, 3)), s"got ${rep.toSeq}")
    val plan = Skew.saltPlan(df, Seq("k"), targetRowsPerTask = 20)
      .collect().map(r => Option(r.getString(0)).getOrElse("NULL") ->
        (r.getLong(1), r.getLong(2))).toMap
    assert(plan == Map("hot" -> ((60L, 3L)), "warm" -> ((25L, 2L))),
      s"got $plan") // ceil(60/20)=3, ceil(25/20)=2; cold tail absent
    intercept[IllegalArgumentException](Skew.skewReport(df, Nil))
    intercept[IllegalArgumentException](
      Skew.skewReport(df.limit(0), Seq("k")))
    intercept[IllegalArgumentException](
      Skew.saltPlan(df, Seq("k"), targetRowsPerTask = 0))
  }
}
