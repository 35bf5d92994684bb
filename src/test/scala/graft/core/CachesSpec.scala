package graft.core

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase
import graft.operators._
import graft.similarity.Coreset

/** Lifecycle contract of [[Caches]]: a scoped computation's pins — persisted
  * Datasets AND retained localCheckpoint RDDs — are fully released by
  * `pins.release()`, and nothing pinned by OTHER work on the shared context
  * is touched.
  */
class CachesSpec extends SparkTestBase {
  import spark.implicits._

  private def pinnedNow: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  private def nearDupCorpus = {
    val base = "spark fuse data pipeline with many shared tokens in common sequence order"
    Seq(
      (1L, base),
      (2L, base + " extra"),
      (3L, "completely unrelated content about cooking pasta with tomato sauce basil"),
      (4L, base),
      (5L, "another distinct document mentioning graphs components and stars contraction")
    ).toDF("id", "text")
  }

  test("scoped dedupCorpus releases every pin it took (local components path)") {
    val before = pinnedNow
    val (out, pins) = Caches.collectPins {
      Dedup.dedupCorpus(nearDupCorpus, "id", "text",
        numPerms = 16, bands = 4, shingleSize = 3, threshold = 0.4)
    }
    val ids = out.select("id").as[Long].collect().toSet // materialize FIRST
    assert(ids.contains(1L) && ids.contains(3L) && ids.contains(5L))
    assert(!ids.contains(4L)) // exact dup of 1 removed
    pins.release()
    assert((pinnedNow -- before).isEmpty,
      "dedupCorpus left pinned RDDs behind after scope release")
  }

  test("scoped stars components release loop checkpoints; result stays readable") {
    val before = pinnedNow
    // a 3-chain plus an isolated self-pair — forces >1 contraction round
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (7L, 8L), (9L, 9L))
      .toDF("id_a", "id_b")
    val (labels, pins) = Caches.collectPins {
      Dedup.connectedComponents(pairs, "id_a", "id_b", algorithm = "stars")
    }
    // intermediates (orientation input, per-round state) are already freed
    // DURING the loop; only the finals the result reads may remain pinned
    val got = labels.as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      7L -> 7L, 8L -> 7L, 9L -> 9L))
    pins.release()
    assert((pinnedNow -- before).isEmpty,
      "stars loop left pinned RDDs behind after scope release")
  }

  test("scoped labelprop components release loop checkpoints") {
    val before = pinnedNow
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("id_a", "id_b")
    val (labels, pins) = Caches.collectPins {
      Dedup.connectedComponents(pairs, "id_a", "id_b", algorithm = "labelprop")
    }
    val got = labels.as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L))
    pins.release()
    assert((pinnedNow -- before).isEmpty,
      "labelprop loop left pinned RDDs behind after scope release")
  }

  test("release touches only the scope's own pins, not a bystander cache") {
    val bystander = Seq((1L, "a")).toDF("k", "v")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      bystander.count()
      val (pairsDf, pins) = Caches.collectPins {
        Dedup.minhashLshPairs(nearDupCorpus, "id", "text",
          numPerms = 16, bands = 4, shingleSize = 3, threshold = 0.4)
      }
      assert(pins.size == 1) // the signature cache
      pairsDf.collect()
      pins.release()
      assert(bystander.storageLevel.useMemory,
        "scope release must not unpersist unrelated caches")
    } finally bystander.unpersist()
  }

  test("nested scopes: inner pins stay out of the outer handle") {
    val (outerResult, outerPins) = Caches.collectPins {
      val (_, innerPins) = Caches.collectPins {
        Caches.pin(Seq(1).toDF("x"))
      }
      assert(innerPins.size == 1)
      innerPins.release()
      Caches.pin(Seq(2).toDF("y"))
    }
    assert(outerPins.size == 1)
    outerResult.collect()
    outerPins.release()
  }

  test("a throwing body releases its own pins before propagating") {
    val pinned = Seq((1L, "x")).toDF("k", "v")
    val boom = intercept[RuntimeException] {
      Caches.collectPins {
        val p = Caches.pin(pinned)
        p.count() // materialize so the unpersist has something to drop
        throw new RuntimeException("body failed")
      }
    }
    assert(boom.getMessage == "body failed")
    assert(pinned.storageLevel ==
      org.apache.spark.storage.StorageLevel.NONE,
      "pins taken by a failed scope must not leak into the session")
    // the outer (no-scope) state is restored: pin outside works as before
    val again = Caches.pin(Seq(2).toDF("y"))
    try assert(again.storageLevel.useMemory)
    finally again.unpersist()
  }

  // Every operator that takes a checkpoint and returns or drops it: run
  // under a scope, materialize, release — no RDD the call created may
  // survive. Ids, not counts: a bystander's non-blocking unpersist can
  // land mid-measure and mask a leak in a size delta.
  test("every checkpointing operator leaves no RDD behind once its scope is released") {
    val root = java.nio.file.Files.createTempDirectory("graft_leaks_").toString
    val docs = Seq(("a", "x y z x y"), ("a", "x w"), ("b", "x y w w v"),
      ("b", "v v z")).toDF("src", "text")
    val labeled = (0 until 8).map(i =>
      (i.toLong, if (i % 2 == 0) s"alpha beta n$i" else s"gamma delta n$i",
        i % 2)).toDF("id", "text", "label")
    val edges = Seq(("a", "b"), ("b", "c"), ("c", "a"), ("c", "d"),
      ("d", "e"), ("b", "d")).toDF("src", "dst")
    val seeds = Seq("a", "c").toDF("seed")
    val vecs = Seq(("p", Seq(0.0, 1.0)), ("p", Seq(1.0, 0.5)),
      ("q", Seq(2.0, 0.0)), ("q", Seq(0.5, 3.0)), ("q", Seq(1.0, 1.0)))
      .toDF("k", "v")
    val fields = Seq(Linkage.FieldWeight("name", 0.95, 0.001))
    val rows: Seq[(String, () => DataFrame)] = Seq(
      "Validation.giniCoefficient" -> (() => Validation.giniCoefficient(
        Seq(1L, 2L, 3L, 10L).toDF("v"), "v")),
      "Validation.ksStatistic" -> (() => Validation.ksStatistic(
        Seq(1.0, 2.0, 3.0).toDF("v"), Seq(2.0, 4.0).toDF("v"), "v")),
      "Validation.cohenKappa" -> (() => Validation.cohenKappa(
        Seq(("a", "a"), ("a", "b"), ("b", "b")).toDF("r1", "r2"), "r1", "r2")),
      "Validation.fleissKappa" -> (() => Validation.fleissKappa(
        Seq((1, "x"), (1, "x"), (2, "x"), (2, "y")).toDF("item", "label"),
        "item", "label")),
      "Validation.cliffsDelta" -> (() => Validation.cliffsDelta(
        Seq((true, 1L), (true, 3L), (false, 2L)).toDF("g", "v"), "g", "v")),
      "Validation.shrunkenRates" -> (() => Validation.shrunkenRates(
        Seq(("a", true), ("a", false), ("b", true), ("c", false))
          .toDF("k", "s"), Seq("k"), "s")),
      "Validation.spearmanFromCells" -> (() => Validation.spearmanFromCells(
        Seq((1L, 2L, 1L), (2L, 1L, 1L), (3L, 3L, 1L)).toDF("__x", "__y", "__n"))),
      "Validation.groupedQuantiles" -> (() => Validation.groupedQuantiles(
        Seq(("a", 1.0), ("a", 2.0), ("b", 3.0)).toDF("g", "v"), Seq("g"), "v")),
      "Validation.bhAdjust" -> (() => Validation.bhAdjust(
        Seq(0.01, 0.04, 0.5).toDF("p"), "p")),
      "TextAnalysis.sourceSimilarity" -> (() =>
        TextAnalysis.sourceSimilarity(docs, "src", "text")),
      "TextAnalysis.sliceDivergence" -> (() =>
        TextAnalysis.sliceDivergence(docs, "src", "text")),
      "TextAnalysis.zipfFit" -> (() => TextAnalysis.zipfFit(docs, "text")),
      "TextAnalysis.speculativeAcceptance" -> (() =>
        TextAnalysis.speculativeAcceptance(Seq("a b c a b").toDF("text"),
          Seq("a b a c").toDF("text"), "text")),
      "TextAnalysis.vocabularyCoverage" -> (() =>
        TextAnalysis.vocabularyCoverage(docs, Seq("src"), "text")),
      "Classifier.trainingDynamics" -> (() => Classifier.trainingDynamics(
        labeled, "id", "text", "label", dim = 64, iters = 3)),
      "Classifier.tracinInfluence" -> (() => Classifier.tracinInfluence(
        labeled, labeled.where(col("id") === 0L), "id", "text", "label",
        dim = 64, iters = 3, topK = 2)),
      "Classifier.conformalThreshold" -> (() => Classifier.conformalThreshold(
        (1L to 9L).map(_ * 10L).toDF("s"), "s")),
      "RankEval.aucRoc" -> (() => RankEval.aucRoc(
        Seq((3L, 1), (2L, 1), (1L, 0), (2L, 0)).toDF("s", "y"), "s", "y")),
      "RankEval.corpusBleu" -> (() => RankEval.corpusBleu(
        Seq((1L, "a b c d e", "a b c d f")).toDF("id", "ref", "hyp"),
        "id", "ref", "hyp")),
      "Timeseries.resample" -> (() => Timeseries.resample(
        Seq(("a", 0L, 1.0), ("a", 250L, 2.0)).toDF("k", "ts_us", "v"),
        "ts_us", "v", Seq("k"), 100L)),
      "Funnels.associationRules" -> (() => Funnels.associationRules(
        Seq(("s1", "a"), ("s1", "b"), ("s2", "a")).toDF("s", "i"), "s", "i")),
      "Sampling.negativeSamples" -> (() => Sampling.negativeSamples(
        Seq(("x", "y")).toDF("center", "context"),
        "center", "context", Seq(("a", 1L), ("b", 2L)).toDF("t", "w"),
        "t", "w", k = 2)),
      "Dedup.simhashNearDupPairs" -> (() =>
        Dedup.simhashNearDupPairs(nearDupCorpus, "id", "text")),
      "Dedup.connectedComponents(local)" -> (() => Dedup.connectedComponents(
        Seq((1L, 2L), (2L, 3L)).toDF("a", "b"), "a", "b", algorithm = "local")),
      "Ann.slicedWasserstein" -> (() => Ann.slicedWasserstein(vecs, "k", "v")),
      "Ann.mmrRerank" -> (() => Ann.mmrRerank(
        Seq((1L, 900000L, Seq(1.0, 0.0)), (2L, 500000L, Seq(0.0, 1.0)))
          .toDF("id", "score_micros", "v"), "id", "score_micros", "v",
        k = 2, lambdaMicros = 500000L)),
      "Unigram.train" -> (() => Unigram.train(docs, "text", vocabSize = 5,
        seedSize = 20)),
      "Graphs.triangleCounts" -> (() => Graphs.triangleCounts(edges, "src", "dst")),
      "Graphs.modularity" -> (() => Graphs.modularity(edges, "src", "dst",
        Seq(("a", 1), ("b", 1), ("c", 1), ("d", 2), ("e", 2))
          .toDF("node", "comm"), "node", "comm")),
      "Graphs.randomWalks" -> (() => Graphs.randomWalks(edges, "src", "dst",
        walksPerNode = 1, walkLength = 2)),
      "Graphs.adamicAdar" -> (() => Graphs.adamicAdar(edges, "src", "dst")),
      "Graphs.sampledBetweenness" -> (() => Graphs.sampledBetweenness(
        edges, "src", "dst", seeds, "seed", maxHops = 3)),
      "Coreset.kCenter" -> (() => Coreset.kCenter(
        vecs.withColumn("id", monotonically_increasing_id()), "id", "v", k = 2)),
      "ExactSubstrings.ingestBatch" -> (() => ExactSubstrings.ingestBatch(
        Seq((1L, "w1 w2 w3 w4 w5 w6"), (2L, "w1 w2 w3 w4 w5 w9"))
          .toDF("doc_id", "text"), s"$root/substr", w = 3)),
      "Linkage.Index.ingestBatch" -> { () =>
        val idx = s"$root/link"
        Linkage.Index.create(Seq((1L, "A", "alice")).toDF("id", "block", "name"),
          idx, "id", Seq("block"), fields, threshold = 1.0)
        Linkage.Index.ingestBatch(spark,
          idx, Seq((2L, "A", "alice")).toDF("id", "block", "name"))
      })
    try {
      val leaks = rows.flatMap { case (name, call) =>
        val before = pinnedNow
        val (out, pins) = Caches.collectPins(call())
        out.collect()
        pins.release(blocking = true)
        val left = pinnedNow -- before
        if (left.isEmpty) None else Some(s"$name: ${left.size}")
      }
      assert(leaks.isEmpty, s"RDDs left behind after release: $leaks")
    } finally org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
  }

  test("a throwing operator leaves no checkpoint behind") {
    val before = pinnedNow
    // unequal rater counts fail fleissKappa's require after its cells
    // checkpoint is taken
    intercept[IllegalArgumentException](Caches.collectPins(
      Validation.fleissKappa(Seq((1, "x"), (1, "y"), (2, "x")).toDF("item", "label"),
        "item", "label")))
    assert((pinnedNow -- before).isEmpty)
  }
}
