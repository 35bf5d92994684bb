package perfbench

import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.llm.{EmbeddingsClient, HashEmbeddingsClient, Llm}
import graft.operators.{Ann, Bpe, Dedup, TextAnalysis}
import graft.similarity.{FirstItemChoice, HashEmbeddingGenerator, HashStubEncoder, KMeansPartitioner}

/** Corpus curation: text features, MinHash near-duplicate removal, BPE
  * merge learning, embeddings through a counting LLM client, KMeans
  * partitioning with representatives, and IVF approximate search against
  * exact top-k — heavy on
  * codegen'd expressions and shuffles. Connected components run here only
  * on a handful of pairs (the driver-side union-find path), the opposite
  * of graph_loops' iterative path.
  *
  * Corpus: [[BaseDocs]] documents of 25–40 Zipf-distributed words from a
  * seeded vocabulary, plus [[Planted]] near-duplicates (a base document
  * with one word replaced) whose ids sort after every base id, so a
  * correct dedup removes planted ids and keeps their originals.
  */
final class CorpusCuration extends Workload {
  val BaseDocs = 400
  val Planted = 40
  val BpeDocs = 100
  val NumMerges = 12
  val Dims = 16
  val Clusters = 6
  val Queries = 12
  val K = 5
  val Cells = 8
  val Probes = 2

  private var docs: Seq[(Long, String)] = Nil
  private var planted: Map[Long, Long] = Map.empty // dup id -> base id
  private var docsDf: DataFrame = _
  private var spark: SparkSession = _
  private var queryVecs: Seq[(Long, Array[Double])] = Nil
  private var refFeatures: Map[Long, Features] = Map.empty

  // outputs of the last pass
  private var outFeatures: Map[Long, Features] = Map.empty
  private var kept: Set[Long] = Set.empty
  private var ccOut: Set[Set[Long]] = Set.empty
  private var ccRef: Set[Set[Long]] = Set.empty
  private var merges: Seq[(String, String)] = Nil
  private var refMerges: Seq[(String, String)] = Nil
  private var llmOut: Map[Long, Seq[Float]] = Map.empty
  private var embedOut: Map[Long, Seq[Float]] = Map.empty
  private var clusters: Map[Long, Int] = Map.empty
  private var reps: Map[Int, Long] = Map.empty
  private var exactTop: Seq[(Long, Int, Double)] = Nil
  private var approxTop: Seq[(Long, Long, Double)] = Nil
  private var corpusVecs: Seq[(Long, Array[Double])] = Nil
  private var llmCounts = (0L, 0L) // (calls, texts) of the last pass

  final case class Features(tokens: Int, punct: Double, upper: Double, quality: Double, hash: Long)

  def inputs: String =
    s"${docs.size} documents (${Planted} planted near-duplicates), " +
      s"${docs.map(_._2.length).sum} text bytes, ${Queries} ANN queries of $Dims dims"

  def setup(spark: SparkSession, seed: Long, work: String): Unit = {
    this.spark = spark
    val rnd = new scala.util.Random(seed * 1000003L + 23)
    val vocab = Vector.fill(4000) {
      (1 to 3 + rnd.nextInt(7)).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString
    }.distinct
    // Zipf(0.9) over the vocabulary by inverse CDF: skewed enough for BPE,
    // flat enough that unrelated documents share almost no word trigrams
    val weights = vocab.indices.map(i => 1.0 / math.pow(i + 1, 0.9))
    val cdf = weights.scanLeft(0.0)(_ + _).tail.map(_ / weights.sum).toArray
    def word(): String = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      vocab(math.min(if (i >= 0) i else -i - 1, vocab.size - 1))
    }
    def doc(): String = {
      val n = 25 + rnd.nextInt(16)
      (0 until n).map { i =>
        val w = word()
        val cap = if (i == 0 || rnd.nextInt(12) == 0) w.capitalize else w
        if (rnd.nextInt(9) == 0) cap + "." else if (rnd.nextInt(15) == 0) cap + "," else cap
      }.mkString(" ")
    }
    val base = (0 until BaseDocs).map(i => i.toLong -> doc())
    val dups = (0 until Planted).map { j =>
      val (bid, text) = base(rnd.nextInt(BaseDocs))
      val ws = text.split(" ")
      ws(rnd.nextInt(ws.length)) = word()
      ((BaseDocs + j).toLong, bid, ws.mkString(" "))
    }
    docs = base ++ dups.map(d => d._1 -> d._3)
    planted = dups.map(d => d._1 -> d._2).toMap
    docsDf = spark.createDataFrame(docs).toDF("id", "text")
    queryVecs = (0 until Queries).map(q => q.toLong -> Array.fill(Dims)(rnd.nextGaussian()))
    refFeatures = docs.map { case (id, t) => id -> Features.of(t) }.toMap
    ccRef = Refs.components(planted.toSeq.take(12))
    // BPE learns on the first base documents, which a correct dedup keeps
    refMerges = Refs.bpeMerges(docs.take(BpeDocs).map(_._2), NumMerges)
  }

  object Features {
    /** Plain-Scala twin of TextAnalysis' token, ratio, quality and hash60
      * definitions. */
    def of(t: String): Features = {
      val toks = t.split("\\s+").filter(_.nonEmpty)
      val len = t.length.toDouble
      val punct = if (len == 0) 0.0 else t.count(c => c >= '!' && c <= '~' && !c.isLetterOrDigit) / len
      val upper = if (len == 0) 0.0 else t.count(c => c >= 'A' && c <= 'Z') / len
      val meanLen = if (toks.isEmpty) 0.0 else t.replaceAll("\\s+", "").length.toDouble / toks.length
      val q = math.min(1.0, toks.length / 50.0) * 0.25 +
        (1.0 - math.min(1.0, punct * 4.0)) * 0.25 +
        (1.0 - math.min(1.0, upper * 4.0)) * 0.25 +
        (if (meanLen >= 3.0 && meanLen <= 12.0) 1.0 else 0.0) * 0.25
      val sha = java.security.MessageDigest.getInstance("SHA-256").digest(t.getBytes("UTF-8"))
      val hex = sha.map(b => f"${b & 0xff}%02x").mkString
      Features(toks.length, punct, upper, Refs.round(q, 6), java.lang.Long.parseLong(hex.take(15), 16))
    }
  }

  override def reset(): Unit = CountingClient.reset()

  private def docFrame(ids: Iterable[Long]): DataFrame = {
    val keep = ids.toSet
    spark.createDataFrame(docs.filter(d => keep(d._1))).toDF("id", "text")
  }

  def pass(p: Pass): Unit = {
    outFeatures = p.call("text.features") {
      docsDf.select(col("id"),
        TextAnalysis.tokenCount(col("text")).as("n"),
        TextAnalysis.punctRatio(col("text")).as("p"),
        TextAnalysis.upperRatio(col("text")).as("u"),
        TextAnalysis.qualityScore(col("text")).as("q"),
        TextAnalysis.hash60(col("text")).as("h"))
        .collect().map(r => r.getLong(0) ->
          Features(r.getInt(1), r.getDouble(2), r.getDouble(3), r.getDouble(4), r.getLong(5))).toMap
    }
    kept = p.call("dedup.dedupCorpus") {
      Dedup.dedupCorpus(docsDf, "id", "text").select("id").collect().map(_.getLong(0)).toSet
    }
    ccOut = p.call("dedup.connectedComponents") {
      val pairs = spark.createDataFrame(planted.toSeq.take(12)).toDF("a", "b")
      Refs.partition(Dedup.connectedComponents(pairs, "a", "b")
        .collect().toSeq.map(r => r.getAs[Long]("node") -> r.getAs[Long]("comp")))
    }
    val keptDf = docFrame(kept)
    merges = p.call("bpe.learnMerges") {
      Bpe.learnMerges(docFrame((0L until BpeDocs).filter(kept)), "text", NumMerges)
        ._1.map(m => (m.left, m.right))
    }
    val dims = Dims // a local, so the client factory does not capture the workload
    llmOut = p.call("llm.withEmbeddings") {
      Llm.withEmbeddings(keptDf, "text", () => new CountingClient(dims), batchSize = 16)
        .select("id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    }
    llmCounts = (CountingClient.calls.get, CountingClient.texts.get)
    embedOut = p.call("similarity.embed") {
      HashEmbeddingGenerator("text", "embedding", Dims).transform(keptDf)
        .select("id", "embedding").collect()
        .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    }
    corpusVecs = llmOut.toSeq.sortBy(_._1).map { case (id, v) => id -> v.map(_.toDouble).toArray }
    val vecDf = spark.createDataFrame(corpusVecs.map { case (id, v) => (id, v.toSeq) }).toDF("id", "embedding")
    clusters = p.call("similarity.kmeans") {
      KMeansPartitioner(k = Clusters, maxIter = 5, seed = Some(7L)).partition(vecDf)
        .select("id", "cluster_id").collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    }
    reps = p.call("similarity.representatives") {
      val clustered = spark.createDataFrame(clusters.toSeq).toDF("id", "cluster_id")
      FirstItemChoice("cluster_id", Seq("id")).select(clustered)
        .collect().map(r => r.getAs[Int]("cluster_id") -> r.getAs[Long]("id")).toMap
    }
    val qDf = spark.createDataFrame(queryVecs.map { case (id, v) => (id, v.toSeq) }).toDF("id", "embedding")
    exactTop = p.call("ann.bruteForceTopK") {
      Ann.bruteForceTopK(vecDf, qDf, "id", "embedding", "id", K)
        .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Int]("rank"), r.getAs[Double]("cos"))).toSeq
    }
    val index = p.call("ann.ivf.build") {
      Ann.Ivf.build(vecDf, "id", "embedding", nlist = Cells, seed = 7L)
    }
    approxTop = p.call("ann.ivf.search") {
      Ann.Ivf.search(index, qDf, "id", "embedding", K, nprobe = Probes)
        .collect().map(r => (r.getAs[Long]("q_id"), r.getAs[Long]("id"), r.getAs[Double]("cos"))).toSeq
    }
  }

  /** IVF recall@k at a [[Probes]]-cell budget: an approximate hit counts
    * when its exact score reaches the query's exact k-th score, so ties at
    * rank k never count as misses. */
  private def annRecall: Double = {
    val kth = Refs.topKScores(corpusVecs, queryVecs, K).map { case (q, s) => q -> s.last }
    approxTop.count { case (q, _, cos) => cos >= kth(q) - 2e-6 }.toDouble / (Queries * K)
  }

  private def dedupRecall: Double =
    planted.keys.count(id => !kept(id)).toDouble / planted.size

  def check(): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    refFeatures.foreach { case (id, want) =>
      outFeatures.get(id) match {
        case Some(got) if got.tokens == want.tokens && got.hash == want.hash &&
            math.abs(got.punct - want.punct) < 1e-12 && math.abs(got.upper - want.upper) < 1e-12 &&
            math.abs(got.quality - want.quality) < 1e-9 =>
        case got => if (bad.size < 3) bad += s"features($id) = $got, expected $want"
      }
    }
    // a removed document that was not planted must at least resemble some
    // other document (MinHash estimates; a true Jaccard floor of 0.3 keeps
    // an estimation hit from reading as a failure)
    val removed = docs.map(_._1).filterNot(kept).toSet
    val texts = docs.toMap
    val wrong = (removed -- planted.keySet).filterNot { id =>
      docs.exists { case (o, t) => o != id && Refs.shingleJaccard(texts(id), t) >= 0.3 }
    }
    if (wrong.nonEmpty) bad += s"dedupCorpus removed documents with no near-duplicate: ${wrong.take(5)}"
    if (ccOut != ccRef) bad += s"connectedComponents: $ccOut, union-find gives $ccRef"
    if (merges != refMerges)
      bad += s"learnMerges diverges from sequential BPE at rank " +
        merges.zip(refMerges).indexWhere { case (a, b) => a != b } + s" (${merges.size} vs ${refMerges.size})"
    val keptDocs = docs.filter(d => kept(d._1))
    val enc = HashStubEncoder(Dims, normalize = true)
    keptDocs.foreach { case (id, t) =>
      val want = enc.encode(Seq(t)).head.toSeq
      if (!llmOut.get(id).contains(want) && bad.size < 8) bad += s"withEmbeddings($id) misaligned"
      if (!embedOut.get(id).exists(_.zip(want).forall { case (a, b) => math.abs(a - b) < 1e-6 }) &&
          bad.size < 8) bad += s"HashEmbeddingGenerator($id) differs from the stub encoder"
    }
    if (clusters.keySet != kept || clusters.values.exists(c => c < 0 || c >= Clusters))
      bad += s"kmeans assigned ${clusters.size} of ${kept.size} rows"
    val wantReps = clusters.groupBy(_._2).map { case (c, m) => c -> m.keys.min }
    if (reps != wantReps) bad += s"representatives $reps, expected $wantReps"
    // exact top-k compared by score at each rank: ties may order ids differently
    val refTop = Refs.topKScores(corpusVecs, queryVecs, K)
    exactTop.foreach { case (q, rank, cos) =>
      if (math.abs(refTop(q)(rank - 1) - cos) > 2e-6 && bad.size < 10)
        bad += s"bruteForceTopK(q=$q, rank=$rank) = $cos, exact scan gives ${refTop(q)(rank - 1)}"
    }
    if (exactTop.size != Queries * K) bad += s"bruteForceTopK returned ${exactTop.size} rows"
    // every approximate hit carries its true cosine; at most k per query
    val vecs = corpusVecs.toMap
    val qs = queryVecs.toMap
    approxTop.foreach { case (q, id, cos) =>
      val want = Refs.round(Refs.cosine(qs(q), vecs(id)), 6)
      if (math.abs(want - cos) > 2e-6 && bad.size < 12) bad += s"Ivf.search(q=$q, id=$id) = $cos, exact $want"
    }
    if (approxTop.groupBy(_._1).exists(_._2.size > K) || approxTop.isEmpty)
      bad += s"Ivf.search returned ${approxTop.size} rows for $Queries queries at k=$K"
    bad.toSeq
  }

  override def layerMetrics(traced: Seq[PassResult]): Map[String, (Double, String)] = {
    val pairs = Dedup.minhashLshPairs(docsDf, "id", "text").count().toDouble
    val (calls, texts) = llmCounts
    Map(
      "dedup.dedupCorpus.pairs" -> (pairs, "count"),
      "llm.calls" -> (calls.toDouble, "count"),
      "llm.texts_per_call" -> (texts.toDouble / math.max(calls, 1), "count"),
      "dedup_recall" -> (dedupRecall, "ratio"),
      "ann_recall" -> (annRecall, "ratio"))
  }
}

/** Embeddings client that counts calls and texts, delegating to the
  * deterministic hash embedder. Counters are JVM-global: executors run in
  * the driver JVM under `local[N]`. */
final class CountingClient(dims: Int) extends EmbeddingsClient {
  private val inner = HashEmbeddingsClient(dims)
  def embedDocuments(texts: Seq[String]): Seq[Array[Float]] = {
    CountingClient.calls.incrementAndGet()
    CountingClient.texts.addAndGet(texts.size.toLong)
    inner.embedDocuments(texts)
  }
}

object CountingClient {
  val calls = new AtomicLong
  val texts = new AtomicLong
  def reset(): Unit = { calls.set(0); texts.set(0) }
}
