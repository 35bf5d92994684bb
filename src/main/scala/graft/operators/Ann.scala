package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Two tiers:
  *  - [[bruteForceTopK]] — the exact baseline: broadcast the (small) query
  *    set against the streamed corpus; one pass, no corpus shuffle.
  *  - [[Ivf]] — the scale path: a KMeans coarse quantizer (IVF); queries
  *    probe only the `nprobe` nearest cells, so the scanned fraction is
  *    ~nprobe/nlist of the corpus. Cell assignment is a narrow projection;
  *    the search join shuffles on cell id only.
  */
object Ann {

  /** Exact cosine top-k: for each query row, the `k` nearest corpus rows.
    *
    * Output: (q_id, id, cos, rank). Cosine is rounded to 6 decimals before
    * ranking (ties broken by corpus id) so results are reproducible across
    * engines. The query side is broadcast — keep it small (≤ ~100k rows);
    * for larger query sets, block both sides instead.
    */
  def bruteForceTopK(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      qIdCol: String,
      k: Int): DataFrame = {
    val q = Dedup.cosineSide(queries, Nil, qIdCol, vecCol, "q")
      .withColumnRenamed("id_q", "q_id")
    val c = Dedup.cosineSide(corpus, Nil, idCol, vecCol, "c")
      .withColumnRenamed("id_c", "id")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("id").asc)
    c.join(broadcast(q))
      .withColumn("cos", round(
        Dedup.cosineWithNorms(col("__v_q"), col("__v_c"), col("__n_q"), col("__n_c")), 6))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("q_id", "id", "cos", "rank")
  }

  /** Maximal-marginal-relevance reranking (Carbonell & Goldstein 1998)
    * — the diversity pass between retrieval and a RAG context window:
    * greedily pick the candidate maximizing `λ·relevance − (1−λ)·
    * max_sim(candidate, already-picked)`, so near-duplicate passages
    * stop crowding out coverage.
    *
    * Engine-exact: relevance is integral micros BY CONTRACT, each
    * candidate↔selected cosine is micro-rounded once, and the greedy
    * objective `λµ·score − (1e6−λµ)·maxsim` stays in LONGs — ties
    * break on the smaller id, so the k picks are a pure integer argmax
    * sequence a SQL oracle replays exactly. The diversity penalty
    * FLOORS AT ZERO (maxsim starts at 0 and only grows): an
    * anti-correlated candidate is merely "not redundant", never
    * bonus-boosted above its relevance.
    *
    * Scale shape: k driver rounds (k ≤ 256 loud), each ONE distributed
    * top-1 reduce over the remaining candidates plus ONE narrow
    * projection updating the running max-similarity against the
    * just-picked vector (broadcast as a literal — selected state is
    * k vectors, never a shuffle); the candidate frame is checkpoint-
    * rotated so plan depth stays O(1). Candidates are the RETRIEVED
    * set (top-N of an index scan), not a corpus — bound N upstream.
    *
    * Output: `(rank, id, score_micros, maxsim_micros, mmr_micros)` —
    * pick order, each row's relevance, and its diversity penalty and
    * objective AT PICK TIME.
    */
  def mmrRerank(
      candidates: DataFrame,
      idCol: String,
      scoreCol: String,
      vecCol: String,
      k: Int,
      lambdaMicros: Long): DataFrame = {
    require(k >= 1 && k <= 256, s"k must be in 1..256, got $k")
    require(lambdaMicros >= 0L && lambdaMicros <= 1000000L,
      s"lambdaMicros must be in [0, 1000000], got $lambdaMicros")
    candidates.schema(scoreCol).dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"mmrRerank: `$scoreCol` is $other — relevance must be INTEGRAL " +
          "micros (quantize upstream; double scores are not " +
          "engine-portable through a greedy argmax)")
    }
    val probe = candidates.agg(count(when(col(idCol).isNull ||
      col(scoreCol).isNull || col(vecCol).isNull, 1)).as("__nl"),
      count(lit(1)).as("__cnt")).head()
    val bad = probe.getAs[Long]("__nl")
    require(bad == 0L,
      s"mmrRerank: $bad NULL id/score/vector row(s) — filter upstream")
    // k full-candidate scans is fine for a retrieval shortlist and
    // silent death for a corpus — refuse loudly past shortlist size
    require(probe.getAs[Long]("__cnt") <= 1000000L,
      s"mmrRerank: ${probe.getAs[Long]("__cnt")} candidates — rerank " +
        "a retrieval shortlist (<= 1M rows, the top-N of an index " +
        "scan), not a corpus; shrink with bruteForceTopK/ivfTopK first")
    val spark = candidates.sparkSession
    val state0 = candidates
      .select(col(idCol).as("id"), col(scoreCol).cast("long")
        .as("score_micros"),
        transform(col(vecCol), x => x.cast("double")).as("__v"))
      .withColumn("__n",
        sqrt(graft.functions.VectorFunctions.sumSquares(col("__v"))))
      .withColumn("maxsim_micros", lit(0L))
      .localCheckpoint(true)
    // the picks rotate beside the candidate state
    graft.core.Caches.holding { held =>
      var selected: DataFrame = null
      held.adopt(graft.core.Loop.iterate(state0, rounds = k) { (state, r) =>
        val mmr = (lit(lambdaMicros) * col("score_micros") -
          lit(1000000L - lambdaMicros) * col("maxsim_micros"))
          .as("mmr_micros")
        val pickRows = state.select(col("id"), col("score_micros"),
            col("__v"), col("__n"), col("maxsim_micros"), mmr)
          .orderBy(col("mmr_micros").desc, col("id").asc).limit(1)
          .collect()
        pickRows.headOption.map { p =>
          val pickFrame = spark.range(1).select(
            lit(r).as("rank"),
            lit(p.get(p.fieldIndex("id"))).as("id"),
            lit(p.getAs[Long]("score_micros")).as("score_micros"),
            lit(p.getAs[Long]("maxsim_micros")).as("maxsim_micros"),
            lit(p.getAs[Long]("mmr_micros")).as("mmr_micros"))
          val grown = held(if (selected == null) pickFrame
            else selected.unionByName(pickFrame))
          held.release(selected)
          selected = grown
          val selVec = p.getSeq[Double](p.fieldIndex("__v"))
          val selNorm = p.getAs[Double]("__n")
          val sim = round(Dedup.cosineWithNorms(col("__v"),
            typedLit(selVec), col("__n"), lit(selNorm)) * 1e6).cast("long")
          state
            .where(col("id") =!= lit(p.get(p.fieldIndex("id"))))
            .withColumn("maxsim_micros",
              greatest(col("maxsim_micros"), sim))
        }
      })
      // empty branch must carry the NORMAL path's id type — a bare
      // null literal is NullType, which breaks parquet writes and
      // unions with real runs
      held(if (selected == null)
        spark.range(0).select(lit(0).as("rank"),
          lit(null).cast(candidates.schema(idCol).dataType).as("id"),
          lit(0L).as("score_micros"), lit(0L).as("maxsim_micros"),
          lit(0L).as("mmr_micros"))
      else selected)
    }
  }

  /** Hard-negative mining for embedding-model training data (the
    * DPR/RocketQA recipe: Karpukhin et al. 2020; Qu et al. 2021): for
    * each query, the top-`k` most-similar corpus items that are NOT its
    * gold positives — the negatives that actually move a contrastive
    * loss, where random negatives are trivially separable.
    *
    * `denoiseRatio` (optional) is RocketQA's false-negative guard: a
    * non-gold item scoring ABOVE `ratio × (the query's best positive
    * similarity)` is suspiciously close — likely an unlabeled true
    * positive — and is dropped rather than trained against. Queries
    * with no positive pair skip the guard (nothing to calibrate on).
    *
    * Determinism: the [[bruteForceTopK]] contract — cosines rounded
    * once to 6 decimals, rank by (cos desc, id asc); the ratio
    * comparison multiplies the ROUNDED positive max, so a SQL oracle
    * reproduces the kept set exactly.
    *
    * Scale shape: queries and the gold-pair list are broadcast (both
    * query-set-sized by contract); the corpus is scanned once. For
    * corpus-scale query sets, mine per shard against the IVF index
    * instead — this is the exact/calibration path.
    */
  def hardNegatives(
      corpus: DataFrame,
      queries: DataFrame,
      positives: DataFrame,
      idCol: String,
      vecCol: String,
      qIdCol: String,
      posQCol: String,
      posIdCol: String,
      k: Int,
      denoiseRatio: Double = Double.NaN): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(denoiseRatio.isNaN || (denoiseRatio > 0.0 && denoiseRatio <= 1.0),
      s"denoiseRatio must be in (0, 1], got $denoiseRatio")
    val q = Dedup.cosineSide(queries, Nil, qIdCol, vecCol, "q")
      .withColumnRenamed("id_q", "q_id")
    val c = Dedup.cosineSide(corpus, Nil, idCol, vecCol, "c")
      .withColumnRenamed("id_c", "id")
    // native id types (cosineSide keeps them) — the pair list must come
    // from the same id domains as the query/corpus tables
    val pos = positives.select(
      col(posQCol).as("q_id"), col(posIdCol).as("id")).distinct()
    val scored = c.join(broadcast(q))
      .withColumn("cos", round(
        Dedup.cosineWithNorms(col("__v_q"), col("__v_c"), col("__n_q"), col("__n_c")), 6))
      .select("q_id", "id", "cos")
    // best positive similarity per query — from the same rounded scores
    val posMax = scored.join(broadcast(pos), Seq("q_id", "id"))
      .groupBy("q_id").agg(max(col("cos")).as("__posmax"))
    val negs = scored.join(broadcast(pos), Seq("q_id", "id"), "left_anti")
    val guarded =
      if (denoiseRatio.isNaN) negs
      else negs.join(broadcast(posMax), Seq("q_id"), "left")
        .where(col("__posmax").isNull ||
          col("cos") <= col("__posmax") * denoiseRatio)
        .select("q_id", "id", "cos")
    val w = Window.partitionBy(col("q_id"))
      .orderBy(col("cos").desc, col("id").asc)
    guarded
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("q_id", "id", "cos", "rank")
  }

  /** IVF (inverted-file) index: corpus rows assigned to KMeans cells.
    * `nassign` > 1 means each row is indexed under its `nassign` nearest
    * cells (multi-assignment), trading index size for recall.
    */
  final case class IvfIndex(
      assigned: DataFrame, // corpus with __cell column
      centroids: Array[(Int, Array[Double])],
      idCol: String,
      vecCol: String,
      nassign: Int = 1)

  object Ivf {

    /** Fit the coarse quantizer and assign every corpus row to a cell.
      * `nlist` ≈ sqrt(corpus size) is the usual choice.
      */
    /** Points per cell in the quantizer-training sample — the conventional
      * IVF training budget (more adds cost, not recall).
      */
    val TrainPointsPerCell = 256

    /** Training samples up to this many bytes (rows × dim × 8) fit the
      * coarse quantizer DRIVER-LOCALLY (seeded k-means++ — zero Spark
      * jobs per iteration) instead of via MLlib, whose init + per-iter
      * scheduling costs seconds of pure job overhead on a sample this
      * size. Above the bound (large nlist × large dim — the billion-
      * vector regime where the sample itself is GBs) training stays
      * distributed.
      */
    val LocalTrainMaxBytes: Long = 64L << 20

    def build(
        corpus: DataFrame,
        idCol: String,
        vecCol: String,
        nlist: Int,
        seed: Long = 42L,
        maxIter: Int = 20,
        nassign: Int = 1,
        initMode: String = "k-means||"): IvfIndex = {
      require(nassign >= 1 && nassign <= nlist, "nassign must be in [1, nlist]")
      // train the coarse quantizer on a bounded sample (the full corpus
      // would pay maxIter+init passes over 100 TB for no recall gain)
      val targetTrain = nlist.toLong * TrainPointsPerCell
      val n = corpus.count()
      val first = corpus.where(col(vecCol).isNotNull)
        .select(size(col(vecCol)).as("d")).head(1)
      require(first.nonEmpty, "Ivf.build: empty corpus")
      val dim = first(0).getInt(0)
      val cents =
        if (targetTrain * dim * 8 <= LocalTrainMaxBytes) {
          // small-sample path: one collect (≤ LocalTrainMaxBytes), local
          // Lloyd's — the scheduler never sees the iterations
          val vd = corpus.where(col(vecCol).isNotNull).select(
            transform(col(vecCol), x => x.cast("double")).as("__v"))
          val sampled =
            if (n <= targetTrain) vd
            else vd.sample(withFraction(targetTrain, n), seed)
          val pts = sampled.collect().map(_.getSeq[Double](0).toArray)
          Pq.localKMeansPlusPlus(pts, nlist, maxIter, seed)
            .zipWithIndex.map { case (c, i) => i -> c }
        } else {
          // KMeans needs a VectorUDT column — only the bounded training
          // sample pays for the conversion; full-corpus assignment is
          // expression-based
          val withVec = corpus.withColumn("__ivf_vec",
            org.apache.spark.ml.functions.array_to_vector(col(vecCol)))
          val trainSet =
            if (n <= targetTrain) withVec
            else withVec.sample(withFraction(targetTrain, n), seed)
          val estimator = new org.apache.spark.ml.clustering.KMeans()
            .setK(nlist).setMaxIter(maxIter).setSeed(seed).setInitMode(initMode)
            .setFeaturesCol("__ivf_vec").setPredictionCol("__cell")
          val alreadyCached =
            trainSet.storageLevel != org.apache.spark.storage.StorageLevel.NONE
          if (!alreadyCached)
            trainSet.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          try {
            // centroids straight off the model: nlist × dim doubles on
            // the driver — never the corpus itself
            estimator.fit(trainSet).clusterCenters.zipWithIndex
              .map { case (v, i) => i -> v.toArray }
          } finally if (!alreadyCached) trainSet.unpersist(blocking = false)
        }
      // Assign each corpus row its top-`nassign` cells by the SAME ranking
      // the query probe uses (cosine to centroid) — KMeans's own Euclidean
      // assignment disagrees with the cosine probe on unnormalized data and
      // measurably costs recall. Codegen'd narrow projection, one pass.
      val assigned = corpus.withColumn("__cell",
        explode(topCells(col(vecCol), centroidsLiteral(cents), nassign)))
      IvfIndex(assigned, cents, idCol, vecCol, nassign)
    }

    /** Fit a SEEDED quantizer: the `nlist` corpus vectors with the
      * smallest sha256(id:seed) become the centroids directly — no KMeans
      * iterations, no count/sample jobs, ONE TakeOrdered job total. Cell
      * quality is that of randomly-seeded unrefined Voronoi cells: wrong
      * for an ANN index (recall depends on centroid polish — use
      * [[build]]), right when the quantizer is only a BLOCKING device
      * ([[Dedup.semanticDedup]]), where near-identical vectors land
      * together under any centroid set and refinement buys nothing.
      *
      * Fully deterministic for a fixed (corpus ids, nlist, seed) — no RNG,
      * no partition-order sensitivity, unlike KMeans's sampled init.
      * All-zero vectors are never chosen as seeds (cosine to them is 0
      * everywhere — every such centroid would tie for every row).
      */
    def buildSeeded(
        corpus: DataFrame,
        idCol: String,
        vecCol: String,
        nlist: Int,
        seed: Long = 42L,
        nassign: Int = 1): IvfIndex = {
      require(nlist >= 1, s"nlist must be >= 1, got $nlist")
      require(nassign >= 1 && nassign <= nlist, "nassign must be in [1, nlist]")
      val vd = transform(col(vecCol), x => x.cast("double"))
      val cents = corpus
        .select(col(idCol).cast("string").as("__id"), vd.as("__v"))
        .where(graft.functions.VectorFunctions.sumSquares(col("__v")) > 0.0)
        .withColumn("__h", sha2(concat_ws(":", col("__id"), lit(seed)), 256))
        .orderBy(col("__h"), col("__id")) // TakeOrdered, never a full sort
        .limit(nlist)
        .collect() // ≤ nlist × dim doubles — never corpus-sized
        .zipWithIndex
        .map { case (r, i) => i -> r.getSeq[Double](1).toArray }
      require(cents.nonEmpty,
        "buildSeeded: corpus has no non-zero vectors to seed from")
      val assigned = corpus.withColumn("__cell",
        explode(topCells(col(vecCol), centroidsLiteral(cents),
          math.min(nassign, cents.length))))
      IvfIndex(assigned, cents, idCol, vecCol, nassign)
    }

    /** Centroids as ONE array<struct<cell,c>> literal (`typedlit`), not an
      * `array(struct(lit…))` expression tree: the tree form carries
      * nlist × dim literal nodes into analysis and codegen, which blows the
      * generated-method limits right where IVF needs to scale (large
      * nlist). A single Literal is constant-folded and free to broadcast.
      */
    private[operators] def centroidsLiteral(
        centroids: Array[(Int, Array[Double])]): org.apache.spark.sql.Column = {
      val data: Seq[(Int, Seq[Double])] =
        centroids.toSeq.map { case (cell, c) => (cell, c.toSeq) }
      typedlit(data).cast(
        "array<struct<cell:int,c:array<double>>>")
    }

    /** The `n` cell ids nearest to `vec` by cosine (ties by cell id). */
    private[operators] def topCells(
        vec: org.apache.spark.sql.Column,
        centsLit: org.apache.spark.sql.Column,
        n: Int): org.apache.spark.sql.Column =
      slice(
        transform(
          array_sort(
            transform(centsLit, c =>
              struct((-Dedup.cosine(vec, c.getField("c"))).as("negCos"),
                c.getField("cell").as("cell")))),
          s => s.getField("cell")),
        1, n)

    /** Oversampled fraction so the sample almost surely reaches the target
      * size (Bernoulli sampling undershoots at the exact fraction).
      */
    private def withFraction(target: Long, n: Long): Double =
      math.min(1.0, target.toDouble * 1.1 / n)

    /** Probe the `nprobe` nearest cells per query, exact top-k inside them.
      * Centroids ride along as a broadcast literal (nlist × dim doubles).
      *
      * With `pruneScan = true` (the default) this is EAGER: the probed
      * cell set must be known as a literal for partition pruning, so the
      * query-side cell assignment runs as a Spark job at call time. The
      * projected query side is pinned ([[graft.core.Caches.pin]]) so that
      * job and the final search plan read the SAME materialization — a
      * nondeterministic `queries` lineage (sample, unordered limit) cannot
      * probe cells the pruned scan dropped. Long-lived sessions wrap calls
      * in `Caches.collectPins` to release the pin after materializing.
      * `pruneScan = false` keeps the plan fully lazy (no job, no pin).
      */
    def search(
        index: IvfIndex,
        queries: DataFrame,
        qIdCol: String,
        vecCol: String,
        k: Int,
        nprobe: Int,
        pruneScan: Boolean = true): DataFrame = {
      // rank cells by cosine(query, centroid), keep nprobe best
      val q0 = queries.select(col(qIdCol).as("q_id"), col(vecCol).as("__qv"))
        .withColumn("__cell",
          explode(topCells(col("__qv"), centroidsLiteral(index.centroids), nprobe)))
      // restrict the index scan to the probed cells: the distinct cell set
      // is ≤ nlist values (a tiny driver collect — queries are broadcast-
      // small by this operator's contract), and against a [[writeIndex]]-
      // persisted index the IN filter on the __cell partition column
      // prunes to the probed cells' DIRECTORIES — the probe reads nprobe
      // cells' files, not the corpus
      val (q, assigned) =
        if (pruneScan) {
          val pinned = graft.core.Caches.pin(q0)
          val cells = pinned.select("__cell").distinct().collect()
            .map(_.getAs[Int]("__cell"))
          (pinned,
            index.assigned.where(col("__cell").isin(cells.map(Int.box): _*)))
        } else (q0, index.assigned)
      val c = Dedup.cosineSide(assigned, Seq("__cell"), index.idCol,
        index.vecCol, "c").withColumnRenamed("id_c", "id")
      val qSide = Dedup.cosineSide(
        q.withColumnRenamed("__qv", "__rawq"), Seq("__cell"), "q_id", "__rawq", "q")
        .withColumnRenamed("id_q", "q_id")
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("id").asc)
      val scored = c.join(broadcast(qSide), Seq("__cell"))
        .withColumn("cos", round(
          Dedup.cosineWithNorms(col("__v_q"), col("__v_c"), col("__n_q"), col("__n_c")), 6))
      // multi-assigned rows can meet a query in more than one probed cell;
      // collapse to one row per (q_id, id) before ranking. Skipped for
      // nassign=1 so the common path stays a single shuffle.
      val unique =
        if (index.nassign > 1) scored.dropDuplicates("q_id", "id") else scored
      unique
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= k)
        .select("q_id", "id", "cos", "rank")
    }

    /** Sidecar recording the quantizer (centroids) and column contract of
      * a persisted index — the index is unreadable without it, so it is
      * written AFTER the data: a crash mid-write leaves no sidecar and
      * [[loadIndex]] fails loud instead of probing a torn index.
      */
    val SidecarFileName = "_graft_ivf_index.json"

    /** Persist an IVF index: assigned rows partitioned by `__cell` (so a
      * probe's cell filter prunes whole directories) + the centroid/param
      * sidecar. Overwrite semantics — this is the "rebuild the index
      * nightly" maintenance shape, not a concurrent append target
      * (signatures append incrementally via [[graft.operators.DedupIndex]]
      * -style layouts; IVF cell assignment depends on the trained
      * centroids, so incremental growth belongs in a rebuild).
      *
      * `quantize = true` stores each cell's vectors as symmetric int8
      * codes + a per-vector scale ([[Quantize]]) instead of the float
      * array — ~4× less probe I/O, the FAISS-SQ8 shape. [[loadIndex]]
      * dequantizes INSIDE the probe projection (a codegen'd `transform`
      * over the scanned codes), so [[search]] is oblivious; the cost is
      * bounded per-component reconstruction error (recall floor
      * spec-asserted vs the exact search in AnnMultimodalSpec).
      */
    def writeIndex(
        index: IvfIndex, path: String, quantize: Boolean = false): Unit = {
      val spark = index.assigned.sparkSession
      val toWrite =
        if (!quantize) index.assigned
        else index.assigned
          .withColumn("__q_scale", Quantize.scaleExpr(col(index.vecCol)))
          .withColumn("__q_codes",
            Quantize.codesExpr(col(index.vecCol), col("__q_scale")))
          .drop(index.vecCol)
      // pin STATIC overwrite: under the common partitionOverwriteMode=
      // dynamic session setting, overwrite would keep (a) the old sidecar
      // alive through the whole data write — a crash mid-write then reads
      // as a VALID index mixing old centroids with partial new data — and
      // (b) stale cell directories that this rebuild assigned no rows to,
      // whose rows a probe would return as silently wrong neighbors
      toWrite.write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("__cell").parquet(path)
      val dir = new org.apache.hadoop.fs.Path(path)
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      val json = graft.io.Json.toJson(Map(
        "id_col" -> index.idCol, "vec_col" -> index.vecCol,
        "nassign" -> index.nassign, "quantized" -> quantize,
        "centroids" -> index.centroids.toSeq.map { case (cell, c) =>
          Map("cell" -> cell, "c" -> c.toSeq) }))
      val committed = graft.io.Sidecar.commit(
        fs, dir, SidecarFileName, json, overwrite = true)
      // single-writer maintenance contract: a concurrent writer whose
      // content won the rename race means the data files are in unknown
      // mixed state too — fail loud rather than leave OUR centroids
      // describing THEIR cell assignment (or vice versa)
      if (committed != json) throw new IllegalStateException(
        s"writeIndex: concurrent writer detected at $path — the committed " +
          "sidecar is not this build's; rebuild the index single-writer")
    }

    /** Load a persisted index. Fails loud when the sidecar is missing —
      * an interrupted [[writeIndex]] leaves data without a sidecar, which
      * must read as "no index", never as a silently wrong one.
      */
    def loadIndex(spark: org.apache.spark.sql.SparkSession, path: String): IvfIndex = {
      val dir = new org.apache.hadoop.fs.Path(path)
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      val sidecar = new org.apache.hadoop.fs.Path(dir, SidecarFileName)
      require(fs.exists(sidecar),
        s"no IVF sidecar at $path — index missing or torn by a failed write")
      val in = fs.open(sidecar)
      val node =
        try graft.io.Json.parse(new String(
          org.apache.commons.io.IOUtils.toByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8))
        finally in.close()
      val cents = node.get("centroids").elements().asScala.map { e =>
        val cell = e.get("cell").asInt()
        val c = e.get("c").elements().asScala.map(_.asDouble()).toArray
        cell -> c
      }.toArray
      val vecCol = node.get("vec_col").asText()
      val quantized = node.has("quantized") && node.get("quantized").asBoolean()
      val raw = spark.read.parquet(path)
      val assigned =
        if (!quantized) raw
        // dequantize in the probe projection: the scan reads int8 codes
        // (4× fewer bytes), the codegen'd transform reconstructs doubles
        else raw
          .withColumn(vecCol,
            Quantize.dequantizeExpr(col("__q_codes"), col("__q_scale")))
          .drop("__q_codes", "__q_scale")
      IvfIndex(
        assigned,
        cents,
        node.get("id_col").asText(),
        vecCol,
        node.get("nassign").asInt())
    }
  }

  /** Product-quantization model: `codebooks(j)(code)` is subspace `j`'s
    * centroid for `code` — m × ksub × dsub doubles, driver/broadcast
    * sized (16 × 256 × 8 = 32k doubles for a 128-dim corpus).
    */
  final case class PqModel(codebooks: Array[Array[Array[Double]]]) {
    def m: Int = codebooks.length
    def dsub: Int = codebooks.head.head.length
    def dim: Int = m * dsub
  }

  /** A PQ-encoded corpus: (`idCol`, `__pq_codes` array<smallint>). */
  final case class PqIndex(encoded: DataFrame, model: PqModel, idCol: String)

  /** Product quantization (Jégou, Douze & Schmid, TPAMI 2011): split the
    * (L2-normalized) vector into `m` subvectors, vector-quantize each
    * against its own `ksub`-entry codebook, store only the m code bytes.
    * Search is ADC (asymmetric distance computation): per query, an
    * m × ksub lookup table of subspace distances is computed ONCE, and
    * each corpus row's distance is m table lookups — no float vectors are
    * read at all.
    *
    * Why this is the 100 TB memory-side scale path: a 1024-dim float
    * corpus is ~4 KB/row; its m=16 PQ codes are 16 bytes — a ~250×
    * smaller scan. The full-scan ADC here is FAISS's "PQ flat" shape;
    * compose with [[Ivf]] (encode each cell's rows, search probed cells
    * only) for the IVF-PQ shape.
    *
    * Both sides are L2-normalized before encoding/lookup, so ADC ranks by
    * squared L2 on the unit sphere = descending cosine (adc = 2 − 2·cos);
    * results report `cos_est = 1 − adc/2`.
    */
  object Pq {

    /** Training points per codebook entry — the conventional budget. */
    val TrainPointsPerCode = 256

    val CodesCol = "__pq_codes"
    val SidecarFileName = "_graft_pq_index.json"

    /** L2-normalize a numeric array column (zero vectors pass through as
      * zeros). The norm is let-bound via single-element transforms so it
      * is computed once per ROW, not once per element.
      */
    private[operators] def l2normalize(vec: Column): Column = {
      val vd = transform(vec, x => x.cast("double"))
      element_at(transform(array(vd), v =>
        element_at(transform(
          array(sqrt(graft.functions.VectorFunctions.sumSquares(v))), n =>
          when(n === 0.0, v).otherwise(transform(v, x => x / n))), 1)), 1)
    }

    /** One subspace codebook as a single constant-folded literal (the
      * [[Ivf.centroidsLiteral]] discipline — never nlist × dim expression
      * nodes). Entry order IS code order, so LUT position `code + 1`
      * addresses code `code`.
      */
    private def codebookLiteral(cb: Array[Array[Double]]): Column =
      typedlit(cb.toSeq.zipWithIndex.map { case (c, i) => (i, c.toSeq) })
        .cast("array<struct<code:int,c:array<double>>>")

    private def sqDist(a: Column, b: Column): Column =
      graft.functions.VectorFunctions.sumSquares(
        zip_with(a, b, (x, y) => x - y))

    /** Fit per-subspace codebooks on ONE bounded normalized sample. The
      * sample is cached once; each subspace COLLECTS only its dsub-wide
      * slice (≤ ksub·[[TrainPointsPerCode]] × dsub doubles — a few MB)
      * and fits a DRIVER-LOCAL seeded k-means++. Distributed KMeans here
      * would schedule m × (init + iters) Spark jobs over a sample that
      * fits in one heap — measured 17 s of pure scheduler overhead at
      * m = 16 on this box vs ~1 s local. Corpus-sized work (the sample
      * scan, encoding, the ADC scan) stays distributed; only the
      * bounded training sample ever touches the driver.
      */
    def train(
        corpus: DataFrame,
        vecCol: String,
        m: Int,
        ksub: Int = 256,
        seed: Long = 42L,
        maxIter: Int = 20): PqModel = {
      val first = corpus.where(col(vecCol).isNotNull)
        .select(size(col(vecCol)).as("d")).head(1)
      require(first.nonEmpty, "Pq.train: empty corpus")
      val dim = first(0).getInt(0)
      // null vectors carry no training signal and would NPE the collect;
      // they are excluded here while encode() stays LOUD on them
      val norm = corpus.where(col(vecCol).isNotNull)
        .select(l2normalize(col(vecCol)).as("__nv"))
      trainOnNv(norm, dim, m, ksub, seed, maxIter)
    }

    /** Fit codebooks over a PREPARED training frame (single column `__nv`
      * of already-normalized — or residual — vectors). The shared engine
      * behind [[train]] and [[IvfPq]]'s residual training: the sample is
      * bounded, cached once, and each subspace collects only its
      * dsub-wide slice for a driver-local fit.
      */
    private[operators] def trainOnNv(
        nvDf: DataFrame,
        dim: Int,
        m: Int,
        ksub: Int,
        seed: Long,
        maxIter: Int): PqModel = {
      require(m >= 1, s"m must be >= 1, got $m")
      require(ksub >= 2 && ksub <= 256,
        s"ksub must be in [2, 256] (codes are byte-ranged), got $ksub")
      require(dim % m == 0,
        s"dim $dim must be divisible by m=$m (equal subspaces)")
      val dsub = dim / m
      val targetTrain = ksub.toLong * TrainPointsPerCode
      val n = nvDf.count()
      require(n > 0, "Pq.train: empty training frame")
      val sample =
        if (n <= targetTrain) nvDf
        else nvDf.sample(math.min(1.0, targetTrain.toDouble * 1.1 / n), seed)
      sample.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        sample.count() // materialize once; the m slice-collects hit cache
        val codebooks = (0 until m).map { j =>
          val pts = sample
            .select(slice(col("__nv"), j * dsub + 1, dsub).as("__s"))
            .collect().map(_.getSeq[Double](0).toArray)
          localKMeansPlusPlus(pts, ksub, maxIter, seed + j)
        }.toArray
        PqModel(codebooks)
      } finally sample.unpersist(blocking = false)
    }

    /** Driver-local Lloyd's with k-means++ seeding. Points are sorted
      * lexicographically first, so the fit depends on the sample's
      * CONTENT, not the partition order it was collected in. Duplicate-
      * heavy inputs may yield fewer than k centers (every point at
      * distance 0) — codes then range over the returned length.
      */
    private[operators] def localKMeansPlusPlus(
        points: Array[Array[Double]],
        k: Int,
        iters: Int,
        seed: Long): Array[Array[Double]] = {
      require(points.nonEmpty, "localKMeans: no training points")
      val ord = new Ordering[Array[Double]] {
        def compare(a: Array[Double], b: Array[Double]): Int = {
          var i = 0
          while (i < a.length && i < b.length) {
            val c = java.lang.Double.compare(a(i), b(i))
            if (c != 0) return c
            i += 1
          }
          a.length - b.length
        }
      }
      val pts = points.sorted(ord)
      def sq(a: Array[Double], b: Array[Double]): Double = {
        var s = 0.0; var i = 0
        while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
        s
      }
      val rnd = new java.util.Random(seed)
      val centers = scala.collection.mutable.ArrayBuffer(
        pts(rnd.nextInt(pts.length)).clone())
      val d2 = Array.fill(pts.length)(Double.MaxValue)
      var exhausted = false
      while (centers.length < k && !exhausted) {
        var total = 0.0
        var i = 0
        while (i < pts.length) {
          val d = sq(pts(i), centers.last)
          if (d < d2(i)) d2(i) = d
          total += d2(i); i += 1
        }
        if (total <= 0.0) exhausted = true // every point covered exactly
        else {
          var r = rnd.nextDouble() * total
          var pick = 0
          while (pick < pts.length - 1 && r > d2(pick)) { r -= d2(pick); pick += 1 }
          centers += pts(pick).clone()
        }
      }
      val ctr = centers.toArray
      val dsub = pts(0).length
      var it = 0
      while (it < iters) {
        val sums = Array.fill(ctr.length, dsub)(0.0)
        val cnts = Array.fill(ctr.length)(0L)
        var i = 0
        while (i < pts.length) {
          var best = 0; var bestD = Double.MaxValue; var c = 0
          while (c < ctr.length) {
            val d = sq(pts(i), ctr(c))
            if (d < bestD) { bestD = d; best = c } // ties keep lower index
            c += 1
          }
          cnts(best) += 1
          var j = 0
          while (j < dsub) { sums(best)(j) += pts(i)(j); j += 1 }
          i += 1
        }
        var c = 0
        while (c < ctr.length) {
          if (cnts(c) > 0) {
            var j = 0
            while (j < dsub) { ctr(c)(j) = sums(c)(j) / cnts(c); j += 1 }
          } // empty cluster keeps its previous center
          c += 1
        }
        it += 1
      }
      ctr
    }

    /** Append `__pq_codes` (array<smallint>, one code per subspace):
      * argmin squared-L2 against each subspace codebook, ties to the
      * smaller code — deterministic across engines and partitionings.
      * Rows whose vector dimension disagrees with the model fail LOUD
      * in-row (a silently truncated slice would encode garbage).
      */
    def encode(model: PqModel, df: DataFrame, vecCol: String): DataFrame = {
      val checked = when(size(col(vecCol)) === model.dim, l2normalize(col(vecCol)))
        .otherwise(raise_error(concat(
          lit(s"Pq.encode: vector dim "),
          coalesce(size(col(vecCol)).cast("string"), lit("NULL")),
          lit(s" != model dim ${model.dim}"))).cast("array<double>"))
      encodeNv(model, df.withColumn("__pq_nv", checked), "__pq_nv")
        .drop("__pq_nv")
    }

    /** Append `__pq_codes` from a PREPARED (normalized or residual)
      * vector column — the caller owns normalization/checking. Shared by
      * [[encode]] and [[IvfPq]]'s residual path.
      */
    private[operators] def encodeNv(
        model: PqModel, df: DataFrame, nvCol: String): DataFrame = {
      val dsub = model.dsub
      val codes = model.codebooks.toIndexedSeq.zipWithIndex.map { case (cb, j) =>
        // bind the subvector once — referenced ksub times by the argmin —
        // and fold for the min instead of array_sort: O(ksub) with no
        // struct array to allocate and sort per row, and the distance is
        // let-bound so it computes once per entry (ties keep the first =
        // lowest code, the same winner the sort's (d, code) order picked)
        element_at(transform(array(slice(col(nvCol), j * dsub + 1, dsub)),
          sub => aggregate(codebookLiteral(cb),
            struct(lit(Double.MaxValue).as("d"), lit(-1).as("code")),
            (acc, c) => element_at(transform(array(sqDist(sub, c.getField("c"))),
              dd => when(dd < acc.getField("d"),
                struct(dd.as("d"), c.getField("code").as("code")))
                .otherwise(acc)), 1))
            .getField("code")), 1)
      }
      df.withColumn(CodesCol, array(codes: _*).cast("array<smallint>"))
    }

    /** Train + encode + project: the one-call index build. */
    def build(
        corpus: DataFrame,
        idCol: String,
        vecCol: String,
        m: Int,
        ksub: Int = 256,
        seed: Long = 42L,
        maxIter: Int = 20): PqIndex = {
      val model = train(corpus, vecCol, m, ksub, seed, maxIter)
      PqIndex(
        encode(model, corpus, vecCol).select(col(idCol).as("id"), col(CodesCol)),
        model, "id")
    }

    /** Normalized vector with a loud dim check against the model. */
    private[operators] def checkedQueryVec(
        model: PqModel, vec: Column, who: String): Column =
      when(size(vec) === model.dim, l2normalize(vec))
        .otherwise(raise_error(concat(
          lit(s"$who: vector dim "),
          coalesce(size(vec).cast("string"), lit("NULL")),
          lit(s" != model dim ${model.dim}"))).cast("array<double>"))

    /** Per-query ADC lookup table over an already-normalized vector:
      * `__lut(j)(code+1)` = squared subspace distance.
      */
    private[operators] def lutExpr(model: PqModel, qnv: Column): Column = {
      val dsub = model.dsub
      array(model.codebooks.toIndexedSeq.zipWithIndex.map {
        case (cb, j) =>
          element_at(transform(
            array(slice(qnv, j * dsub + 1, dsub)), sub =>
              transform(codebookLiteral(cb), c =>
                sqDist(sub, c.getField("c")))), 1)
      }: _*)
    }

    /** `cos_est` from codes + a `__lut` column (adc = 2 − 2·cos on the
      * unit sphere), rounded to 6 decimals for engine-stable ranking.
      */
    private[operators] def cosEstExpr(codes: Column, lut: Column): Column = {
      val adc = aggregate(
        zip_with(codes, lut,
          (code, l) => element_at(l, code.cast("int") + 1)),
        lit(0.0), (acc, x) => acc + x)
      round(lit(1.0) - adc / 2, 6)
    }

    /** ADC top-k: the per-query LUT (m × ksub subspace distances) is
      * computed once on the broadcast query side; each corpus row costs
      * m lookups over its codes. Output (q_id, id, cos_est, rank) —
      * `cos_est` rounded to 6 decimals before ranking, ties by id, the
      * [[bruteForceTopK]] contract. Queries are broadcast — keep the
      * query set small (the brute-force contract); the CORPUS side
      * streams codes only.
      */
    def search(
        index: PqIndex,
        queries: DataFrame,
        qIdCol: String,
        vecCol: String,
        k: Int): DataFrame = {
      require(k >= 1, s"k must be >= 1, got $k")
      val model = index.model
      val q = queries
        .select(col(qIdCol).as("q_id"),
          checkedQueryVec(model, col(vecCol), "Pq.search").as("__pq_qnv"))
        .withColumn("__lut", lutExpr(model, col("__pq_qnv")))
        .drop("__pq_qnv")
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos_est").desc, col("id").asc)
      index.encoded.crossJoin(broadcast(q))
        .withColumn("cos_est", cosEstExpr(col(CodesCol), col("__lut")))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= k)
        .select(col("q_id"), col(index.idCol).as("id"), col("cos_est"), col("rank"))
    }

    /** ADC shortlist + exact re-rank (the paper's IVFADC+R refinement):
      * [[search]] keeps `k × refine` candidates per query from the
      * codes-only scan, then ONLY those rows' float vectors are re-read
      * (broadcast semi-filter on the corpus — the corpus never shuffles)
      * and exact cosine re-ranks to the final k. Recall becomes the
      * shortlist's hit rate, at the cost of one filtered pass over the
      * float column; lay the corpus out id-clustered with parquet bloom
      * filters ([[Compaction.writeClustered]]) so that pass prunes row
      * groups instead of reading everything.
      */
    def searchRefined(
        index: PqIndex,
        corpus: DataFrame,
        corpusIdCol: String,
        corpusVecCol: String,
        queries: DataFrame,
        qIdCol: String,
        qVecCol: String,
        k: Int,
        refine: Int = 4): DataFrame = {
      require(refine >= 1, s"refine must be >= 1, got $refine")
      val shortlist = search(index, queries, qIdCol, qVecCol, k * refine)
        .select(col("q_id"), col("id"))
      exactRerank(shortlist, corpus, corpusIdCol, corpusVecCol,
        queries, qIdCol, qVecCol, k)
    }

    /** Exact-cosine re-rank of an approximate (q_id, id) shortlist —
      * shared by [[searchRefined]] and [[IvfPq.searchRefined]].
      */
    private[operators] def exactRerank(
        shortlist: DataFrame,
        corpus: DataFrame,
        corpusIdCol: String,
        corpusVecCol: String,
        queries: DataFrame,
        qIdCol: String,
        qVecCol: String,
        k: Int): DataFrame =
      exactRerankPrepped(shortlist,
        Dedup.cosineSide(corpus, Nil, corpusIdCol, corpusVecCol, "c")
          .withColumnRenamed("id_c", "id"),
        Dedup.cosineSide(queries, Nil, qIdCol, qVecCol, "q")
          .withColumnRenamed("id_q", "q_id"),
        k)

    /** [[exactRerank]] over pre-projected cosine sides (id/vector/norm
      * already extracted) — callers issuing MANY reranks against one
      * corpus (the recall audit's 12 budget measurements) pin the
      * prepped side once instead of re-projecting it per call.
      */
    private[operators] def exactRerankPrepped(
        shortlist: DataFrame,
        corpusPrepped: DataFrame,
        queriesPrepped: DataFrame,
        k: Int): DataFrame = {
      val c = corpusPrepped.join(broadcast(shortlist), Seq("id"))
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos").desc, col("id").asc)
      c.join(broadcast(queriesPrepped), Seq("q_id"))
        .withColumn("cos", round(Dedup.cosineWithNorms(
          col("__v_q"), col("__v_c"), col("__n_q"), col("__n_c")), 6))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= k)
        .select("q_id", "id", "cos", "rank")
    }

    /** Persist: codes parquet + codebook sidecar, sidecar LAST with the
      * [[Ivf.writeIndex]] single-writer torn-write discipline.
      */
    def writeIndex(index: PqIndex, path: String): Unit = {
      val spark = index.encoded.sparkSession
      index.encoded.write.mode("overwrite").parquet(path)
      val dir = new org.apache.hadoop.fs.Path(path)
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      val json = graft.io.Json.toJson(Map(
        "id_col" -> index.idCol,
        "m" -> index.model.m, "dsub" -> index.model.dsub,
        "codebooks" -> index.model.codebooks.toSeq.map(_.toSeq.map(_.toSeq))))
      val committed = graft.io.Sidecar.commit(
        fs, dir, SidecarFileName, json, overwrite = true)
      if (committed != json) throw new IllegalStateException(
        s"Pq.writeIndex: concurrent writer detected at $path — rebuild " +
          "the index single-writer")
    }

    /** Load a persisted PQ index; loud when the sidecar is missing. */
    def loadIndex(spark: SparkSession, path: String): PqIndex = {
      val dir = new org.apache.hadoop.fs.Path(path)
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      val sidecar = new org.apache.hadoop.fs.Path(dir, SidecarFileName)
      require(fs.exists(sidecar),
        s"no PQ sidecar at $path — index missing or torn by a failed write")
      val in = fs.open(sidecar)
      val node =
        try graft.io.Json.parse(new String(
          org.apache.commons.io.IOUtils.toByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8))
        finally in.close()
      val codebooks = node.get("codebooks").elements().asScala.map { jb =>
        jb.elements().asScala.map(c =>
          c.elements().asScala.map(_.asDouble()).toArray).toArray
      }.toArray
      PqIndex(spark.read.parquet(path), PqModel(codebooks),
        node.get("id_col").asText())
    }
  }

  /** An IVF-PQ index: rows `(id, __cell, __pq_codes)` — coarse cell for
    * pruning, PQ codes for the in-cell ADC scan.
    */
  final case class IvfPqIndex(
      encoded: DataFrame,
      centroids: Array[(Int, Array[Double])],
      model: PqModel,
      idCol: String,
      nassign: Int,
      residual: Boolean = false)

  /** IVF-PQ (Jégou 2011's IVFADC): the coarse quantizer prunes the
    * search to `nprobe` of `nlist` cells, and WITHIN the probed cells
    * only m-byte PQ codes are scanned — the two axes of ANN scale
    * (fraction of corpus touched × bytes per row touched) composed.
    * This is the canonical billion-vector architecture; with the
    * persisted layout, a probe reads nprobe cell DIRECTORIES of
    * codes-only parquet.
    *
    * Two encodings, chosen at [[build]] time:
    *  - `residual = false` (default): codes encode the (normalized)
    *    vectors themselves — simpler, re-uses [[Pq]]'s machinery
    *    verbatim, one LUT per query.
    *  - `residual = true` — TRUE IVFADC (Jégou 2011 §IV): codes encode
    *    the residual `nv − centroid(cell)`. Residuals concentrate near
    *    the origin, so the same codebook budget spends its entries on a
    *    much smaller volume — higher recall at identical compression.
    *    The cost: the query LUT becomes per-(query, probed cell)
    *    (`q − centroid(cell)` against the codebooks) — nprobe LUTs per
    *    query instead of one, still broadcast-side-only work.
    */
  object IvfPq {

    val SidecarFileName = "_graft_ivfpq_index.json"

    /** Cell → centroid as ONE map literal (the [[Ivf.centroidsLiteral]]
      * discipline); `element_at(map, cell)` resolves a row's centroid
      * without an nlist-wide struct filter per row.
      */
    private[operators] def centroidMapLiteral(
        cents: Array[(Int, Array[Double])]): Column =
      typedlit(cents.map { case (k, v) => k -> v.toSeq }.toMap)
        .cast("map<int,array<double>>")

    /** `nv − centroid(__cell)` — the IVFADC residual. */
    private def residExpr(nv: Column, mapLit: Column): Column =
      zip_with(nv, element_at(mapLit, col("__cell")), (x, c) => x - c)

    /** Coarse quantizer + per-subspace codebooks + cell-tagged codes. */
    def build(
        corpus: DataFrame,
        idCol: String,
        vecCol: String,
        nlist: Int,
        m: Int,
        ksub: Int = 256,
        seed: Long = 42L,
        maxIter: Int = 20,
        nassign: Int = 1,
        residual: Boolean = false): IvfPqIndex =
      buildWithIvf(
        Ivf.build(corpus, idCol, vecCol, nlist, seed, maxIter, nassign),
        corpus, idCol, vecCol, m, ksub, seed, maxIter, nassign, residual)

    /** [[build]] over an ALREADY-built coarse quantizer — for callers
      * that also need the plain IVF index over the same corpus at the
      * same parameters (the recall audit), so the coarse kmeans runs
      * once, not twice.
      */
    private[operators] def buildWithIvf(
        ivf: IvfIndex,
        corpus: DataFrame,
        idCol: String,
        vecCol: String,
        m: Int,
        ksub: Int,
        seed: Long,
        maxIter: Int,
        nassign: Int,
        residual: Boolean): IvfPqIndex = {
      if (!residual) {
        val model = Pq.train(corpus, vecCol, m, ksub, seed)
        val encoded = Pq.encode(model, ivf.assigned, vecCol)
          .select(col(idCol).as("id"), col("__cell"), col(Pq.CodesCol))
        IvfPqIndex(encoded, ivf.centroids, model, "id", nassign)
      } else {
        val mapLit = centroidMapLiteral(ivf.centroids)
        // codebooks are trained on the residuals of the ASSIGNED rows —
        // with multi-assignment every (row, cell) copy contributes its
        // own residual, matching what encode() will quantize
        val first = corpus.where(col(vecCol).isNotNull)
          .select(size(col(vecCol)).as("d")).head(1)
        require(first.nonEmpty, "IvfPq.build: empty corpus")
        val dim = first(0).getInt(0)
        val residTrain = ivf.assigned.where(col(vecCol).isNotNull)
          .select(residExpr(Pq.l2normalize(col(vecCol)), mapLit).as("__nv"))
        val model = Pq.trainOnNv(residTrain, dim, m, ksub, seed, maxIter)
        val checkedNv =
          Pq.checkedQueryVec(model, col(vecCol), "IvfPq.build")
        val encoded = Pq.encodeNv(
          model,
          ivf.assigned.withColumn("__pq_rv", residExpr(checkedNv, mapLit)),
          "__pq_rv")
          .select(col(idCol).as("id"), col("__cell"), col(Pq.CodesCol))
        IvfPqIndex(encoded, ivf.centroids, model, "id", nassign,
          residual = true)
      }
    }

    /** Probe `nprobe` cells, ADC-rank their codes. `pruneScan` mirrors
      * [[Ivf.search]]: the probed cell set becomes an `IN` literal so a
      * persisted index scans only those cells' directories (the query
      * side is pinned so the pruning job and the search read the same
      * materialization).
      */
    def search(
        index: IvfPqIndex,
        queries: DataFrame,
        qIdCol: String,
        vecCol: String,
        k: Int,
        nprobe: Int,
        pruneScan: Boolean = true): DataFrame = {
      require(k >= 1, s"k must be >= 1, got $k")
      val model = index.model
      // normalization preserves cosine order to the centroids, so the
      // probed cells equal Ivf.search's on the raw vector
      val qBase = queries
        .select(col(qIdCol).as("q_id"),
          Pq.checkedQueryVec(model, col(vecCol), "IvfPq.search").as("__pq_qnv"))
      val q0 =
        if (!index.residual)
          // one LUT per query, shared across its probed cells
          qBase.withColumn("__lut", Pq.lutExpr(model, col("__pq_qnv")))
            .withColumn("__cell",
              explode(Ivf.topCells(col("__pq_qnv"),
                Ivf.centroidsLiteral(index.centroids), nprobe)))
            .drop("__pq_qnv")
        else
          // IVFADC: the LUT is per-(query, cell) — computed from the
          // query residual against the probed cell's centroid, matching
          // how the corpus codes were produced. Still broadcast-side
          // work: nprobe × m × ksub doubles per query.
          qBase.withColumn("__cell",
            explode(Ivf.topCells(col("__pq_qnv"),
              Ivf.centroidsLiteral(index.centroids), nprobe)))
            .withColumn("__lut", Pq.lutExpr(model,
              residExpr(col("__pq_qnv"), centroidMapLiteral(index.centroids))))
            .drop("__pq_qnv")
      val (q, encoded) =
        if (pruneScan) {
          val pinned = graft.core.Caches.pin(q0)
          val cells = pinned.select("__cell").distinct().collect()
            .map(_.getAs[Int]("__cell")) // bounded: ≤ nlist values
          (pinned,
            index.encoded.where(col("__cell").isin(cells.map(Int.box): _*)))
        } else (q0, index.encoded)
      val scored = encoded.join(broadcast(q), Seq("__cell"))
        .withColumn("cos_est", Pq.cosEstExpr(col(Pq.CodesCol), col("__lut")))
      // multi-assigned rows can meet a query in several probed cells —
      // with residual encoding each meeting carries a DIFFERENT estimate
      // (per-cell residuals), so collapse keeps the max deterministically;
      // for plain encoding the estimates are identical and max is a no-op
      val unique =
        if (index.nassign > 1)
          scored.groupBy(col("q_id"), col(index.idCol))
            .agg(max(col("cos_est")).as("cos_est"))
        else scored
      val w = Window.partitionBy(col("q_id"))
        .orderBy(col("cos_est").desc, col("id").asc)
      unique
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= k)
        .select(col("q_id"), col(index.idCol).as("id"),
          col("cos_est"), col("rank"))
    }

    /** ADC shortlist from the probed cells, exact-cosine re-rank. */
    def searchRefined(
        index: IvfPqIndex,
        corpus: DataFrame,
        corpusIdCol: String,
        corpusVecCol: String,
        queries: DataFrame,
        qIdCol: String,
        qVecCol: String,
        k: Int,
        nprobe: Int,
        refine: Int = 4): DataFrame = {
      require(refine >= 1, s"refine must be >= 1, got $refine")
      val shortlist =
        search(index, queries, qIdCol, qVecCol, k * refine, nprobe)
          .select(col("q_id"), col("id"))
      Pq.exactRerank(shortlist, corpus, corpusIdCol, corpusVecCol,
        queries, qIdCol, qVecCol, k)
    }

    /** Persist cell-partitioned codes + one sidecar holding BOTH
      * quantizers, sidecar LAST ([[Ivf.writeIndex]] discipline: static
      * overwrite, loud on a concurrent writer).
      */
    def writeIndex(index: IvfPqIndex, path: String): Unit = {
      val spark = index.encoded.sparkSession
      index.encoded.write.mode("overwrite")
        .option("partitionOverwriteMode", "static")
        .partitionBy("__cell").parquet(path)
      val dir = new org.apache.hadoop.fs.Path(path)
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      val json = graft.io.Json.toJson(Map(
        "id_col" -> index.idCol, "nassign" -> index.nassign,
        "residual" -> index.residual,
        "m" -> index.model.m, "dsub" -> index.model.dsub,
        "centroids" -> index.centroids.toSeq.map { case (cell, c) =>
          Map("cell" -> cell, "c" -> c.toSeq) },
        "codebooks" -> index.model.codebooks.toSeq.map(_.toSeq.map(_.toSeq))))
      val committed = graft.io.Sidecar.commit(
        fs, dir, SidecarFileName, json, overwrite = true)
      if (committed != json) throw new IllegalStateException(
        s"IvfPq.writeIndex: concurrent writer detected at $path — rebuild " +
          "the index single-writer")
    }

    /** Append a batch to a persisted index with FROZEN quantizers: the
      * sidecar's centroids assign cells, its codebooks encode — no
      * retraining, no rebuild; new files land inside the existing cell
      * directories and the next [[search]] sees them (nightly embedding
      * arrivals without touching the standing corpus). The sidecar is
      * NOT rewritten — a crash mid-append leaves a valid index plus
      * some orphaned extra rows of the interrupted batch; delivery is
      * at-least-once (replays re-append; dedup by id downstream or
      * rebuild periodically — quantizer drift is the real reason to
      * rebuild anyway, on the index's own schedule).
      */
    def appendBatch(
        spark: SparkSession,
        path: String,
        batch: DataFrame,
        idCol: String,
        vecCol: String): Unit = {
      val index = loadIndex(spark, path) // loud on missing/torn sidecar
      val assigned = batch.withColumn("__cell",
        explode(Ivf.topCells(col(vecCol),
          Ivf.centroidsLiteral(index.centroids),
          math.min(index.nassign, index.centroids.length))))
      val encoded =
        if (!index.residual) Pq.encode(index.model, assigned, vecCol)
        else Pq.encodeNv(
          index.model,
          assigned.withColumn("__pq_rv", residExpr(
            Pq.checkedQueryVec(index.model, col(vecCol), "IvfPq.appendBatch"),
            centroidMapLiteral(index.centroids))),
          "__pq_rv")
      encoded
        .select(col(idCol).as(index.idCol), col("__cell"), col(Pq.CodesCol))
        .write.mode("append").partitionBy("__cell").parquet(path)
    }

    /** Approximate reconstruction of the encoded (normalized or
      * residual) vector from its PQ codes: per subspace, the codebook
      * entry the code names, concatenated — the standard ADC-decode.
      * One codebook literal (m × ksub × dsub doubles, broadcast as a
      * constant), codegen'd per row.
      */
    private[operators] def decodeExpr(model: PqModel): Column = {
      val cbLit = typedlit(model.codebooks.toSeq.map(_.toSeq.map(_.toSeq)))
        .cast("array<array<array<double>>>")
      flatten(transform(col(Pq.CodesCol), (c, i) =>
        element_at(element_at(cbLit, i.cast("int") + 1), c.cast("int") + 1)))
    }

    /** Cell directories present in the layout but absent from the
      * sidecar's centroid list — the footprint of a [[splitCell]] that
      * crashed between writing the sub-cells and committing the sidecar
      * (or between committing and deleting the split cell). Readers are
      * immune either way ([[loadIndex]] scopes the scan to the
      * sidecar's cells), so a torn split NEVER changes search results;
      * this is the audit/repair surface.
      */
    def staleCellDirs(spark: SparkSession, path: String): Seq[Int] = {
      val index = loadIndex(spark, path)
      val live = index.centroids.map(_._1).toSet
      val dir = new org.apache.hadoop.fs.Path(path)
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      fs.listStatus(dir).filter(_.isDirectory).map(_.getPath.getName)
        .collect { case s if s.startsWith("__cell=") =>
          s.stripPrefix("__cell=").toInt }
        .filterNot(live).sorted.toSeq
    }

    /** Split an oversized cell under FROZEN codebooks — the maintenance
      * action [[cellStats]]' drift evidence calls for when
      * [[appendBatch]] growth piles arrivals into a few cells (a probe
      * of a 10×-mean cell scans 10× the budget). Only that cell's
      * directory is touched; the rest of the layout — at 100 TB,
      * thousands of cells of codes — is never read or rewritten.
      *
      * Mechanics: the cell's codes are ADC-decoded to approximate
      * vectors ([[decodeExpr]]; plus the cell centroid for residual
      * layouts), `nsplit` sub-centroids are trained driver-locally on a
      * bounded sample of them, every row is re-assigned to its nearest
      * sub-centroid, and (for residual encoding) re-encoded against it.
      * Commit order makes every crash point safe: (1) sub-cell
      * directories land under FRESH cell ids the sidecar does not yet
      * list — invisible to readers; (2) the sidecar commits atomically
      * with the split cell replaced by the sub-centroids and `version`
      * bumped — readers atomically switch to the sub-cells; (3) the old
      * directory is left in place, merely unlisted, and deleted by the
      * NEXT splitCell's entry GC — never here, because an in-flight
      * reader whose scan was planned against the previous sidecar still
      * lists it in its IN partition filter, and deleting under that
      * scan would fail it mid-query; a maintenance interval lets such
      * scans drain. A torn OR completed split therefore never breaks a
      * reader, only leaves stale bytes, surfaced by [[staleCellDirs]]
      * and garbage-collected on entry by the next [[splitCell]]. Loud
      * on a concurrent sidecar writer (single maintainer, like every
      * write path here).
      *
      * Search semantics: sub-cell ADC estimates are bit-identical for
      * plain encoding (codes unchanged, LUT per query unchanged — a
      * full-probe search returns exactly the pre-split results) and
      * re-quantized for residual encoding (the reconstruction is
      * approximate; the AnnMultimodalSpec pins the recall floor).
      * Returns the new cell ids.
      */
    def splitCell(
        spark: SparkSession,
        path: String,
        cell: Int,
        nsplit: Int = 2,
        seed: Long = 42L,
        maxIter: Int = 20): Seq[Int] = {
      require(nsplit >= 2 && nsplit <= 4096,
        s"nsplit must be in [2, 4096], got $nsplit")
      val index = loadIndex(spark, path) // loud on missing/torn sidecar
      val cells = index.centroids.map(_._1)
      require(cells.contains(cell),
        s"splitCell: cell $cell is not in the index (cells: " +
          s"${cells.sorted.take(20).mkString(", ")}${if (cells.length > 20) ", …" else ""})")
      val dir = new org.apache.hadoop.fs.Path(path)
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      // GC a torn predecessor's unlisted directories so re-using their
      // cell ids below cannot mix two splits' rows
      staleCellDirs(spark, path).foreach { stale =>
        fs.delete(new org.apache.hadoop.fs.Path(dir, s"__cell=$stale"), true)
      }
      val rows = index.encoded.where(col("__cell") === cell)
      val mapLit = centroidMapLiteral(index.centroids)
      val vhat =
        if (index.residual)
          zip_with(decodeExpr(index.model),
            element_at(mapLit, col("__cell")), (x, c) => x + c)
        else decodeExpr(index.model)
      val decoded = rows.withColumn("__vhat", vhat)
      // bounded training sample, the Ivf.build budget per sub-cell
      val n = decoded.count()
      require(n > 0, s"splitCell: cell $cell is empty — nothing to split")
      val target = nsplit.toLong * Ivf.TrainPointsPerCell
      val sampled =
        if (n <= target) decoded
        else decoded.sample(math.min(1.0, target.toDouble * 1.1 / n), seed)
      val pts = sampled.select(col("__vhat")).collect()
        .map(_.getSeq[Double](0).toArray)
      val subCents = Pq.localKMeansPlusPlus(pts, nsplit, maxIter, seed)
      require(subCents.length >= 2,
        s"splitCell: cell $cell is degenerate (all sampled points " +
          "identical) — splitting cannot spread it")
      val maxCell = cells.max
      val newCents: Array[(Int, Array[Double])] =
        subCents.zipWithIndex.map { case (c, i) => (maxCell + 1 + i) -> c }
      val assigned = decoded.withColumn("__cell_new",
        element_at(
          Ivf.topCells(col("__vhat"), Ivf.centroidsLiteral(newCents), 1), 1))
      val out =
        if (!index.residual)
          assigned.select(col(index.idCol), col("__cell_new").as("__cell"),
            col(Pq.CodesCol))
        else {
          val newMap = centroidMapLiteral(newCents)
          Pq.encodeNv(
            index.model,
            assigned
              .withColumn("__rv", zip_with(col("__vhat"),
                element_at(newMap, col("__cell_new")), (x, c) => x - c))
              // encodeNv re-creates __pq_codes from __rv
              .drop(Pq.CodesCol),
            "__rv")
            .select(col(index.idCol), col("__cell_new").as("__cell"),
              col(Pq.CodesCol))
        }
      out.write.mode("append").partitionBy("__cell").parquet(path)
      // sidecar LAST, atomically swapping the split cell for its
      // sub-cells; version records the maintenance generation
      val version = {
        val node = graft.io.Json.parse(
          graft.io.Sidecar.read(fs, dir, SidecarFileName).get)
        if (node.has("version")) node.get("version").asLong() else 0L
      }
      val kept = index.centroids.filterNot(_._1 == cell) ++ newCents
      val json = graft.io.Json.toJson(Map(
        "id_col" -> index.idCol, "nassign" -> index.nassign,
        "residual" -> index.residual, "version" -> (version + 1),
        "m" -> index.model.m, "dsub" -> index.model.dsub,
        "centroids" -> kept.toSeq.map { case (c, v) =>
          Map("cell" -> c, "c" -> v.toSeq) },
        "codebooks" -> index.model.codebooks.toSeq.map(_.toSeq.map(_.toSeq))))
      val committed = graft.io.Sidecar.commit(
        fs, dir, SidecarFileName, json, overwrite = true)
      if (committed != json) throw new IllegalStateException(
        s"IvfPq.splitCell: concurrent writer detected at $path — " +
          "maintenance is single-writer")
      // Deletion of the split cell's directory is DEFERRED to the next
      // splitCell's entry GC (it is now unlisted — a stale dir like a
      // torn split's). Deleting here would FileNotFoundException any
      // in-flight reader whose scan was planned against the PREVIOUS
      // sidecar (its IN-filter still lists this cell); one maintenance
      // interval lets those scans drain first.
      newCents.map(_._1).toSeq
    }

    /** Cell-balance audit of a persisted IVF or IVF-PQ layout: per-cell
      * row counts with each cell's ratio to the mean — the "when to
      * rebuild" dial for [[appendBatch]] growth under frozen quantizers
      * (drifting arrivals pile into a few cells; a probe of a 10×-mean
      * cell scans 10× the budget). Reads only the `__cell` partition
      * column — directory-listing cheap, no vector bytes touched.
      * Scoped to the sidecar's live cell list (the same IN partition
      * filter as [[loadIndex]]) so stale directories — a torn split's
      * orphans, or a completed split's not-yet-GC'd old cell — never
      * inflate the counts. Returns (cell, rows, mean_ratio) sorted by
      * ratio descending.
      */
    def cellStats(spark: SparkSession, path: String): DataFrame = {
      val dir = new org.apache.hadoop.fs.Path(path)
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      val side = Seq(SidecarFileName, Ivf.SidecarFileName)
        .find(n => fs.exists(new org.apache.hadoop.fs.Path(dir, n)))
      require(side.nonEmpty,
        s"no IVF/IVF-PQ sidecar at $path — not a persisted index")
      val node = graft.io.Json.parse(
        graft.io.Sidecar.read(fs, dir, side.get).get)
      val live = node.get("centroids").elements().asScala
        .map(e => Int.box(e.get("cell").asInt())).toSeq
      val counts = spark.read.parquet(path)
        .where(col("__cell").isin(live: _*))
        .groupBy(col("__cell").as("cell"))
        .agg(count(lit(1)).as("rows"))
      val mean = counts.agg(avg(col("rows")).as("__m"))
      counts.crossJoin(broadcast(mean))
        .select(col("cell"), col("rows"),
          round(col("rows") / col("__m"), 6).as("mean_ratio"))
        .orderBy(col("mean_ratio").desc, col("cell"))
    }

    /** The evidence-driven maintenance loop over [[cellStats]] +
      * [[splitCell]]: split every cell whose row count exceeds
      * `ratioThreshold` × the mean (largest drift first, bounded by
      * `maxSplits` per invocation so one nightly run cannot rewrite
      * the whole layout). The candidate list is ONE stats snapshot
      * taken on entry, so a split's own children are never re-split in
      * the same run — each invocation is a BOUNDED maintenance step,
      * not a rebalance-to-fixpoint (a genuinely tight cluster bigger
      * than the mean stays big however it is cut; its cure is a larger
      * probe budget or a rebuild, and repeated runs walk it down to
      * the degenerate-skip floor rather than thrashing). Returns the
      * cells actually split. Cheap no-op on a balanced index (the
      * stats scan reads only the partition column), so it is safe on a
      * nightly schedule; registered as Maintenance kind
      * `ivfpq-balance`.
      */
    def splitOversizedCells(
        spark: SparkSession,
        path: String,
        ratioThreshold: Double = 4.0,
        nsplit: Int = 2,
        maxSplits: Int = 16,
        seed: Long = 42L): Seq[Int] = {
      require(ratioThreshold > 1.0,
        s"ratioThreshold must be > 1 (it multiplies the MEAN cell size), " +
          s"got $ratioThreshold")
      require(maxSplits >= 1, s"maxSplits must be >= 1, got $maxSplits")
      val over = cellStats(spark, path)
        .where(col("mean_ratio") >= ratioThreshold)
        .orderBy(col("mean_ratio").desc, col("cell"))
        .select("cell").collect().map(_.getAs[Int]("cell"))
        .take(maxSplits).toSeq
      // a cell of EXACT duplicates cannot be spread by any split — skip
      // it with a warning instead of bricking the nightly loop (its cure
      // is upstream dedup or a rebuild, not more splitting)
      over.filter { c =>
        try { splitCell(spark, path, c, nsplit, seed); true }
        catch {
          case e: IllegalArgumentException if e.getMessage.contains("degenerate") =>
            System.err.println(
              s"[graft] splitOversizedCells: skipping cell $c of $path — " +
                e.getMessage)
            false
        }
      }
    }

    /** Load a persisted IVF-PQ index; loud when the sidecar is missing. */
    def loadIndex(spark: SparkSession, path: String): IvfPqIndex = {
      val dir = new org.apache.hadoop.fs.Path(path)
      val fs = dir.getFileSystem(spark.sessionState.newHadoopConf())
      val sidecar = new org.apache.hadoop.fs.Path(dir, SidecarFileName)
      require(fs.exists(sidecar),
        s"no IVF-PQ sidecar at $path — index missing or torn by a failed write")
      val in = fs.open(sidecar)
      val node =
        try graft.io.Json.parse(new String(
          org.apache.commons.io.IOUtils.toByteArray(in),
          java.nio.charset.StandardCharsets.UTF_8))
        finally in.close()
      val cents = node.get("centroids").elements().asScala.map { e =>
        e.get("cell").asInt() ->
          e.get("c").elements().asScala.map(_.asDouble()).toArray
      }.toArray
      val codebooks = node.get("codebooks").elements().asScala.map { jb =>
        jb.elements().asScala.map(c =>
          c.elements().asScala.map(_.asDouble()).toArray).toArray
      }.toArray
      // the index IS the sidecar's cells: scope the scan to them (an IN
      // partition filter — directory pruning, no data read) so the
      // unlisted directories of a torn splitCell are invisible to every
      // reader instead of riding in as dead rows
      val live = cents.map { case (c, _) => Int.box(c) }.toSeq
      IvfPqIndex(
        spark.read.parquet(path).where(col("__cell").isin(live: _*)),
        cents, PqModel(codebooks),
        node.get("id_col").asText(), node.get("nassign").asInt(),
        residual = node.has("residual") && node.get("residual").asBoolean())
    }
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019's ratio margin —
    * the CCMatrix/LASER parallel-corpus recipe): for every source
    * embedding, score its candidate targets by
    * `cos(x, y) / ((avgTopK(x) + avgTopK(y)) / 2)` — cosine relative to
    * both points' neighborhood densities, which kills the hub problem
    * (a generic sentence that is everyone's near-neighbor scores LOW
    * because its own neighborhood average is high). Returns each
    * source's best-margin pair above `threshold`, flagged `mutual` when
    * the target also picks that source back (judged within the k-NN
    * candidate graph, the standard practice).
    *
    * Engine-exact: cosines quantize to integer micros, neighborhood
    * sums are LONG sums, and the margin is ONE double division of
    * integer products, so the DuckDB oracle reproduces it bit-for-bit.
    * Degenerate neighborhoods (non-positive cosine mass) drop loud-ly
    * visible: their pairs are excluded rather than scored with a
    * sign-flipped denominator.
    *
    * Both sides are broadcast by the [[bruteForceTopK]] contract (keep
    * each under ~100k rows). [[marginBitextPairsByLanguage]] is the
    * scale entry point: it blocks a multilingual corpus per language
    * pair and ENFORCES this contract per block — call this primitive
    * directly only with caller-sized sides.
    */
  def marginBitextPairs(
      src: DataFrame,
      tgt: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 4,
      threshold: Double = 1.0): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    val cosu = round(col("cos") * 1e6).cast("long").as("cosu")
    val fwd = bruteForceTopK(tgt, src, idCol, vecCol, idCol, k)
      .select(col("q_id").as("src_id"), col("id").as("tgt_id"), cosu)
    val rev = bruteForceTopK(src, tgt, idCol, vecCol, idCol, k)
      .select(col("q_id").as("tgt_id"), cosu)
    val aSrc = fwd.groupBy("src_id")
      .agg(sum(col("cosu")).as("__sx"), count(lit(1)).as("__cx"))
    val aTgt = rev.groupBy("tgt_id")
      .agg(sum(col("cosu")).as("__sy"), count(lit(1)).as("__cy"))
    val denom = col("__sx") * col("__cy") + col("__sy") * col("__cx")
    val m = fwd.join(aSrc, "src_id").join(aTgt, "tgt_id")
      .where(denom > 0)
      .withColumn("margin", round(
        col("cosu") * 2.0 * col("__cx") * col("__cy") / denom, 6))
    val bySrc = Window.partitionBy(col("src_id"))
      .orderBy(col("margin").desc, col("tgt_id").asc)
    val byTgt = Window.partitionBy(col("tgt_id"))
      .orderBy(col("margin").desc, col("src_id").asc)
    m.withColumn("__rs", row_number().over(bySrc))
      .withColumn("__rt", row_number().over(byTgt))
      .withColumn("__tb", max(when(col("__rt") === 1, col("src_id"))).over(
        Window.partitionBy(col("tgt_id"))))
      .where(col("__rs") === 1 && col("margin") >= threshold)
      .select(col("src_id"), col("tgt_id"), col("margin"),
        (col("__tb") === col("src_id")).as("mutual"))
  }

  /** Margin-based bitext mining over ONE multilingual corpus, blocked
    * per language pair — the CCMatrix shape at scale. For each
    * requested `(src_lang, tgt_lang)` pair the two language buckets
    * mine via [[marginBitextPairs]]; results union with `src_lang` /
    * `tgt_lang` tags.
    *
    * The broadcast contract is enforced PER BLOCK, from ONE language
    * histogram job over the corpus: any requested language whose
    * bucket exceeds `maxBlockRows` fails loud BEFORE any mining plan
    * runs. The failure mode this guards is silent, total, and
    * cluster-wide — a 100-language corpus in which one language grew
    * past the contract would otherwise broadcast a multi-GB side to
    * every executor at once. Shard oversized languages upstream (hash
    * split + union the mined halves) or route them through the ANN
    * tier instead.
    *
    * Scale shape: one selective scan per language bucket (pair the
    * call with a corpus partitioned/bucketed by `langCol` so each
    * block prunes to its directories), each block's join broadcast-
    * sized by the enforced contract, output top-1-per-source tiny.
    * The pair loop is plan construction only — no per-pair driver
    * jobs beyond the single histogram.
    */
  def marginBitextPairsByLanguage(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      langCol: String,
      pairs: Seq[(String, String)],
      k: Int = 4,
      threshold: Double = 1.0,
      maxBlockRows: Long = 100000L): DataFrame = {
    require(pairs.nonEmpty, "marginBitextPairsByLanguage: no language pairs")
    require(pairs.forall { case (a, b) => a != b },
      "marginBitextPairsByLanguage: a language cannot pair with itself")
    require(maxBlockRows >= 1, s"maxBlockRows must be >= 1, got $maxBlockRows")
    val langs = pairs.flatMap(p => Seq(p._1, p._2)).distinct
    val counts = corpus
      .where(col(langCol).isin(langs: _*))
      .groupBy(col(langCol).cast("string").as("__l"))
      .agg(count(lit(1)).as("__n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val missing = langs.filterNot(counts.contains)
    require(missing.isEmpty,
      s"marginBitextPairsByLanguage: languages absent from the corpus: " +
        missing.mkString(", "))
    val over = langs.filter(l => counts(l) > maxBlockRows)
    if (over.nonEmpty) throw new IllegalArgumentException(
      "marginBitextPairsByLanguage: language bucket(s) exceed the " +
        s"per-block broadcast contract of $maxBlockRows rows: " +
        over.sorted.map(l => s"$l=${counts(l)}").mkString(", ") + ". " +
        "Shard those languages upstream (hash split, mine each shard, " +
        "union) or mine them through the IVF/IVF-PQ tier — an oversized " +
        "broadcast side would OOM every executor at once.")
    pairs.map { case (ls, lt) =>
      marginBitextPairs(
        corpus.where(col(langCol) === ls),
        corpus.where(col(langCol) === lt),
        idCol, vecCol, k, threshold)
        .withColumn("src_lang", lit(ls))
        .withColumn("tgt_lang", lit(lt))
    }.reduce(_.unionByName(_))
  }

  /** Recall of an ANN result against the exact result: fraction of exact
    * top-k pairs the approximate search also returned.
    */
  /** ANN recall REGRESSION TABLE — one row per (index_kind, budget):
    * build IVF, flat PQ, IVF-PQ and OPQ-rotated PQ indexes over
    * `corpus` at fixed parameters and measure top-`k` recall of each
    * against the exact brute-force result at every search `budget`.
    * The budget is each family's natural knob: probed cells (`nprobe`)
    * for `ivf`/`ivfpq`, shortlist multiplier (`refine`) for
    * `pq`/`opq`. Every stage is deterministic (seeded kmeans,
    * sha-derived inputs), so the emitted table is a PINNED regression
    * artifact: a quantizer change shows up as a value diff in one
    * diffable table, not as a scatter of flaky per-spec asserts
    * (AnnMultimodalSpec pins the table over the deterministic hash
    * embeddings and keeps the historical floors).
    *
    * Scale shape: one pinned exact top-k (queries are broadcast-small
    * by [[bruteForceTopK]]'s contract), four index builds (each with
    * its own bounded-training contract), `4 × budgets` searches whose
    * hit counts are left-semi-join counts — the corpus is never
    * collected. Output:
    * `(index_kind, budget, k, n_queries, hits, total, recall)` with
    * recall = hits/total rounded to 6 (exact LONG counts).
    */
  def recallAudit(
      corpus: DataFrame,
      queries: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int = 5,
      budgets: Seq[Int] = Seq(1, 2, 4),
      nlist: Int = 16,
      m: Int = 8,
      ksub: Int = 32,
      seed: Long = 42L): DataFrame = {
    require(k >= 1 && k <= 100, s"k must be in 1..100, got $k")
    require(budgets.nonEmpty && budgets.forall(b => b >= 1 && b <= 1024),
      s"budgets must be non-empty ints in 1..1024, got $budgets")
    val spark = corpus.sparkSession
    import spark.implicits._
    val nQueries = queries.count()
    val exact = graft.core.Caches.pin(
      bruteForceTopK(corpus, queries, idCol, vecCol, idCol, k))
    try {
      val total = exact.count()
      require(total > 0L,
        "recallAudit: exact top-k baseline is EMPTY (empty corpus or " +
          "query set) — nothing to audit; a defaulted recall of 1.0 " +
          "would pin a degenerate setup as perfect")
      // Shared-scan, single-action budgets: each family's per-budget
      // search differs ONLY in where it cuts one deterministic ranking
      // ([[Ivf.topCells]]' top-b cells are a PREFIX of its top-maxB
      // array; [[Pq.search]]'s `rank <= k·b` is a filter of the same
      // (cos_est desc, id asc) window at k·maxB). The original shape
      // paid |budgets| identical codes/cell scans per family plus one
      // join+count action per (family, budget); instead each family
      // runs its scan ONCE at the largest budget, derives every budget
      // by exploding a budget key over the shared candidates (filter +
      // per-(budget, query) window — bit-identical by the prefix/filter
      // property, same scores, same deterministic order), and all of a
      // family's hit counts come back in ONE aggregate action.
      val maxB = budgets.max
      val budgetCol = explode(typedlit(budgets)).as("__budget")
      // |exact ∩ topk| per budget: both sides are (q_id, id)-unique, so
      // the semi-join count equals the original exact-side semi count
      def hitsPerBudget(kind: String, topk: DataFrame)
          : Seq[(String, Int, Long)] = {
        val counts = topk
          .join(exact.select("q_id", "id"), Seq("q_id", "id"), "left_semi")
          .groupBy("__budget").agg(count(lit(1)).as("__hits"))
          .collect()
          .map(r => r.getAs[Int]("__budget") -> r.getAs[Long]("__hits"))
          .toMap
        budgets.map(b => (kind, b, counts.getOrElse(b, 0L)))
      }
      def prepC(df: DataFrame) =
        Dedup.cosineSide(df, Nil, idCol, vecCol, "c")
          .withColumnRenamed("id_c", "id")
      def prepQ(df: DataFrame) =
        Dedup.cosineSide(df, Nil, idCol, vecCol, "q")
          .withColumnRenamed("id_q", "q_id")
      // exact-cosine re-rank of (__budget, q_id, id) candidates — the
      // budget-keyed [[Pq.exactRerankPrepped]] (same expressions, same
      // (cos desc, id asc) order within each (budget, query) group)
      def rerankTopK(cand: DataFrame, corpusPrepped: DataFrame,
          queriesPrepped: DataFrame): DataFrame = {
        val w = Window.partitionBy(col("__budget"), col("q_id"))
          .orderBy(col("cos").desc, col("id").asc)
        corpusPrepped.join(broadcast(cand), Seq("id"))
          .join(broadcast(queriesPrepped), Seq("q_id"))
          .withColumn("cos", round(Dedup.cosineWithNorms(
            col("__v_q"), col("__v_c"), col("__n_q"), col("__n_c")), 6))
          .withColumn("__rk", row_number().over(w))
          .where(col("__rk") <= k)
          .select("__budget", "q_id", "id")
      }
      // ---- IVF: one probe assignment at maxB, cell preference kept ----
      val ivf = Ivf.build(corpus, idCol, vecCol, nlist, seed, nassign = 2)
      val ivfRows = {
        val q0 = queries
          .select(col(idCol).as("q_id"), col(vecCol).as("__qv"))
          .select(col("q_id"), col("__qv"),
            posexplode(Ivf.topCells(col("__qv"),
              Ivf.centroidsLiteral(ivf.centroids), maxB))
              .as(Seq("__pos", "__cell")))
        val c = Dedup.cosineSide(ivf.assigned, Seq("__cell"), ivf.idCol,
          ivf.vecCol, "c").withColumnRenamed("id_c", "id")
        val qSide = Dedup.cosineSide(
          q0.withColumnRenamed("__qv", "__rawq"),
          Seq("__cell", "__pos"), "q_id", "__rawq", "q")
          .withColumnRenamed("id_q", "q_id")
        val w = Window.partitionBy(col("__budget"), col("q_id"))
          .orderBy(col("cos").desc, col("id").asc)
        hitsPerBudget("ivf",
          c.join(broadcast(qSide), Seq("__cell"))
            .withColumn("cos", round(Dedup.cosineWithNorms(
              col("__v_q"), col("__v_c"), col("__n_q"), col("__n_c")), 6))
            .select(col("q_id"), col("__pos"), col("id"), col("cos"),
              budgetCol)
            .where(col("__pos") < col("__budget"))
            .dropDuplicates("__budget", "q_id", "id")
            .withColumn("__rk", row_number().over(w))
            .where(col("__rk") <= k)
            .select("__budget", "q_id", "id"))
      }
      // ---- PQ / OPQ: budget b's shortlist is `rank <= k·b` of ONE ADC
      // ranking, then the exact re-rank searchRefined would have run ----
      def refinedRows(kind: String, ranked: DataFrame,
          corpusPrepped: DataFrame,
          queriesPrepped: DataFrame): Seq[(String, Int, Long)] = {
        val cand = ranked.select(col("q_id"), col("id"), col("rank"))
          .select(col("q_id"), col("id"), col("rank"), budgetCol)
          .where(col("rank") <= col("__budget") * k)
          .select("__budget", "q_id", "id")
        hitsPerBudget(kind, rerankTopK(cand, corpusPrepped, queriesPrepped))
      }
      val cPrep = prepC(corpus)
      val qPrep = prepQ(queries)
      val pq = Pq.build(corpus, idCol, vecCol, m, ksub, seed, maxIter = 10)
      val pqRows = refinedRows("pq",
        Pq.search(pq, queries, idCol, vecCol, k * maxB), cPrep, qPrep)
      // the coarse quantizer the ivf section built is EXACTLY the one
      // IvfPq.build would retrain (same corpus, nlist, seed, maxIter,
      // nassign) — reuse it instead of running the kmeans twice
      val ivfpq = IvfPq.buildWithIvf(ivf, corpus, idCol, vecCol, m, ksub,
        seed, maxIter = 20, nassign = 2, residual = false)
      // IVF-PQ's budget is nprobe with refine FIXED at 4: the per-budget
      // ADC shortlist is the __pos < b prefix of one maxB-probed scan
      // (estimates collapse by max across multi-assigned meetings, as in
      // [[IvfPq.search]]), then the shared exact re-rank
      val ivfpqRows = {
        val model = ivfpq.model
        val qBase = queries.select(col(idCol).as("q_id"),
          Pq.checkedQueryVec(model, col(vecCol), "IvfPq.search")
            .as("__pq_qnv"))
        val q0 = qBase
          .withColumn("__lut", Pq.lutExpr(model, col("__pq_qnv")))
          .select(col("q_id"), col("__lut"),
            posexplode(Ivf.topCells(col("__pq_qnv"),
              Ivf.centroidsLiteral(ivfpq.centroids), maxB))
              .as(Seq("__pos", "__cell")))
        val wEst = Window.partitionBy(col("__budget"), col("q_id"))
          .orderBy(col("cos_est").desc, col("id").asc)
        val shortlist = ivfpq.encoded.join(broadcast(q0), Seq("__cell"))
          .withColumn("cos_est",
            Pq.cosEstExpr(col(Pq.CodesCol), col("__lut")))
          .select(col("q_id"), col("__pos"),
            col(ivfpq.idCol).as("id"), col("cos_est"), budgetCol)
          .where(col("__pos") < col("__budget"))
          .groupBy(col("__budget"), col("q_id"), col("id"))
          .agg(max(col("cos_est")).as("cos_est"))
          .withColumn("__rk", row_number().over(wEst))
          .where(col("__rk") <= k * 4)
          .select("__budget", "q_id", "id")
        hitsPerBudget("ivfpq", rerankTopK(shortlist, cPrep, qPrep))
      }
      val dim = corpus.where(col(vecCol).isNotNull)
        .select(size(col(vecCol)).as("d")).head().getInt(0)
      val basis = graft.similarity.Pca.fit(corpus, vecCol, k = dim)
      def rotate(df: DataFrame) = graft.similarity.Pca
        .opqRotate(df, vecCol, basis, m, "__rv")
        .select(col(idCol), col("__rv").as(vecCol))
      // the rotation is re-read by the OPQ build, the ADC scan and the
      // budget re-ranks — pin it so the 64×64 rotation expression runs
      // once over the corpus, not once per consumer
      val rotCorpus = graft.core.Caches.pin(rotate(corpus))
      val opqRows = try {
        val opq = Pq.build(rotCorpus, idCol, vecCol, m, ksub, seed,
          maxIter = 10)
        val rotQueries = rotate(queries)
        refinedRows("opq",
          Pq.search(opq, rotQueries, idCol, vecCol, k * maxB),
          prepC(rotCorpus), prepQ(rotQueries))
      } finally rotCorpus.unpersist()
      (ivfRows ++ pqRows ++ ivfpqRows ++ opqRows)
        .map { case (kind, b, hits) =>
          (kind, b, k, nQueries, hits, total,
            BigDecimal(hits.toDouble / total)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
        }
        .toDF("index_kind", "budget", "k", "n_queries", "hits", "total",
          "recall")
    } finally exact.unpersist()
  }

  def recallAgainstExact(exact: DataFrame, approx: DataFrame): Double = {
    val hits = exact.select("q_id", "id")
      .join(approx.select("q_id", "id"), Seq("q_id", "id"), "left_semi").count()
    val total = exact.count()
    if (total == 0) 1.0 else hits.toDouble / total
  }

  /** Alignment and uniformity of an embedding space (Wang & Isola 2020,
    * "Understanding Contrastive Representation Learning through
    * Alignment and Uniformity on the Hypersphere") — the two-number
    * audit of an embedding model before its vectors drive dedup, ANN,
    * or hard-negative mining: alignment = mean ‖x−y‖² over POSITIVE
    * pairs (same `labelCol`; lower = positives embed together),
    * uniformity = ln E[exp(−2‖x−y‖²)] over label-blind pairs (lower =
    * mass spreads over the sphere; a collapsed space scores ~0).
    *
    * Pairing is sha-derived and deterministic, never random-random:
    * positives pair CONSECUTIVE same-label rows in `sha256(seed:id)`
    * order (one per-label window), uniformity pairs consecutive rows
    * of the GLOBAL sha ring ([[Sampling.deterministicShuffle]]'s
    * range-partitioned order — no single-partition window). Odd rows
    * out pair with nobody and drop from the mean; both pair sets are
    * linear in the corpus, exact on any engine.
    *
    * Exactness: vectors L2-normalize once (zero-norm/NULL vectors are
    * refused loudly — they have no direction), ‖x−y‖² = 2 − 2·x·y via
    * the codegen'd dot, each pair term nano-quantized at birth and
    * LONG-summed (order-free), one final division/ln. The DuckDB twin
    * replays the sha ring and the same IEEE tail. Output: one row
    * `(n_pos_pairs, n_rand_pairs, alignment, uniformity)`, 6 dp.
    */
  def alignmentUniformity(
      emb: DataFrame,
      idCol: String,
      vecCol: String,
      labelCol: String,
      seed: String = "au"): DataFrame = {
    val spark = emb.sparkSession
    val bad = emb.agg(count(when(col(idCol).isNull || col(vecCol).isNull ||
      col(labelCol).isNull, 1)).as("__nl")).head().getAs[Long]("__nl")
    require(bad == 0L,
      s"alignmentUniformity: $bad NULL id/vector/label row(s) — filter " +
        "deliberately upstream")
    val vd = transform(col(vecCol), x => x.cast("double"))
    val base = graft.core.Caches.pin(emb.select(
      col(idCol).cast("string").as("__id"),
      col(labelCol).cast("string").as("__lab"),
      vd.as("__v"),
      sqrt(graft.functions.VectorFunctions.sumSquares(vd)).as("__n"),
      sha2(concat_ws(":", lit(seed), col(idCol).cast("string")), 256)
        .as("__skey")))
    try {
      val zeros = base.agg(count(when(col("__n") === 0.0, 1)).as("__z"))
        .head().getAs[Long]("__z")
      require(zeros == 0L,
        s"alignmentUniformity: $zeros zero-norm vector(s) — a zero " +
          "vector has no direction on the sphere; filter upstream")
      val normed = base.select(col("__id"), col("__lab"),
        transform(col("__v"), x => x / col("__n")).as("__vn"),
        col("__skey"))
      def d2(a: Column, b: Column): Column =
        lit(2.0) - lit(2.0) * graft.functions.VectorFunctions.dot(a, b)
      // positives: consecutive same-label rows in sha order
      val wl = org.apache.spark.sql.expressions.Window
        .partitionBy(col("__lab")).orderBy(col("__skey"), col("__id"))
      val lp = normed.withColumn("__r", row_number().over(wl) - 1)
      val posPairs = lp.where(col("__r") % 2 === 0)
        .select(col("__lab"), (col("__r") / 2).cast("long").as("__p"),
          col("__vn").as("__va"))
        .join(lp.where(col("__r") % 2 === 1)
          .select(col("__lab"), (col("__r") / 2).cast("long").as("__p"),
            col("__vn").as("__vb")), Seq("__lab", "__p"))
      val pos = posPairs
        .agg(count(lit(1)).as("__np"),
          sum(round(d2(col("__va"), col("__vb")) * lit(1e9)).cast("long"))
            .as("__sa")).head()
      // uniformity: consecutive rows of the GLOBAL sha ring; the
      // shuffle's internal pin (read twice by the even/odd self-join)
      // is scoped and released once the one-row aggregate lands
      val (unif, ringPins) = graft.core.Caches.collectPins {
        val ring = Sampling.deterministicShuffle(
          normed.select(col("__id"), col("__vn")), "__id", seed = seed)
        val rp = ring.select(col("__vn"), col("pos"))
        rp.where(col("pos") % 2 === 0)
          .select((col("pos") / 2).cast("long").as("__p"),
            col("__vn").as("__va"))
          .join(rp.where(col("pos") % 2 === 1)
            .select((col("pos") / 2).cast("long").as("__p"),
              col("__vn").as("__vb")), Seq("__p"))
          .agg(count(lit(1)).as("__nr"),
            sum(round(exp(lit(-2.0) * d2(col("__va"), col("__vb"))) *
              lit(1e9)).cast("long")).as("__su")).head()
      }
      ringPins.release()
      val np = pos.getAs[Long]("__np")
      val nr = unif.getAs[Long]("__nr")
      require(np >= 1L, "alignmentUniformity: no positive pair — every " +
        "label is a singleton; alignment is undefined")
      require(nr >= 1L, "alignmentUniformity: fewer than 2 rows — " +
        "uniformity is undefined")
      val alignment = pos.getAs[Long]("__sa").toDouble / np / 1e9
      val uniformity =
        math.log(unif.getAs[Long]("__su").toDouble / nr / 1e9)
      spark.range(1).select(lit(np).as("n_pos_pairs"),
        lit(nr).as("n_rand_pairs"),
        round(lit(alignment), 6).as("alignment"),
        round(lit(uniformity), 6).as("uniformity"))
    } finally base.unpersist()
  }

  /** Pairwise sliced Wasserstein-1 distance between slices' embedding
    * distributions (Rabin et al. 2011; Bonneel et al. 2015) — the
    * GEOMETRY-drift companion to the term-space JSD
    * ([[TextAnalysis.sliceDivergence]]): project every vector onto
    * `directions` deterministic ±1 axes (the [[graft.functions.SrpProject]]
    * sign discipline — engine-replayable, no RNG state), and average the
    * 1-D W1 distances between slices' projected distributions. Detects
    * an embedding-space shift between snapshots/sources/models that
    * cosine-mean audits wash out, in O(n·D) — the full Wasserstein is a
    * transport LP.
    *
    * 1-D W1 is estimated on a fixed `grid` of nearest-rank quantiles:
    * `W1 ≈ (1/G)·Σ_g |F⁻¹_a(g/(G+1)) − F⁻¹_b(g/(G+1))|`, the quantile
    * rank `⌈g·n/(G+1)⌉` computed in pure INTEGER arithmetic; each
    * |qa − qb| term is nano-rounded at birth and LONG-summed (order-free
    * — the house exactness discipline), so the DuckDB twin hash-matches.
    * Value ties inside a slice make row_number ambiguous but harmless:
    * tied rows carry the same VALUE, which is all the rank selects.
    *
    * Scale shape: one narrow projection pass (the sign matrix is
    * row-invariant and bit-cached), one map-side-combined value-count
    * groupBy, per-(slice, direction) ranks via the
    * [[graft.operators.Validation.keyedRangePrefix]] discipline
    * (range-repartition + per-physical-partition prefixes + broadcast
    * offsets — NO per-key sort window, so a corpus-sized slice never
    * pins one task), a grid-sized quantile table (slices·D·G rows —
    * driver-tiny), and the pair join runs on THAT, never on corpus
    * rows. `maxSlices` refuses doc-granularity keys
    * eagerly, same message discipline as sliceDivergence. NULL slice
    * keys drop (the equality-join convention); NULL vectors are refused
    * loudly (they have no projection). Output:
    * `(key_a, key_b, n_a, n_b, sw)` with key_a < key_b.
    */
  def slicedWasserstein(
      df: DataFrame,
      sliceCol: String,
      vecCol: String,
      directions: Int = 8,
      grid: Int = 32,
      salt: Long = 7L,
      maxSlices: Int = 64): DataFrame =
    swFromValueCounts(
      swProjections(df, sliceCol, vecCol, directions, salt)
        .groupBy(col("__k"), col("__d"), col("__v"))
        .agg(count(lit(1)).as("__c")),
      directions, grid, maxSlices)

  /** SRP projections `(__k, __d, __v)` of the non-null-slice rows —
    * [[slicedWasserstein]]'s front end, shared with the streaming
    * projection-count sink
    * ([[graft.streaming.StreamingOps.swProjectionSink]]). NULL vectors
    * refused loudly; NULL slice keys drop.
    */
  private[graft] def swProjections(
      df: DataFrame,
      sliceCol: String,
      vecCol: String,
      directions: Int,
      salt: Long): DataFrame = {
    require(directions >= 1 && directions <= 64,
      s"directions must be in 1..64, got $directions")
    val nullVecs = df.where(col(sliceCol).isNotNull && col(vecCol).isNull)
      .limit(1).count()
    require(nullVecs == 0L,
      s"slicedWasserstein: NULL `$vecCol` rows present — a null vector " +
        "has no projection; filter deliberately upstream")
    df.where(col(sliceCol).isNotNull)
      .select(col(sliceCol).cast("string").as("__k"),
        posexplode(graft.functions.VectorFunctions.srpProject(
          transform(col(vecCol), x => x.cast("double")),
          directions, salt)).as(Seq("__d", "__v")))
  }

  /** [[slicedWasserstein]]'s back end over a per-(slice, direction)
    * VALUE-COUNT table `(__k, __d, __v, __c)` — split out because
    * value counts are SUM-MERGEABLE (the quantile grid is not), so the
    * streaming sink logs exactly these cells and
    * [[graft.streaming.StreamingOps.swFromLog]] replays this function
    * over the folded log, equal to the batch operator on the union.
    */
  private[graft] def swFromValueCounts(
      vc: DataFrame,
      directions: Int,
      grid: Int,
      maxSlices: Int): DataFrame = {
    require(grid >= 1 && grid <= 1024, s"grid must be in 1..1024, got $grid")
    require(maxSlices >= 2 && maxSlices <= 1024,
      s"maxSlices must be in 2..1024, got $maxSlices")
    // per-(slice, direction) ranks WITHOUT a per-key sort window (a
    // corpus-sized slice would pin one task): the value-count table
    // collapses ties (tied rows carry the same VALUE, which is all the
    // rank selects), then exclusive prefix counts via the repo's
    // keyedRangePrefix discipline — range-repartition +
    // per-physical-partition prefixes + broadcast offsets.
    // pin the value-count table: the slice guard, the totals and the
    // rank prefix all read it, and its parent is a corpus pass
    val vcp = graft.core.Caches.pin(vc)
    try graft.core.Caches.holding { held =>
    val totals = vcp.groupBy(col("__k"), col("__d"))
      .agg(sum(col("__c")).as("__n"))
    val nSlices = totals.agg(countDistinct(col("__k")).as("__ns"))
      .head().getAs[Long]("__ns")
    require(nSlices >= 2,
      "slicedWasserstein: fewer than 2 non-null slices — nothing to compare")
    require(nSlices <= maxSlices,
      s"slicedWasserstein: $nSlices distinct slices (> maxSlices=" +
        s"$maxSlices) — the quantile pair join is quadratic in slices; " +
        "this operator compares corpus SLICES, not documents")
    val pre = graft.operators.Validation.keyedRangePrefix(
      vcp, Seq("__k", "__d"), "__v", "__c", "__pre")
    val ranked = pre.join(broadcast(totals), Seq("__k", "__d"))
    // nearest-rank grid: r(g) = ceil(g·n/(G+1)) = (g·n + G) DIV (G+1),
    // pure integer arithmetic — engine-exact; the value at rank r is
    // the count-table row with __pre < r <= __pre + __c. The grid
    // side is G broadcast rows, so the theta join is one linear
    // pass ×G over the VALUES-sized table.
    val quants = ranked
      .join(broadcast(vc.sparkSession.range(1, grid + 1L)
        .select(col("id").as("__g"))), // 1..G
        expr(s"CAST((__g * __n + $grid) DIV ${grid + 1} AS BIGINT) > __pre") &&
          expr(s"CAST((__g * __n + $grid) DIV ${grid + 1} AS BIGINT) " +
            "<= __pre + __c"))
      .select(col("__k"), col("__d"), col("__g"), col("__v"), col("__n"))
    val a = quants.select(col("__k").as("key_a"), col("__d"), col("__g"),
      col("__v").as("__va"), col("__n").as("n_a"))
    val b = quants.select(col("__k").as("key_b"), col("__d"), col("__g"),
      col("__v").as("__vb"), col("__n").as("n_b"))
    held(a.join(b, Seq("__d", "__g"))
      .where(col("key_a") < col("key_b"))
      .groupBy(col("key_a"), col("key_b"))
      .agg(max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"),
        sum(round(abs(col("__va") - col("__vb")) * lit(1e9)).cast("long"))
          .as("__s"))
      .select(col("key_a"), col("key_b"), col("n_a"), col("n_b"),
        round(col("__s").cast("double") /
          lit(directions.toLong * grid) / lit(1e9), 6).as("sw")))
    } finally vcp.unpersist()
  }
}
