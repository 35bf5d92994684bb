package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.ArrayType

/** Hashed-bag-of-words linear text classifier — the quality/language
  * filter tier of an LLM data pipeline (the fasttext-style filters of
  * GPT-3 / CCNet: Brown 2020 §2.2 scores corpus quality with a linear
  * model over hashed features; Joulin 2017 is the hashed-linear-model
  * blueprint).
  *
  * Features are token-count buckets: `bucket(tok) = hash60(tok) mod dim`.
  * Weights and logits live in integer MICRO-units, gradients in NANO-units
  * — the same exact-arithmetic discipline as PageRank: every cross-row sum
  * is a LONG sum, so training and scoring are bit-identical across
  * partitionings, cluster sizes, and engines. The one FP step per
  * iteration (the per-doc sigmoid) reads an exactly-determined logit and
  * writes back through a round-to-nano, so no summation-order
  * nondeterminism ever enters.
  *
  * Scale shape: the feature table is built ONCE (one tokenize pass with
  * in-row run-length grouping — the Search.indexRows trick, no
  * explode+groupBy — then pinned); each training iteration is one
  * map-side-combined aggregation whose output is `dim`-bounded (the
  * per-bucket gradient), collected to the driver like BPE's argmax and
  * KMeans' centroids. The corpus never moves after the feature pass, and
  * no driver structure scales with data. Scoring is a pure per-row
  * expression against a literal weight array: zero shuffles.
  */
object Classifier {

  /** Feature bucket of one token. `hash60` is non-negative, so `%` and
    * `pmod` agree on every engine.
    */
  def tokenBucket(tok: Column, dim: Int): Column =
    TextAnalysis.hash60(tok) % dim

  /** Exact integer logit: `bias + Σ_token-instances w[bucket(token)]`, in
    * micro-units. Pure expression (one pass over the token array against a
    * literal weight array) — this is the whole scoring path.
    */
  def logitMicros(
      text: Column,
      weightsMicros: Seq[Long],
      biasMicros: Long): Column = {
    val dim = weightsMicros.size
    require(dim >= 1, "weights must be non-empty")
    val w = typedlit(weightsMicros)
    aggregate(TextAnalysis.tokens(text), lit(biasMicros),
      (acc, t) => acc + element_at(w, (tokenBucket(t, dim) + 1).cast("int")))
  }

  /** [[logitMicros]] over an already-bucketed token array — callers
    * scoring SEVERAL models against the same text (one-vs-rest language
    * ID) hash every token once and share the bucket array, instead of
    * re-tokenizing and re-hashing per model. Same exact integer sum.
    */
  def logitMicrosFromBuckets(
      buckets: Column,
      weightsMicros: Seq[Long],
      biasMicros: Long): Column = {
    val dim = weightsMicros.size
    require(dim >= 1, "weights must be non-empty")
    val w = typedlit(weightsMicros)
    aggregate(buckets, lit(biasMicros),
      (acc, bk) => acc + element_at(w, (bk + 1).cast("int")))
  }

  /** A trained model: integer micro-unit weights, scored with
    * [[logitMicros]] via [[TextClassifierModel.scoreLogit]].
    */
  final case class TextClassifierModel(
      weightsMicros: Array[Long],
      biasMicros: Long) {
    def dim: Int = weightsMicros.length

    /** Append `<outCol>_micros` (exact integer logit) and boolean
      * `<outCol>_pos` (logit > 0). Zero shuffles.
      */
    def scoreLogit(df: DataFrame, textCol: String, outCol: String = "logit")
        : DataFrame =
      df.withColumn(s"${outCol}_micros",
          logitMicros(col(textCol), weightsMicros.toIndexedSeq, biasMicros))
        .withColumn(s"${outCol}_pos", col(s"${outCol}_micros") > 0L)
  }

  /** Per-doc hashed features, grouped IN-ROW: `__y` (0/1 label) and `__f`,
    * an array of (bucket, cnt) structs — sort the bucket array, run-length
    * encode with pure higher-order expressions. One corpus scan, one row
    * per doc, no explode+groupBy exchange (Search.indexRows measured that
    * regroup 5-6× slower for the same shape). Empty docs keep an empty
    * feature array — they still carry a label and move the bias.
    */
  private[operators] def docFeatures(
      df: DataFrame,
      textCol: String,
      labelCol: String,
      dim: Int,
      keepCols: Seq[String] = Nil): DataFrame = {
    val bucketArr = transform(TextAnalysis.tokens(col(textCol)),
      t => tokenBucket(t, dim))
    val s = col("__s")
    val runStarts = filter(sequence(lit(0), col("__nt") - 1), i =>
      (i === 0) || element_at(s, i + 1) =!= element_at(s, i))
    val runs = zip_with(
      col("__starts"),
      concat(slice(col("__starts"), lit(2), size(col("__starts"))),
        array(col("__nt"))),
      (a, b) => struct(element_at(s, a + 1).as("bucket"),
        (b - a).cast("long").as("cnt")))
    val kept = keepCols.map(col)
    df.select(kept ++ Seq(col(labelCol).cast("int").as("__y"),
        bucketArr.as("__b")): _*)
      .withColumn("__nt", size(col("__b")))
      .withColumn("__s", array_sort(col("__b")))
      // sequence(0, -1) would DESCEND for an empty doc; guard to []
      .withColumn("__starts",
        when(col("__nt") === 0, lit(Array.empty[Int]).cast(ArrayType(
          org.apache.spark.sql.types.IntegerType)))
          .otherwise(runStarts))
      // the sentinel concat(starts[2:], [__nt]) is non-empty even for an
      // empty doc, and zip_with null-pads — guard the whole runs expr
      .select(kept ++ Seq(col("__y"),
        when(col("__nt") === 0,
          array().cast("array<struct<bucket:bigint,cnt:bigint>>"))
          .otherwise(runs).as("__f")): _*)
  }

  /** Train by full-batch gradient descent: `iters` passes, each one
    * aggregation job over the pinned feature table. `labelCol` must be 0/1
    * (int-castable). Weights update driver-side in exact micros. `dim` is
    * the driver-memory bound (8 bytes × dim; 2^18 buckets ≈ 2 MB — plenty
    * for a quality filter).
    *
    * `init` warm-starts from an existing model (same dim) — the nightly
    * refinement loop: [[loadModel]] yesterday's weights, a few passes over
    * the fresh labels, [[saveModel]]. Because every update is exact
    * integer arithmetic, warm-starting is REPRODUCIBLE in the strongest
    * sense: on the same data, `train(iters = a + b)` equals
    * `train(iters = b, init = train(iters = a))` bit for bit
    * (ClassifierSpec pins it).
    */
  def train(
      df: DataFrame,
      textCol: String,
      labelCol: String,
      dim: Int = 4096,
      iters: Int = 20,
      lr: Double = 0.5,
      init: Option[TextClassifierModel] = None): TextClassifierModel = {
    require(dim >= 2 && dim <= (1 << 22), "dim must be in [2, 4M]")
    require(iters >= 1, "iters must be >= 1")
    init.foreach(m => require(m.dim == dim,
      s"init model dim ${m.dim} != requested dim $dim — hashed features " +
        "are bucket-identified, so weights do not transfer across dims"))
    val feats = graft.core.Caches.pin(docFeatures(df, textCol, labelCol, dim))
    try {
      // One job establishes BOTH the row count and the label contract:
      // a label that is null (or casts to null) would make errNanos null
      // and the doc would silently vanish from every gradient while still
      // inflating n — diluting the learning rate. A label outside {0, 1}
      // would silently shift the regression target. Fail loudly instead.
      val c = feats.agg(
        count(lit(1)).as("__n"),
        count(when(col("__y").isNull ||
          (col("__y") =!= 0 && col("__y") =!= 1), 1)).as("__bad")).head()
      val n = c.getAs[Long]("__n")
      val bad = c.getAs[Long]("__bad")
      require(n > 0, "training set is empty")
      require(bad == 0L,
        s"$bad row(s) have a label that is null or outside {0, 1} after " +
          s"casting `$labelCol` to int — every doc must carry a 0/1 " +
          "label; filter or fix labels before train()")
      trainCore(feats, n, iters, lr, init, dim)._1
    } finally feats.unpersist()
  }

  /** The GD loop proper over a pinned feature table, returning the final
    * model AND the post-epoch weight/bias snapshots (driver-bounded:
    * iters × dim longs) — [[train]] discards the snapshots,
    * [[trainingDynamics]] scores every example against each of them.
    */
  private def trainCore(
      feats: DataFrame,
      n: Long,
      iters: Int,
      lr: Double,
      init: Option[TextClassifierModel],
      dim: Int): (TextClassifierModel, IndexedSeq[TextClassifierModel]) = {
    val w = init.map(_.weightsMicros.clone()).getOrElse(Array.fill(dim)(0L))
    var b = init.map(_.biasMicros).getOrElse(0L)
    val snaps = IndexedSeq.newBuilder[TextClassifierModel]
    for (_ <- 0 until iters) {
      val wLit = typedlit(w.toIndexedSeq)
      val z = aggregate(col("__f"), lit(b), (acc, f) =>
        acc + f.getField("cnt") * element_at(wLit,
          (f.getField("bucket") + 1).cast("int")))
      // err = σ(z) − y, rounded to nanos the moment it is born: every
      // sum after this line is an order-free LONG sum
      val errNanos = round((lit(1.0) / (lit(1.0) + exp(-z / lit(1e6)))
        - col("__y")) * lit(1e9)).cast("long")
      val perDoc = feats.select(col("__f"), errNanos.as("__e"))
      // ONE aggregation per iteration: bucket gradients plus the bias
      // gradient riding along under a sentinel bucket (-1), so the bias
      // does not pay a second corpus pass
      val grads = perDoc
        .select(col("__e"), explode(concat(col("__f"),
          array(struct(lit(-1L).as("bucket"), lit(1L).as("cnt"))))).as("f"))
        .groupBy(col("f.bucket").as("__bkt"))
        .agg(sum(col("f.cnt") * col("__e")).as("__g"))
        .collect()
      // driver update in exact micros: Δw = −lr · avgGradNanos / 1000
      grads.foreach { r =>
        val bkt = r.getAs[Long]("__bkt").toInt
        val step = math.round(lr * r.getAs[Long]("__g") / (n * 1000.0))
        if (bkt < 0) b -= step else w(bkt) -= step
      }
      snaps += TextClassifierModel(w.clone(), b)
    }
    (TextClassifierModel(w, b), snaps.result())
  }

  /** One-vs-rest [[train]] over ONE shared feature pass: the per-label
    * GD loops run in lockstep — every iteration computes EVERY label's
    * per-doc error and collects all |labels| bucket-gradient columns in
    * ONE aggregation job, instead of |labels| separate loops over
    * |labels| separately-materialized feature tables (the tokenize +
    * hash pass is the expensive leg; it runs once here). Weights are
    * bit-identical to sequential per-label `train()` calls: each
    * label's z/err/gradient/step expressions are unchanged, its
    * per-bucket gradient stays an independent order-free LONG sum, and
    * the driver update is the same exact-micros arithmetic. Labels must
    * be non-null (checked); `labels` lists the one-vs-rest targets.
    */
  private[operators] def trainOneVsRest(
      df: DataFrame,
      textCol: String,
      labelCol: String,
      labels: Seq[String],
      dim: Int,
      iters: Int,
      lr: Double): Seq[TextClassifierModel] = {
    require(dim >= 2 && dim <= (1 << 22), "dim must be in [2, 4M]")
    require(iters >= 1, "iters must be >= 1")
    require(labels.nonEmpty && labels.distinct == labels,
      s"labels must be non-empty and distinct, got $labels")
    val feats = graft.core.Caches.pin(
      docFeatures(df.withColumn("__ovr0", lit(0)), textCol, "__ovr0",
        dim, keepCols = Seq(labelCol))
        .select(col(labelCol).cast("string").as("__l"), col("__f")))
    try {
      val c = feats.agg(count(lit(1)).as("__n"),
        count(when(col("__l").isNull, 1)).as("__bad")).head()
      val n = c.getAs[Long]("__n")
      require(n > 0, "training set is empty")
      require(c.getAs[Long]("__bad") == 0L,
        s"${c.getAs[Long]("__bad")} row(s) have a NULL `$labelCol` — " +
          "every doc must carry a label; filter upstream")
      val w = Array.fill(labels.length)(Array.fill(dim)(0L))
      val b = Array.fill(labels.length)(0L)
      for (_ <- 0 until iters) {
        val errCols = labels.zipWithIndex.map { case (l, i) =>
          val wLit = typedlit(w(i).toIndexedSeq)
          val z = aggregate(col("__f"), lit(b(i)), (acc, f) =>
            acc + f.getField("cnt") * element_at(wLit,
              (f.getField("bucket") + 1).cast("int")))
          val y = (col("__l") === l).cast("int")
          round((lit(1.0) / (lit(1.0) + exp(-z / lit(1e6))) - y) * lit(1e9))
            .cast("long").as(s"__e$i")
        }
        val perDoc = feats.select(col("__f") +: errCols: _*)
        val exploded = perDoc.select(
          explode(concat(col("__f"),
            array(struct(lit(-1L).as("bucket"), lit(1L).as("cnt"))))).as("f")
            +: labels.indices.map(i => col(s"__e$i")): _*)
        val gradCols = labels.indices.map(i =>
          sum(col("f.cnt") * col(s"__e$i")).as(s"__g$i"))
        val grads = exploded
          .groupBy(col("f.bucket").as("__bkt"))
          .agg(gradCols.head, gradCols.tail: _*)
          .collect()
        grads.foreach { r =>
          val bkt = r.getAs[Long]("__bkt").toInt
          labels.indices.foreach { i =>
            val step = math.round(lr * r.getAs[Long](s"__g$i") / (n * 1000.0))
            if (bkt < 0) b(i) -= step else w(i)(bkt) -= step
          }
        }
      }
      labels.indices.map(i => TextClassifierModel(w(i), b(i)))
    } finally feats.unpersist()
  }

  /** Dataset cartography (Swayamdipta et al. 2020, "Dataset Cartography:
    * Mapping and Diagnosing Datasets with Training Dynamics"): train the
    * hashed-linear classifier and, for EVERY example, record the model's
    * probability of the TRUE class after each epoch — then summarize as
    * `confidence` (mean over epochs), `variability` (population std) and
    * `n_correct` (epochs where p_true > ½). The curation read: high
    * confidence + low variability = easy (safe to downsample); low
    * confidence = hard-to-learn (label-noise candidates); high
    * variability = ambiguous (the examples worth keeping/inspecting).
    *
    * Exactness: epoch logits are the SAME exact-integer sums training
    * uses; each epoch's p_true is rounded to MICROS at birth (micros,
    * not nanos, so Σp² over ≤64 epochs stays far inside LONG), so
    * confidence/variability derive from exact integer sums — the
    * variance numerator `n·Σp² − (Σp)²` is computed in BIGINT and only
    * the final sqrt/divide are portable IEEE. A DuckDB twin replays the
    * unrolled epochs and matches hash-exactly.
    *
    * Scale shape: training is [[train]]'s loop (one dim-bounded
    * aggregation per epoch); the dynamics pass is ONE narrow projection
    * over the pinned feature table — per row, `iters` literal-array
    * logit folds and an in-row sum/sum-of-squares. No extra shuffle, no
    * per-epoch corpus materialization; snapshots are driver-bounded.
    * `iters` ≤ 64 loudly (the snapshot scoring is iters logit folds per
    * row), and the COMBINED `dim·iters ≤ 2^22` bound keeps the total
    * plan-literal weight payload (~32 MB of longs) inside what
    * Janino/codegen survives — the per-axis bounds alone would admit a
    * ~2 GB plan.
    */
  def trainingDynamics(
      df: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String,
      dim: Int = 4096,
      iters: Int = 20,
      lr: Double = 0.5): DataFrame = {
    require(dim >= 2 && dim <= (1 << 22), "dim must be in [2, 4M]")
    require(iters >= 1 && iters <= 64,
      s"iters must be in 1..64, got $iters (the dynamics pass folds " +
        "one literal weight array per epoch per row)")
    // the epoch snapshots ride the PLAN as literal long-arrays (one
    // typedlit per epoch); dim·iters longs of plan literals past ~4M
    // (~32 MB) would blow Janino/codegen long before the documented
    // per-axis bounds do — refuse the combination loudly rather than
    // build an unexecutable plan
    require(dim.toLong * iters <= (1L << 22),
      s"dim * iters = ${dim.toLong * iters} exceeds 2^22 (~4M literal " +
        "weights): the per-epoch snapshot arrays are PLAN LITERALS and " +
        "codegen cannot survive a multi-GB plan — lower dim or iters, " +
        "or score snapshots from a broadcast table instead")
    val feats = graft.core.Caches.pin(
      docFeatures(df, textCol, labelCol, dim, keepCols = Seq(idCol)))
    try graft.core.Caches.holding { held =>
      val c = feats.agg(
        count(lit(1)).as("__n"),
        count(when(col("__y").isNull ||
          (col("__y") =!= 0 && col("__y") =!= 1), 1)).as("__bad")).head()
      val n = c.getAs[Long]("__n")
      require(n > 0, "training set is empty")
      require(c.getAs[Long]("__bad") == 0L,
        s"${c.getAs[Long]("__bad")} row(s) have a label that is null or " +
          s"outside {0, 1} after casting `$labelCol` to int")
      val snaps = trainCore(feats, n, iters, lr, None, dim)._2
      // one in-row fold per epoch against that epoch's literal weights:
      // p_true in micros, exact LONG Σp and Σp² per row, stats in-row
      val probs = snaps.map { m =>
        val wLit = typedlit(m.weightsMicros.toIndexedSeq)
        val z = aggregate(col("__f"), lit(m.biasMicros), (acc, f) =>
          acc + f.getField("cnt") * element_at(wLit,
            (f.getField("bucket") + 1).cast("int")))
        val sig = lit(1.0) / (lit(1.0) + exp(-z / lit(1e6)))
        round((when(col("__y") === 1, sig).otherwise(lit(1.0) - sig)) *
          lit(1e6)).cast("long")
      }
      val pArr = array(probs: _*)
      val s1 = aggregate(pArr, lit(0L), (acc, x) => acc + x)
      val s2 = aggregate(pArr, lit(0L), (acc, x) => acc + x * x)
      val nCorrect = aggregate(pArr, lit(0L), (acc, x) =>
        acc + when(x > 500000L, 1L).otherwise(0L))
      val k = lit(iters.toLong)
      held(feats.select(col(idCol), col("__y").as("label"),
          s1.as("__s1"), s2.as("__s2"), nCorrect.as("n_correct"))
        .select(col(idCol), col("label"),
          round(col("__s1").cast("double") / (k * lit(1e6)), 6)
            .as("confidence"),
          round(sqrt((k * col("__s2") - col("__s1") * col("__s1"))
            .cast("double")) / (k * lit(1e6)), 6).as("variability"),
          col("n_correct")))
    } finally feats.unpersist()
  }

  /** TracIn training-data influence (Pruthi et al. 2020, "Estimating
    * Training Data Influence by Tracing Gradient Descent"), exact for
    * this integer-GD logistic model: for a probe example z' and train
    * example z, influence = Σ_t η · ∇ℓ(w_t, z)·∇ℓ(w_t, z') over the
    * checkpoints w_t the training run ACTUALLY visited (start-of-epoch
    * weights — the "ideal" TracIn, not the sampled-checkpoint
    * approximation, because [[trainCore]]'s snapshots are free). For
    * logistic regression ∇ℓ(w, (x, y)) = (σ(w·x) − y)·x, so each
    * epoch's term factors into `err_train · err_probe · (x·x')` — the
    * sparse count-vector dot is ONE exact LONG per pair, reused across
    * all epochs.
    *
    * The curation read: high-positive influencers are the training docs
    * that taught the model a probe's prediction (proponents — audit
    * them when the probe is mislabeled or memorized); negative ones
    * pushed against it.
    *
    * Exactness: errors are the SAME nano-rounded values training used
    * (re-derived against each start-of-epoch snapshot, bit-identical);
    * each epoch's pair term `lr·dot·e_t·e'_t / 1e12` is rounded to
    * MICRO influence units at birth and the epoch sum is an order-free
    * LONG fold — the DuckDB twin replays the unrolled epochs (the
    * q_classifier_train chain) and matches hash-exactly.
    *
    * Scale shape: one corpus feature pass (pinned) + the training run;
    * the pair table is bounded by `maxProbes` (eager loud refusal) —
    * probes explode to a BROADCAST bucket table, the corpus side joins
    * without shuffling the corpus itself, and one groupBy(train, probe)
    * computes the dots. Pairs sharing NO feature bucket have zero
    * gradient overlap in every epoch and are correctly absent. Output:
    * `(probe_id, train_id, dot, influence_micros, rank)` — the top-`k`
    * proponents per probe by influence desc, train-id tie-break (one
    * WindowGroupLimit window).
    */
  def tracinInfluence(
      train: DataFrame,
      probes: DataFrame,
      idCol: String,
      textCol: String,
      labelCol: String,
      dim: Int = 4096,
      iters: Int = 10,
      lr: Double = 0.5,
      topK: Int = 10,
      maxProbes: Long = 4096L): DataFrame = {
    require(dim >= 2 && dim <= (1 << 22), "dim must be in [2, 4M]")
    require(iters >= 1 && iters <= 64,
      s"iters must be in 1..64, got $iters")
    require(dim.toLong * iters <= (1L << 21),
      s"dim * iters = ${dim.toLong * iters} exceeds 2^21: the train AND " +
        "probe error projections each carry one literal weight array " +
        "per epoch — the trainingDynamics plan-literal bound, halved")
    require(topK >= 1 && topK <= 1024, s"topK must be in 1..1024, got $topK")
    require(maxProbes >= 1 && maxProbes <= 65536,
      s"maxProbes must be in 1..65536, got $maxProbes")
    val feats = graft.core.Caches.pin(
      docFeatures(train, textCol, labelCol, dim, keepCols = Seq(idCol)))
    val pfeats = graft.core.Caches.pin(
      docFeatures(probes, textCol, labelCol, dim, keepCols = Seq(idCol)))
    try graft.core.Caches.holding { held =>
      def contract(f: DataFrame, what: String): Long = {
        val c = f.agg(count(lit(1)).as("__n"),
          count(when(col("__y").isNull ||
            (col("__y") =!= 0 && col("__y") =!= 1), 1)).as("__bad")).head()
        require(c.getAs[Long]("__bad") == 0L,
          s"tracinInfluence: ${c.getAs[Long]("__bad")} $what row(s) have " +
            "a label that is null or outside {0, 1}")
        c.getAs[Long]("__n")
      }
      val n = contract(feats, "train")
      require(n > 0, "training set is empty")
      val np = contract(pfeats, "probe")
      require(np > 0, "probe set is empty")
      require(np <= maxProbes,
        s"tracinInfluence: $np probes (> maxProbes=$maxProbes) — the " +
          "pair table is probes-bounded by design; probe the examples " +
          "you are debugging, not the corpus (that is self-influence — " +
          "run per-shard with bounded probe sets)")
      val snaps = trainCore(feats, n, iters, lr, None, dim)._2
      // start-of-epoch checkpoints: the weights each gradient step READ
      val cps = TextClassifierModel(Array.fill(dim)(0L), 0L) +: snaps.init
      def errArr: Column = array(cps.map { m =>
        val wLit = typedlit(m.weightsMicros.toIndexedSeq)
        val z = aggregate(col("__f"), lit(m.biasMicros), (acc, f) =>
          acc + f.getField("cnt") * element_at(wLit,
            (f.getField("bucket") + 1).cast("int")))
        round((lit(1.0) / (lit(1.0) + exp(-z / lit(1e6))) - col("__y")) *
          lit(1e9)).cast("long")
      }: _*)
      val trBuckets = feats.select(col(idCol).as("train_id"),
          explode(col("__f")).as("f"))
        .select(col("train_id"), col("f.bucket").as("__bkt"),
          col("f.cnt").as("__ct"))
      val prBuckets = pfeats.select(col(idCol).as("probe_id"),
          explode(col("__f")).as("f"))
        .select(col("probe_id"), col("f.bucket").as("__bkt"),
          col("f.cnt").as("__cp"))
      val dots = trBuckets.join(broadcast(prBuckets), Seq("__bkt"))
        .groupBy(col("train_id"), col("probe_id"))
        .agg(sum(col("__ct") * col("__cp")).as("dot"))
      val trErr = feats.select(col(idCol).as("train_id"), errArr.as("__etr"))
      val prErr = pfeats.select(col(idCol).as("probe_id"), errArr.as("__epr"))
      // per-epoch term rounded to micro influence at birth, LONG-summed
      // in-row: lr·dot·(e/1e9)·(e'/1e9)·1e6 = lr·dot·e·e'/1e12, with the
      // multiplication order pinned left-to-right for the twin
      val infl = aggregate(sequence(lit(0), lit(iters - 1)), lit(0L),
        (acc, i) => acc + round(lit(lr) * col("dot").cast("double") *
          element_at(col("__etr"), i + 1) *
          element_at(col("__epr"), i + 1) / lit(1e12)).cast("long"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("probe_id"))
        .orderBy(col("influence_micros").desc, col("train_id"))
      held(dots.join(trErr, "train_id").join(broadcast(prErr), "probe_id")
        .select(col("probe_id"), col("train_id"), col("dot"),
          infl.as("influence_micros"))
        .withColumn("rank", row_number().over(w))
        .where(col("rank") <= topK))
    } finally { feats.unpersist(); pfeats.unpersist() }
  }

  /** Sidecar recording (dim, bias); committed LAST so a crashed save
    * reads back as "no model" instead of truncated weights.
    */
  val ParamsFileName = "_graft_classifier_params.json"

  /** Persist `model` at `path`: one (bucket, weight_micros) parquet —
    * dim-bounded, a few MB at most — with the params sidecar STAGED INTO
    * the same atomic swap ([[graft.ct.TableStore.overwrite]]'s
    * rename-aside protocol). Re-saving over an existing model is
    * crash-safe in the strong sense: at every crash point the path holds
    * either the previous complete (data + sidecar) model or the new one,
    * never a sidecar-less directory and never a new-weights/old-bias mix.
    * Train nightly, save once, score from any later session/cluster via
    * [[loadModel]] — the production split between the training job and
    * the (much larger) scoring jobs.
    */
  def saveModel(
      spark: org.apache.spark.sql.SparkSession,
      model: TextClassifierModel,
      path: String): Unit = {
    import spark.implicits._
    val rows = model.weightsMicros.zipWithIndex
      .map { case (wt, bkt) => (bkt, wt) }.toSeq
      .toDF("bucket", "weight_micros")
      .coalesce(1)
    graft.ct.TableStore.overwrite(spark, rows, path,
      stageFiles = Map(ParamsFileName ->
        s"""{"dim": ${model.dim}, "bias_micros": ${model.biasMicros}}"""))
  }

  /** Load a model saved by [[saveModel]]. Fails loudly when the sidecar
    * is missing (crashed save) or the weight rows contradict the claimed
    * dim — scoring with truncated weights would silently mis-rank the
    * whole corpus.
    */
  def loadModel(
      spark: org.apache.spark.sql.SparkSession,
      path: String): TextClassifierModel = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val params = graft.io.Sidecar.read(fs,
      new org.apache.hadoop.fs.Path(path), ParamsFileName)
      .getOrElse(throw new IllegalStateException(
        s"no committed classifier model at $path (missing $ParamsFileName " +
          "— crashed save or wrong path)"))
    val node = graft.io.Json.parse(params)
    val dim = node.get("dim").asInt()
    val bias = node.get("bias_micros").asLong()
    val rows = spark.read.parquet(path)
      .select(col("bucket"), col("weight_micros"))
      .collect() // dim-bounded by construction
    require(rows.length == dim,
      s"classifier model at $path claims dim=$dim but carries " +
        s"${rows.length} weight rows")
    val w = Array.fill(dim)(0L)
    val seen = new java.util.BitSet(dim)
    rows.foreach { r =>
      val bkt = r.getAs[Int]("bucket")
      require(bkt >= 0 && bkt < dim,
        s"classifier model at $path carries out-of-range bucket $bkt")
      require(!seen.get(bkt),
        s"classifier model at $path carries duplicate bucket $bkt")
      seen.set(bkt)
      w(bkt) = r.getAs[Long]("weight_micros")
    }
    TextClassifierModel(w, bias)
  }

  /** Reliability (calibration-diagram) bins for a probability-micros
    * scorer: equal-width bins over [0, 1e6], per bin the count, the
    * positive count, the exact integer mean predicted micros
    * (`sum div n` — floor division on non-negatives agrees across
    * engines) and the observed rate. The table [[fitIsotonic]] fixes
    * and the audit that shows it: a calibrated scorer has
    * `mean_pred_micros ≈ obs_rate·1e6` per bin. ONE map-side-combined
    * groupBy; same loud 0/1-label contract as [[train]]. Scores
    * outside [0, 1e6] clamp into the edge bins (a probability outside
    * [0, 1] is the scorer's bug to surface elsewhere, not this
    * table's).
    */
  def reliabilityBins(
      df: DataFrame,
      probMicrosCol: String,
      labelCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 1000, s"bins must be in 2..1000, got $bins")
    val y = col(labelCol).cast("int")
    val bad = df.agg(
      count(when(y.isNull || (y =!= 0 && y =!= 1), 1)).as("__bady"),
      count(when(col(probMicrosCol).isNull, 1)).as("__bads")).head()
    require(bad.getAs[Long]("__bady") == 0L,
      s"reliabilityBins: ${bad.getAs[Long]("__bady")} row(s) have a label " +
        s"that is null or outside {0, 1} after casting `$labelCol` to int")
    require(bad.getAs[Long]("__bads") == 0L,
      s"reliabilityBins: ${bad.getAs[Long]("__bads")} row(s) have a NULL " +
        s"`$probMicrosCol`")
    val clamped = least(lit(1000000L),
      greatest(lit(0L), col(probMicrosCol).cast("long")))
    val bin = least(lit(bins - 1L), expr(
      s"(least(1000000L, greatest(0L, cast($probMicrosCol as long))) " +
        s"* $bins) div 1000000L"))
    df.groupBy(bin.as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(y.cast("long")).as("n_pos"),
        sum(clamped).as("__sp"))
      .select(col("bin"), col("n"), col("n_pos"),
        expr("__sp div n").as("mean_pred_micros"),
        round(col("n_pos").cast("double") / col("n"), 6).as("obs_rate"))
  }

  /** Brier score with the Murphy (1973) reliability / resolution /
    * uncertainty decomposition — the calibration audit that says not
    * just "how wrong" ([[expectedCalibrationError]]'s territory) but
    * WHY: reliability = how far bin forecasts sit from bin event rates
    * (lower better), resolution = how much the bins separate outcomes
    * from the base rate (higher better), uncertainty = the base rate's
    * own variance floor. Equal-width bins over [0, 1], the
    * [[reliabilityBins]] binning exactly.
    *
    * Exactness: forecasts are integer micros by contract (clamped to
    * [0, 1e6] like [[reliabilityBins]]), so `Σ(p − y)²` sums exact
    * integer squares (as DECIMAL(38,0) — a LONG would overflow past
    * ~9M rows; DuckDB's BIGINT sum is HUGEINT-exact the same way);
    * per-bin REL/RES terms are fixed-order doubles nano-rounded at
    * birth and LONG-summed across bins (order-free — bins number ≤
    * 1000 so the nano sum cannot overflow). Note the binned identity
    * `brier = rel − res + unc` holds only up to within-bin forecast
    * variance — all four are reported, the residual is the caller's
    * diagnostic. Output: one row
    * `(n, bins, brier, reliability, resolution, uncertainty)`,
    * rounded to 6.
    */
  def brierDecomposition(
      df: DataFrame,
      probMicrosCol: String,
      labelCol: String,
      bins: Int = 10): DataFrame = {
    require(bins >= 2 && bins <= 1000, s"bins must be in 2..1000, got $bins")
    val y = col(labelCol).cast("int")
    val bad = df.agg(
      count(when(y.isNull || (y =!= 0 && y =!= 1), 1)).as("__bady"),
      count(when(col(probMicrosCol).isNull, 1)).as("__bads"),
      count(lit(1)).as("__n")).head()
    require(bad.getAs[Long]("__bady") == 0L,
      s"brierDecomposition: ${bad.getAs[Long]("__bady")} row(s) have a " +
        s"label that is null or outside {0, 1} after casting `$labelCol`")
    require(bad.getAs[Long]("__bads") == 0L,
      s"brierDecomposition: ${bad.getAs[Long]("__bads")} row(s) have a " +
        s"NULL `$probMicrosCol`")
    val n = bad.getAs[Long]("__n")
    require(n > 0L, "brierDecomposition: empty input")
    val clamped = least(lit(1000000L),
      greatest(lit(0L), col(probMicrosCol).cast("long")))
    val bin = least(lit(bins - 1L), expr(
      s"(least(1000000L, greatest(0L, cast($probMicrosCol as long))) " +
        s"* $bins) div 1000000L"))
    val d = clamped - y.cast("long") * lit(1000000L)
    val perBin = df.groupBy(bin.as("__bin"))
      .agg(count(lit(1)).as("__nk"),
        sum(y.cast("long")).as("__pos"),
        sum(clamped).as("__sp"),
        sum((d * d).cast("decimal(38,0)")).as("__sq"))
    val spark = df.sparkSession
    import spark.implicits._
    val oBar = col("__posT").cast("double") / col("__nT").cast("double")
    val pBark = col("__sp").cast("double") /
      (col("__nk").cast("double") * 1e6)
    val oBark = col("__pos").cast("double") / col("__nk").cast("double")
    val relTerm = round(col("__nk").cast("double") *
      (pBark - oBark) * (pBark - oBark) * 1e9).cast("long")
    val resTerm = round(col("__nk").cast("double") *
      (oBark - oBar) * (oBark - oBar) * 1e9).cast("long")
    val totals = perBin.agg(sum(col("__nk")).as("__nT"),
      sum(col("__pos")).as("__posT"),
      sum(col("__sq")).as("__sqT"))
    perBin.crossJoin(broadcast(totals))
      .agg(max(col("__nT")).as("__n"), count(lit(1)).as("__bins"),
        max(col("__sqT")).as("__sqAll"), max(col("__posT")).as("__posAll"),
        sum(relTerm).as("__rel"), sum(resTerm).as("__res"))
      .select(col("__n").as("n"), col("__bins").as("bins"),
        round(col("__sqAll").cast("double") /
          (col("__n").cast("double") * 1e12), 6).as("brier"),
        round(col("__rel").cast("double") /
          (col("__n").cast("double") * 1e9), 6).as("reliability"),
        round(col("__res").cast("double") /
          (col("__n").cast("double") * 1e9), 6).as("resolution"),
        round((col("__posAll").cast("double") / col("__n").cast("double")) *
          (lit(1.0) - col("__posAll").cast("double") /
            col("__n").cast("double")), 6).as("uncertainty"))
  }

  /** Split-conformal threshold (Vovk et al. 2005; the Papadopoulos
    * 2002 inductive form): the `⌈(n+1)(1−α)⌉`-th smallest calibration
    * NONCONFORMITY score — keep future predictions whose score is ≤
    * this threshold and, under exchangeability, the kept set covers
    * the truth with probability ≥ 1−α. The distribution-free
    * uncertainty gate for any scorer this library trains or imports.
    *
    * Exact: `k = ⌈(n+1)(1e6−α_micros)/1e6⌉` in integer arithmetic and
    * the k-th order statistic via per-distinct-score counts + the
    * range-repartition prefix discipline ([[RankEval.aucRoc]]) — no
    * approximate percentile anywhere, engine- and partitioning-exact.
    * NULL scores are rejected loudly (a skipped calibration row
    * silently weakens the guarantee). When `k > n` (α too small for
    * this calibration set: need n ≥ (1−α)/α) the threshold is NULL —
    * "no finite threshold certifies this coverage", not +∞.
    *
    * Output: one row `(n, k, threshold)`.
    */
  def conformalThreshold(
      df: DataFrame,
      scoreCol: String,
      alphaMicros: Long = 100000L): DataFrame = {
    require(alphaMicros >= 1L && alphaMicros <= 999999L,
      s"alphaMicros out of [1, 999999]: $alphaMicros")
    // the order statistic is taken over LONG score cells — a fractional
    // score column would be silently truncated, merging distinct
    // nonconformity scores and shifting the advertised exact
    // ⌈(n+1)(1−α)⌉-th rank. Integer micro-units are this library's
    // score contract (see scoreLogit/calibrate); enforce it loudly.
    df.schema(scoreCol).dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => ()
      case other => throw new IllegalArgumentException(
        s"conformalThreshold: `$scoreCol` is $other — nonconformity " +
          "scores must be INTEGRAL (quantize to micro-units upstream, " +
          "e.g. floor(score * 1e6)); casting doubles here would " +
          "truncate-merge distinct scores and shift the quantile")
    }
    val spark = df.sparkSession
    import spark.implicits._
    val stats = df.agg(count(lit(1)).as("__n"),
      count(when(col(scoreCol).isNull, 1)).as("__nl")).head()
    val n = stats.getAs[Long]("__n")
    require(stats.getAs[Long]("__nl") == 0L,
      s"conformalThreshold: ${stats.getAs[Long]("__nl")} NULL `$scoreCol` " +
        "row(s) — a silently-skipped calibration row weakens the coverage " +
        "guarantee; filter deliberately upstream")
    require(n > 0, "conformalThreshold: empty calibration set")
    val k = ((n + 1) * (1000000L - alphaMicros) + 999999L) / 1000000L
    if (k > n)
      return Seq((n, k)).toDF("n", "k")
        .withColumn("threshold", lit(null).cast("long"))
    val g = graft.core.Caches.pin(df
      .groupBy(col(scoreCol).cast("long").as("__s"))
      .agg(count(lit(1)).as("__c"))
      .repartitionByRange(spark.sparkContext.defaultParallelism, col("__s"))
      .sortWithinPartitions(col("__s"))
      .withColumn("__pid", spark_partition_id()))
    try graft.core.Caches.holding { held =>
      val w = org.apache.spark.sql.expressions.Window
      val offsets = g.groupBy(col("__pid")).agg(sum(col("__c")).as("__p"))
        .withColumn("__off", coalesce(sum(col("__p")).over(
          w.orderBy("__pid").rowsBetween(Long.MinValue, -1)), lit(0L)))
        .select(col("__pid"), col("__off"))
      val thr = g
        .withColumn("__r", sum(col("__c")).over(
          w.partitionBy(col("__pid")).orderBy(col("__s"))
            .rowsBetween(Long.MinValue, 0)))
        .join(broadcast(offsets), "__pid")
        .where(col("__r") + col("__off") >= k)
        .agg(min(col("__s")).as("threshold"))
      held(thr.select(lit(n).as("n"), lit(k).as("k"), col("threshold")))
    } finally g.unpersist()
  }

  /** Expected calibration error over [[reliabilityBins]]:
    * `ECE = Σ_b (n_b/N)·|obs_rate_b − mean_pred_b/1e6|` (Naeini 2015's
    * binned ECE) — the one-number summary of the reliability diagram.
    * Per-bin terms are nano-quantized and summed as LONGs (order-free);
    * output one row `(n, ece)`, 6 dp.
    */
  def expectedCalibrationError(
      df: DataFrame,
      probMicrosCol: String,
      labelCol: String,
      bins: Int = 10): DataFrame = {
    val b = reliabilityBins(df, probMicrosCol, labelCol, bins)
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    b.withColumn("__N", sum(col("n")).over(w))
      .select(col("__N"),
        round(abs(col("obs_rate") -
          col("mean_pred_micros").cast("double") / 1e6) *
          col("n") / col("__N") * 1e9).cast("long").as("__t"))
      .groupBy(col("__N").as("n"))
      .agg(round(sum(col("__t")) / 1e9, 6).as("ece"))
  }

  /** Weight-of-evidence table of a categorical feature against a 0/1
    * label (the scorecard-modeling standard; Siddiqi 2006): per
    * category `woe = ln(((posₖ+½)/P) / ((negₖ+½)/N))` — Laplace-½
    * smoothing so empty-side categories stay finite — plus the
    * category's information-value term
    * `iv = ((posₖ+½)/P − (negₖ+½)/N)·woe`. Gate features on total IV
    * (< 0.02 useless, > 0.5 suspicious/leaky by the usual reading);
    * feed `woe` back as the feature's numeric encoding.
    *
    * ONE map-side-combined groupBy (categories-sized result; NULL is a
    * category); totals ride a categories-sized window. The iv term is
    * nano-quantized so [[informationValue]]'s sum is order-free; `woe`
    * itself is one ln of an exact-integer rational — the [[Validation.mutualInformation]]
    * exactness recipe. Same loud 0/1-label contract as [[train]].
    */
  def woeTable(
      df: DataFrame, featureCol: String, labelCol: String): DataFrame = {
    val y = col(labelCol).cast("int")
    val bad = df.agg(count(when(y.isNull || (y =!= 0 && y =!= 1), 1))
      .as("__bad")).head().getAs[Long]("__bad")
    require(bad == 0L,
      s"woeTable: $bad row(s) have a label that is null or outside {0, 1} " +
        s"after casting `$labelCol` to int")
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    val g = df.groupBy(col(featureCol).as("category"))
      .agg(sum(y.cast("long")).as("n_pos"),
        sum(lit(1L) - y.cast("long")).as("n_neg"))
      .withColumn("__P", sum(col("n_pos")).over(w))
      .withColumn("__N", sum(col("n_neg")).over(w))
    val pr = (col("n_pos") + lit(0.5)) / col("__P")
    val nr = (col("n_neg") + lit(0.5)) / col("__N")
    val woe = log(pr / nr)
    g.select(col("category"), col("n_pos"), col("n_neg"),
      round(woe, 6).as("woe"),
      (round((pr - nr) * woe * 1e9)).cast("long").as("iv_nanos"))
  }

  /** Total information value of `featureCol` for `labelCol`: the
    * order-free LONG sum of [[woeTable]]'s nano terms, one row
    * `(n_categories, iv)`.
    */
  def informationValue(
      df: DataFrame, featureCol: String, labelCol: String): DataFrame =
    woeTable(df, featureCol, labelCol)
      .agg(count(lit(1)).as("n_categories"),
        round(sum(col("iv_nanos")) / 1e9, 6).as("iv"))

  /** A fitted isotonic (monotone step) calibration map from integer
    * score bins to calibrated probability micros: bin `i` covers scores
    * `[minScore + i·binWidth, minScore + (i+1)·binWidth)`, apply-time
    * scores clamp into `[0, probMicrosByBin.length)`.
    */
  final case class IsotonicModel(
      minScore: Long,
      binWidth: Long,
      probMicrosByBin: Array[Long]) {
    require(binWidth >= 1, "binWidth must be >= 1")
    require(probMicrosByBin.nonEmpty, "model has no bins")

    /** Append `outCol` = calibrated probability micros for `scoreCol`
      * (any integer score, e.g. [[TextClassifierModel.scoreLogit]]'s
      * `logit_micros`). A bin-index division plus one literal-array
      * lookup per row — narrow, codegen'd, zero shuffles.
      */
    def apply(df: DataFrame, scoreCol: String,
        outCol: String = "prob_micros"): DataFrame = {
      require(!df.columns.contains(outCol), s"output column $outCol exists")
      val bins = probMicrosByBin.length
      val idx = least(lit(bins - 1L), greatest(lit(0L),
        expr(s"(($scoreCol) - ${minScore}L) div ${binWidth}L")))
      df.withColumn(outCol,
        element_at(typedlit(probMicrosByBin.toIndexedSeq), (idx + 1).cast("int")))
    }
  }

  /** Isotonic calibration by pool-adjacent-violators (Ayer 1955; the
    * sklearn `IsotonicRegression` semantics) over EQUAL-WIDTH integer
    * score bins — the step after [[train]]: a margin classifier ranks
    * well long before its raw score is a probability, and downstream
    * mixture/quota samplers ([[Sampling.sampleToMixture]],
    * [[Selection]]) want calibrated weights, not logits.
    *
    * Shape: one corpus-sized `groupBy(bin)` with map-side partials (the
    * bin count is LOUDLY bounded by `maxBins`, so the collect is
    * model-sized, never data-sized); PAV itself is O(bins) driver math
    * over exact integer `(pos, n)` pairs — violator comparisons
    * cross-multiply (`posₐ·n_b > pos_b·nₐ`) so no float ever decides a
    * merge, and each pooled block's probability is rounded to micros
    * once, at the end. Empty interior bins take the FOLLOWING block's
    * value (either neighbor preserves monotonicity; the fill must just
    * be deterministic and hole-free); binning is equal-width over
    * the observed `[min, max]` — deterministic integer arithmetic, no
    * data-dependent quantile fit (PAV pools bins anyway, so the width
    * choice only bounds resolution, not correctness).
    *
    * Same loud label/score contract as [[RankEval.aucRoc]]: labels must
    * cast to {0, 1}, scores non-NULL.
    */
  def fitIsotonic(
      df: DataFrame,
      scoreCol: String,
      labelCol: String,
      maxBins: Int = 1024): IsotonicModel = {
    require(maxBins >= 2 && maxBins <= (1 << 20),
      s"maxBins must be in [2, 1M], got $maxBins")
    val y = col(labelCol).cast("int")
    val stats = df.agg(
      count(lit(1)).as("__n"),
      count(when(y.isNull || (y =!= 0 && y =!= 1), 1)).as("__bady"),
      count(when(col(scoreCol).isNull, 1)).as("__bads"),
      min(col(scoreCol).cast("long")).as("__min"),
      max(col(scoreCol).cast("long")).as("__max")).head()
    require(stats.getAs[Long]("__n") > 0, "fitIsotonic: empty input")
    require(stats.getAs[Long]("__bady") == 0L,
      s"fitIsotonic: ${stats.getAs[Long]("__bady")} row(s) have a label " +
        s"that is null or outside {0, 1} after casting `$labelCol` to int")
    require(stats.getAs[Long]("__bads") == 0L,
      s"fitIsotonic: ${stats.getAs[Long]("__bads")} row(s) have a NULL " +
        s"`$scoreCol`")
    val lo = stats.getAs[Long]("__min")
    val hi = stats.getAs[Long]("__max")
    val width = math.max(1L, (hi - lo) / maxBins + 1L)
    val nBins = ((hi - lo) / width + 1L).toInt
    val binned = df
      .groupBy(expr(s"(($scoreCol) - ${lo}L) div ${width}L").as("__bin"))
      .agg(count(lit(1)).as("__cnt"), sum(y.cast("long")).as("__pos"))
      .collect()
      .map(r => r.getAs[Long]("__bin").toInt ->
        ((r.getAs[Long]("__pos"), r.getAs[Long]("__cnt")))).toMap
    // PAV over non-empty bins, exact-integer block means
    final case class Block(upTo: Int, pos: Long, n: Long)
    val stack = scala.collection.mutable.ArrayBuffer.empty[Block]
    binned.keys.toSeq.sorted.foreach { b =>
      val (p, c) = binned(b)
      var cur = Block(b, p, c)
      while (stack.nonEmpty &&
          stack.last.pos * cur.n > cur.pos * stack.last.n) {
        val prev = stack.remove(stack.length - 1)
        cur = Block(cur.upTo, prev.pos + cur.pos, prev.n + cur.n)
      }
      stack += cur
    }
    val values = new Array[Long](nBins)
    var bi = 0
    stack.foreach { blk =>
      val v = math.round(blk.pos * 1e6 / blk.n)
      while (bi <= blk.upTo) { values(bi) = v; bi += 1 }
    }
    // bins past the last observed one cannot exist by construction
    require(bi == nBins, s"internal: filled $bi of $nBins bins")
    IsotonicModel(lo, width, values)
  }
}
