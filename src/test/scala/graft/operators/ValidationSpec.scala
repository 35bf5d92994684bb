package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkTestBase

class ValidationSpec extends SparkTestBase {
  import spark.implicits._

  private val df = Seq(
    (Some(1L), Some("a"), 10.0),
    (Some(2L), None, 55.0),
    (Some(2L), Some("b"), -1.0),
    (None, Some("a"), 3.0)
  ).toDF("id", "tag", "x")

  test("profile computes rows/nulls/distinct/min/max per column") {
    val p = Validation.profile(df, Seq("id", "tag"))
      .collect().map(r => r.getAs[String]("column") -> r).toMap
    val id = p("id")
    assert(id.getAs[Long]("n_rows") == 4)
    assert(id.getAs[Long]("n_null") == 1)
    assert(id.getAs[Long]("n_distinct") == 2)
    assert(id.getAs[String]("min_val") == "1")
    assert(id.getAs[String]("max_val") == "2")
    val tag = p("tag")
    assert(tag.getAs[Long]("n_null") == 1)
    assert(tag.getAs[Long]("n_distinct") == 2)
    assert(tag.getAs[String]("max_val") == "b")
  }

  test("check counts violations per rule; null predicate = violation") {
    val report = Validation.check(df, Seq(
      Validation.NotNull("id"),
      Validation.NotNull("tag"),
      Validation.Satisfies("x_in_range", col("x").between(0.0, 50.0)),
      Validation.Unique(Seq("id"))))
      .collect().map(r => r.getAs[String]("rule") -> r.getAs[Long]("violations")).toMap
    assert(report("id_not_null") == 1)
    assert(report("tag_not_null") == 1)
    // 55.0 and -1.0 out of range
    assert(report("x_in_range") == 2)
    // id=2 twice -> 1 extra row; the NULL id group is a "key" of one row.
    // (A null key never groups with another null under SQL GROUP BY? It
    // does — both engines group NULLs together — but there is only one.)
    assert(report("id_unique") == 1)
  }

  test("satisfies with a null-producing predicate counts the null rows") {
    val d = Seq((1L, Some(5.0)), (2L, None)).toDF("id", "v")
    val report = Validation.check(d, Seq(
      Validation.Satisfies("v_positive", col("v") > 0)))
      .collect().map(r => r.getAs[String]("rule") -> r.getAs[Long]("violations")).toMap
    assert(report("v_positive") == 1) // NULL > 0 is unknown -> violation
  }

  test("empty input yields zero violations, not nulls") {
    val report = Validation.check(df.limit(0), Seq(
      Validation.NotNull("id"), Validation.Unique(Seq("id"))))
      .collect().map(r => r.getAs[String]("rule") -> r.getAs[Long]("violations")).toMap
    assert(report == Map("id_not_null" -> 0L, "id_unique" -> 0L))
  }

  test("diffTables classifies added/removed/changed and drops unchanged") {
    val before = Seq(
      (1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0), (4L, "d", 40.0)
    ).toDF("k", "s", "v")
    val after = Seq(
      (1L, "a", 10.0),   // unchanged
      (2L, "b", 99.0),   // changed
      (4L, "D", 40.0),   // changed (other column)
      (5L, "e", 50.0)    // added; 3 removed
    ).toDF("k", "s", "v")
    val out = Validation.diffTables(before, after, Seq("k"))
      .as[(Long, String)].collect().toMap
    assert(out == Map(2L -> "changed", 3L -> "removed",
      4L -> "changed", 5L -> "added"))
    // column order must not matter: reordered after gives the same verdicts
    val out2 = Validation.diffTables(before,
      after.select("v", "k", "s"), Seq("k")).as[(Long, String)].collect().toMap
    assert(out2 == out)
    // mismatched schemas are a loud error
    intercept[IllegalArgumentException](
      Validation.diffTables(before, after.drop("v"), Seq("k")))
  }

  test("diffTables distinguishes NULL from empty string (IS DISTINCT FROM)") {
    val before = Seq((1L, Option.empty[String]), (2L, Some("")),
      (3L, Some("x"))).toDF("k", "s")
    val after = Seq((1L, Some("")), (2L, Option.empty[String]),
      (3L, Option.empty[String])).toDF("k", "s")
    val out = Validation.diffTables(before, after, Seq("k"))
      .as[(Long, String)].collect().toMap
    // NULL→'' and ''→NULL are real changes, not hash collisions
    assert(out == Map(1L -> "changed", 2L -> "changed", 3L -> "changed"))
    // identical NULLs stay unchanged
    assert(Validation.diffTables(before, before, Seq("k")).isEmpty)
  }

  test("quantileDrift reports per-probe before/after quantiles and delta") {
    val before = (1 to 100).map(_.toLong).toDF("v")
    // shift the top half up by 1000: low probes flat, high probes drift
    val after = (1 to 100).map(i => if (i > 50) i + 1000L else i.toLong)
      .toDF("v")
    val out = Validation.quantileDrift(before, after, "v",
      Seq(0.25, 0.9), k = 4096)
      .collect().map(r => r.getDouble(0) ->
        (r.getDouble(1), r.getDouble(2), r.getDouble(3))).toMap
    assert(out(0.25) == ((25.0, 25.0, 0.0)))
    assert(out(0.9) == ((90.0, 1090.0, 1000.0)))
  }

  test("quantileDriftFromSketches equals the direct path on stored sketches") {
    val before = (1 to 100).map(_.toLong).toDF("v")
    val after = (1 to 100).map(i => if (i > 50) i + 1000L else i.toLong)
      .toDF("v")
    val probs = Seq(0.25, 0.9)
    def store(df: org.apache.spark.sql.DataFrame) =
      Sketches.quantileSketches(
        df.select(lit(1).as("__all"), col("v")), Seq("__all"), "v")
    val viaStore = Validation.quantileDriftFromSketches(
      store(before), store(after), probs)
      .collect().map(r => (r.getDouble(0), r.getDouble(1),
        r.getDouble(2), r.getDouble(3))).sortBy(_._1)
    val direct = Validation.quantileDrift(before, after, "v", probs)
      .collect().map(r => (r.getDouble(0), r.getDouble(1),
        r.getDouble(2), r.getDouble(3))).sortBy(_._1)
    assert(viaStore.toSeq == direct.toSeq)
  }

  test("clipToQuantiles clamps outliers to the exact cut points") {
    val df = ((1 to 98).map(_.toLong) ++ Seq(100000L, -5000L)).toDF("v")
    val out = Validation.clipToQuantiles(df, "v", 0.05, 0.95)
      .select("v", "v_clipped").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // percentile_disc over the 100 sorted values: 5% -> 4, 95% -> 94
    assert(out(100000L) == 94.0, "high outlier clamps to the 95% cut")
    assert(out(-5000L) == 4.0, "low outlier clamps to the 5% cut")
    assert(out(50L) == 50.0, "interior values pass through")
    intercept[IllegalArgumentException] {
      Validation.clipToQuantiles(df, "v", 0.9, 0.1)
    }
  }

  test("duplicate rule names are rejected") {
    val e = intercept[IllegalArgumentException] {
      Validation.check(df, Seq(
        Validation.Satisfies("r", col("x") > 0),
        Validation.Satisfies("r", col("x") < 0)))
    }
    assert(e.getMessage.contains("unique"))
  }

  test("corpusFingerprint: partition/order-invariant, change-sensitive, dup-pair safe") {
    import spark.implicits._
    val df = (1L to 100L).map(i => (i, s"text $i")).toDF("id", "t")
    def fp(d: org.apache.spark.sql.DataFrame) =
      Validation.corpusFingerprint(d, Seq("id", "t")).collect()(0).toSeq
    val base = fp(df)
    assert(fp(df.repartition(13)) == base, "partitioning must not matter")
    assert(fp(df.orderBy(col("id").desc)) == base, "order must not matter")
    // one changed row changes the digest
    val changed = df.withColumn("t",
      when(col("id") === 50L, lit("text 50!")).otherwise(col("t")))
    assert(fp(changed) != base)
    // a DUPLICATED pair xor-cancels — but n_rows and sum_lo32 catch it
    val dup50 = df.unionAll(df.where(col("id") === 50L))
      .unionAll(df.where(col("id") === 50L))
    val d = fp(dup50)
    assert(d(1) == base(1), "xor blind spot is real (duplicate pair cancels)")
    assert(d != base, "…but the composite digest still differs")
    intercept[IllegalArgumentException](Validation.corpusFingerprint(df, Nil))
  }

  test("populationStability matches a hand-computed PSI, nulls get their own bin") {
    import spark.implicits._
    // before: 4 low, 4 high; after: 2 low, 4 high, 2 null — the null
    // drift and the low-bin shrink must both show up
    val before = Seq(1.0, 2.0, 3.0, 4.0, 11.0, 12.0, 13.0, 14.0)
      .map(Option(_)).toDF("v")
    val after = (Seq(1.0, 2.0, 11.0, 12.0, 13.0, 14.0).map(Option(_)) ++
      Seq(None, None)).toDF("v")
    val out = Validation.populationStability(before, after, "v", Seq(10.0))
      .orderBy("bin").collect()
    assert(out.map(_.getAs[Long]("bin")).toSeq == Seq(-1L, 0L, 1L))
    val byBin = out.map(r => r.getAs[Long]("bin") -> r).toMap
    // null bin: 0/8 before, 2/8 after
    assert(byBin(-1L).getAs[Long]("n_before") == 0L)
    assert(byBin(-1L).getAs[Long]("n_after") == 2L)
    val eps = 1e-6
    def term(fb: Double, fa: Double): Double = {
      val (b, a) = (math.max(fb, eps), math.max(fa, eps))
      (a - b) * math.log(a / b)
    }
    assert(math.abs(byBin(-1L).getAs[Double]("psi_term") -
      term(0.0, 0.25)) < 1e-12)
    assert(math.abs(byBin(0L).getAs[Double]("psi_term") -
      term(0.5, 0.25)) < 1e-12)
    assert(math.abs(byBin(1L).getAs[Double]("psi_term") -
      term(0.5, 0.5)) < 1e-12, "unchanged bin contributes ~0")
    // bin edges surface in the report
    assert(byBin(0L).getAs[Any]("bin_lo") == null)
    assert(byBin(0L).getAs[Double]("bin_hi") == 10.0)
    assert(byBin(1L).getAs[Double]("bin_lo") == 10.0)
  }

  test("kAnonymity: drop suppresses rare combos, mask nulls them in place, NULLs group together") {
    import spark.implicits._
    val df = Seq(
      (1L, "en", "web"), (2L, "en", "web"), (3L, "en", "web"),
      (4L, "de", "web"), (5L, "de", "web"),
      (6L, "fr", "book"), // unique combo — re-identifying
      (7L, null, "web"), (8L, null, "web"), (9L, null, "web")
    ).toDF("id", "lang", "source")
    val dropped = Validation.kAnonymity(df, Seq("lang", "source"), k = 3)
      .select("id").as[Long].collect().sorted.toSeq
    // (en,web)=3 and (null,web)=3 survive; (de,web)=2 and (fr,book)=1 go
    assert(dropped == Seq(1L, 2L, 3L, 7L, 8L, 9L),
      s"unexpected survivors: $dropped")
    val masked = Validation.kAnonymity(df, Seq("lang", "source"), k = 3,
      mode = "mask")
    assert(masked.count() == 9, "mask mode keeps every row")
    val m = masked.collect()
      .map(r => r.getAs[Long]("id") ->
        (r.getAs[String]("lang"), r.getAs[String]("source"))).toMap
    assert(m(4L) == ((null, null)) && m(6L) == ((null, null)),
      "rare combos must be masked")
    assert(m(1L) == (("en", "web")) && m(7L) == ((null, "web")),
      "frequent combos keep their values (incl. the NULL group)")
    // k=1 keeps everything verbatim
    assert(Validation.kAnonymity(df, Seq("lang", "source"), 1).count() == 9)
    intercept[IllegalArgumentException](
      Validation.kAnonymity(df, Nil, 3))
    intercept[IllegalArgumentException](
      Validation.kAnonymity(df, Seq("lang"), 0))
    intercept[IllegalArgumentException](
      Validation.kAnonymity(df, Seq("lang"), 3, mode = "redact"))
  }

  test("lDiversity: homogeneous combos fail even when k-anonymous; null sensitive adds no diversity") {
    import spark.implicits._
    val df = Seq(
      // (en): 3 rows but only ONE distinct source — homogeneity attack
      (1L, "en", "web"), (2L, "en", "web"), (3L, "en", "web"),
      // (de): 3 rows, 3 distinct sources — diverse
      (4L, "de", "web"), (5L, "de", "book"), (6L, "de", "wiki"),
      // (fr): nulls carry no diversity — only 2 real values
      (7L, "fr", "web"), (8L, "fr", null), (9L, "fr", "book")
    ).toDF("id", "lang", "source")
    val kept = Validation.lDiversity(df, Seq("lang"), "source", l = 3)
      .select("id").as[Long].collect().sorted.toSeq
    assert(kept == Seq(4L, 5L, 6L), s"only the diverse combo survives: $kept")
    val l2 = Validation.lDiversity(df, Seq("lang"), "source", l = 2)
      .select("id").as[Long].collect().sorted.toSeq
    assert(l2 == Seq(4L, 5L, 6L, 7L, 8L, 9L),
      "fr has 2 non-null sources and passes l=2; en stays homogeneous")
    val masked = Validation.lDiversity(df, Seq("lang"), "source", 3, "mask")
    assert(masked.count() == 9)
    val m = masked.collect()
      .map(r => r.getAs[Long]("id") -> r.getAs[String]("lang")).toMap
    assert(m(1L) == null && m(4L) == "de" && m(7L) == null)
    intercept[IllegalArgumentException](
      Validation.lDiversity(df, Seq("source"), "source", 2))
    intercept[IllegalArgumentException](
      Validation.lDiversity(df, Seq("lang"), "source", 0))
  }

  test("tCloseness: skewed combos fail, matching ones pass, absent values fold exactly") {
    import spark.implicits._
    // global: 4×A, 4×B. combo g1 mirrors it (tvd 0), combo g2 is all-A
    // (tvd = |1 − 0.5| /2·... = 0.5)
    val df = Seq(
      ("g1", "A"), ("g1", "A"), ("g1", "B"), ("g1", "B"),
      ("g2", "A"), ("g2", "A"), ("g2", "A"), ("g2", "A")
    ).toDF("zip", "diag")
    // global p(A) = 6/8, p(B) = 2/8
    // g1: p(A)=1/2, p(B)=1/2 → tvd = (|.5−.75| + |.5−.25|)/2 = 0.25
    // g2: p(A)=1, B absent → tvd = (|1−.75| + .25)/2 = 0.25
    val out = Validation.tCloseness(df, Seq("zip"), "diag", t = 0.3)
      .collect().map(r => r.getString(0) ->
        (r.getAs[Long]("n"), r.getAs[Double]("tvd"), r.getAs[Boolean]("pass")))
      .toMap
    assert(out("g1") == ((4L, 0.25, true)), s"g1: ${out("g1")}")
    assert(out("g2") == ((4L, 0.25, true)), s"g2: ${out("g2")}")
    val tight = Validation.tCloseness(df, Seq("zip"), "diag", t = 0.1)
      .collect().map(r => r.getString(0) -> r.getAs[Boolean]("pass")).toMap
    assert(tight == Map("g1" -> false, "g2" -> false))
    // a combo that exactly mirrors the global distribution scores 0
    val mirror = Seq(("m1", "A"), ("m1", "B"), ("m2", "A"), ("m2", "B"))
      .toDF("zip", "diag")
    val m = Validation.tCloseness(mirror, Seq("zip"), "diag", 0.0)
      .collect().map(r => (r.getAs[Double]("tvd"), r.getAs[Boolean]("pass")))
    assert(m.forall(_ == ((0.0, true))), s"mirrored combos must score 0: ${m.toSeq}")
    // null sensitive is its own category, not an error
    val withNull = Seq(("z", "A"), ("z", null), ("y", "A"), ("y", null))
      .toDF("zip", "diag")
    assert(Validation.tCloseness(withNull, Seq("zip"), "diag", 0.5)
      .collect().forall(_.getAs[Boolean]("pass")))
    intercept[IllegalArgumentException](
      Validation.tCloseness(df, Seq("diag"), "diag", 0.1))
    intercept[IllegalArgumentException](
      Validation.tCloseness(df, Seq("zip"), "diag", 1.5))
  }

  test("categoricalStability: union categories, smoothing keeps one-sided finite, identical sides ~0") {
    import spark.implicits._
    val before = Seq("en", "en", "en", "de").toDF("lang")
    val after = Seq("en", "de", "de", "fr").toDF("lang")
    val out = Validation.categoricalStability(before, after, "lang")
      .collect().map(r => r.getAs[String]("category") -> r).toMap
    assert(out.keySet == Set("en", "de", "fr"), "union of both sides")
    // fr exists only after; smoothing keeps its term finite and positive
    val fr = out("fr")
    assert(fr.getAs[Long]("n_before") == 0L && fr.getAs[Long]("n_after") == 1L)
    assert(!fr.getAs[Double]("psi_term").isInfinite &&
      fr.getAs[Double]("psi_term") > 0)
    // en shrank: its term is positive too (any shift adds PSI)
    assert(out("en").getAs[Double]("psi_term") > 0)
    // identical sides: every term is exactly 0 (fa == fb bit-for-bit)
    val same = Validation.categoricalStability(before, before, "lang")
      .collect().map(_.getAs[Double]("psi_term"))
    assert(same.forall(_ == 0.0))
    // NULL is a category of its own
    val withNull = Seq[(String)]("en", null).toDF("lang")
    val n = Validation.categoricalStability(withNull, withNull, "lang")
    assert(n.count() == 2)
    // empty side is loud
    intercept[Exception](Validation.categoricalStability(
      before.where(col("lang") === "zz"), after, "lang").collect())
  }

  test("mutualInformation: ln2 for a perfect pairing, 0 under independence") {
    import spark.implicits._
    val dependent = Seq(("x", "p"), ("x", "p"), ("y", "q"), ("y", "q"))
      .toDF("a", "b")
    val mi = Validation.mutualInformation(dependent, "a", "b").collect().head
    assert(mi.getAs[Long]("n") == 4L)
    assert(mi.getAs[Double]("mi_nats") == 0.693147,
      s"perfect 2x2 pairing is ln 2: ${mi.getAs[Double]("mi_nats")}")
    val independent = Seq(("x", "p"), ("x", "q"), ("y", "p"), ("y", "q"))
      .toDF("a", "b")
    val zero = Validation.mutualInformation(independent, "a", "b")
      .collect().head
    assert(zero.getAs[Double]("mi_nats") == 0.0)
    // NULL is a category: a null-vs-value split still carries information
    val withNull = Seq(("x", null: String), ("x", null: String), ("y", "q"))
      .toDF("a", "b")
    assert(Validation.mutualInformation(withNull, "a", "b")
      .collect().head.getAs[Double]("mi_nats") > 0.0)
    intercept[IllegalArgumentException](
      Validation.mutualInformation(dependent, "a", "a"))
  }

  test("populationStability validates cuts and is loud on an empty side") {
    import spark.implicits._
    val df = Seq(1.0, 2.0).toDF("v")
    intercept[IllegalArgumentException](
      Validation.populationStability(df, df, "v", Seq(2.0, 1.0)))
    intercept[IllegalArgumentException](
      Validation.populationStability(df, df, "v", Nil))
    val e = intercept[Exception](
      Validation.populationStability(df, df.where(col("v") > 99), "v", Seq(1.5))
        .collect())
    assert(e.getMessage.contains("empty"))
  }

  test("madOutliers: hand-computed median/MAD, zero-MAD degenerate, global grouping, loud cutoff") {
    // group a (odd n, unambiguous): 1..6 + 100 -> med 4, devs sorted
    // 0,1,1,2,2,3,96 -> MAD 2, threshold 3.5*2 = 7 -> only 100 flags.
    // group b: constant-majority 5,5,5,5,9 -> MAD 0 -> only 9 flags.
    val df = (Seq(1, 2, 3, 4, 5, 6, 100).map(("a", _)) ++
      Seq(5, 5, 5, 5, 9).map(("b", _))).toDF("g", "v")
    val out = Validation.madOutliers(df, "v", Seq("g"))
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        (r.getDouble(2), r.getDouble(3), r.getBoolean(4))).toMap
    assert(out(("a", 100)) == ((4.0, 2.0, true)), s"got ${out(("a", 100))}")
    Seq(1, 2, 3, 4, 5, 6).foreach(v =>
      assert(!out(("a", v))._3, s"$v must be an inlier"))
    assert(out(("b", 9)) == ((5.0, 0.0, true)))
    assert(!out(("b", 5))._3, "zero-MAD: exact equality stays inlier")
    // a tame mean/σ gate would MISS 100 here if the outlier inflates σ
    // enough — the median/MAD flags it regardless (robustness pin):
    // with the outlier present, med/MAD are untouched by its magnitude
    val out2 = Validation.madOutliers(
      Seq(1, 2, 3, 4, 5, 6, 1000000).map(("a", _)).toDF("g", "v"),
      "v", Seq("g")).where(col("is_outlier"))
      .select("v").as[Int].collect().toSeq
    assert(out2 == Seq(1000000), "magnitude must not shift the gate")
    // global (ungrouped) path
    val g = Validation.madOutliers(
      Seq(1, 2, 3, 4, 5, 6, 100).toDF("v"), "v", Nil)
    assert(g.columns.toSeq == Seq("v", "median", "mad", "is_outlier"))
    assert(g.where(col("is_outlier")).select("v").as[Int].collect().toSeq
      == Seq(100))
    intercept[IllegalArgumentException](
      Validation.madOutliers(df, "v", Seq("g"), cutoff = 0.0))
  }

  test("giniCoefficient: textbook values, ties, poles, stability") {
    def gini(xs: Seq[Long], parts: Int = 1) = Validation.giniCoefficient(
      xs.toDF("v").repartition(parts), "v").head()
    // {1,2,3,4} is the textbook 0.25
    assert(gini(Seq(1L, 2L, 3L, 4L)).getAs[Double]("gini") == 0.25)
    // ties fold exactly: {1,1,3} = 4/15
    assert(gini(Seq(1L, 1L, 3L)).getAs[Double]("gini") == 0.266667)
    // poles: uniform -> 0; single holder -> (n-1)/n
    assert(gini(Seq(7L, 7L, 7L)).getAs[Double]("gini") == 0.0)
    assert(gini(Seq(0L, 0L, 0L, 9L)).getAs[Double]("gini") == 0.75)
    // all-zero mass -> NULL, not NaN
    assert(gini(Seq(0L, 0L)).isNullAt(1))
    // partitioning invariance
    val xs = Seq.tabulate(400)(i => ((i * 37) % 91).toLong)
    assert(gini(xs).getAs[Double]("gini") ==
      gini(xs, parts = 13).getAs[Double]("gini"))
    intercept[IllegalArgumentException](gini(Seq(-1L)))
    intercept[IllegalArgumentException](Validation.giniCoefficient(
      Seq(Option.empty[Long]).toDF("v"), "v"))
  }

  test("benfordAudit: digit counts, out-counted non-positives, chi2 terms") {
    val rows = Seq(100L, 120L, 199L, 23L, 2L, 31L, 9L, 0L, -5L)
      .map(Some(_)) ++ Seq(Option.empty[Long])
    val out = Validation.benfordAudit(rows.toDF("v"), "v")
      .collect().map(r => r.getInt(0) ->
        ((r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getDouble(2)),
          if (r.isNullAt(3)) None else Some(r.getDouble(3))))).toMap
    // digits: 1 x3 (100,120,199), 2 x2 (23,2), 3 x1, 9 x1; N = 7
    assert(out(1)._1 == 3 && out(2)._1 == 2 && out(3)._1 == 1 && out(9)._1 == 1)
    // 0, -5 and NULL land in the loud digit-0 bucket
    assert(out(0) == ((3L, None, None)))
    val e1 = 0.3010299956639812 * 7
    assert(math.abs(out(1)._2.get - math.rint(e1 * 1e6) / 1e6) < 1e-6)
    assert(out(1)._3.get > 0.0)
    // a perfectly Benford-proportioned sample has tiny chi2
    val benford = (1 to 9).flatMap(d =>
      Seq.fill(math.round(1000 * math.log10(1 + 1.0 / d)).toInt)(
        (d * 100).toLong))
    val chi = Validation.benfordAudit(benford.toDF("v"), "v")
      .where(col("digit") > 0)
      .agg(sum(col("chi2_term"))).head().getDouble(0)
    assert(chi < 1.0, s"near-Benford sample chi2 was $chi")
    // a DOUBLE column: NaN, ±Inf and |v| ≥ 2^63 have no LONG integer
    // part, so they join the digit-0 bucket instead of aborting the job
    val wild = Seq(12.5, 3.0, Double.NaN, Double.PositiveInfinity,
      Double.NegativeInfinity, 1e19, -1e19)
    val outW = Validation.benfordAudit(wild.toDF("v"), "v")
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(outW == Map(0 -> 5L, 1 -> 1L, 3 -> 1L), s"$outW")
  }

  test("ksStatistic matches the hand-walked CDF gap; exact edges") {
    val before = Seq(1.0, 2.0, 3.0).toDF("v")
    val after = Seq(2.0, 3.0, 4.0, 4.0).toDF("v")
    val out = Validation.ksStatistic(before, after, "v").head()
    assert(out.getAs[Long]("n_before") == 3 && out.getAs[Long]("n_after") == 4)
    assert(out.getAs[Double]("ks") == 0.5) // max at v=3: |1 - 1/2|
    // identical -> 0; disjoint -> 1
    assert(Validation.ksStatistic(before, before, "v")
      .head().getAs[Double]("ks") == 0.0)
    val disjoint = Seq(10.0, 11.0).toDF("v")
    assert(Validation.ksStatistic(before, disjoint, "v")
      .head().getAs[Double]("ks") == 1.0)
    // NULLs drop from the CDF but are reported; empty side -> NULL ks
    val withNull = Seq(Some(1.0), None).toDF("v")
    val r = Validation.ksStatistic(withNull, after, "v").head()
    assert(r.getAs[Long]("n_before") == 1 && r.getAs[Long]("null_before") == 1)
    val empty = Validation.ksStatistic(before.limit(0), after, "v").head()
    assert(empty.isNullAt(empty.fieldIndex("ks")))
    // partitioning cannot move the statistic
    val big1 = Seq.tabulate(500)(i => ((i * 37) % 111).toDouble).toDF("v")
    val big2 = Seq.tabulate(400)(i => ((i * 53) % 97).toDouble).toDF("v")
    val x = Validation.ksStatistic(big1.repartition(1), big2.repartition(1), "v")
      .head().getAs[Double]("ks")
    val y = Validation.ksStatistic(big1.repartition(13), big2.repartition(7), "v")
      .head().getAs[Double]("ks")
    assert(x == y)
  }

  test("noisedCounts: deterministic, bounded noise, seed-sensitive") {
    val d = Seq.tabulate(300)(i => (s"g${i % 7}", i)).toDF("g", "x")
    def run(dd: org.apache.spark.sql.DataFrame, seed: String) =
      Validation.noisedCounts(dd, Seq("g"), epsilon = 1.0, seed = seed)
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val a = run(d.repartition(1), "s1")
    val b = run(d.repartition(13), "s1")
    assert(a == b, "noise must be partitioning-invariant")
    // the 28-bit inverse CDF hard-bounds |noise| at ln(2^28)/ε ≈ 19.41
    val truths = Seq.tabulate(300)(i => s"g${i % 7}")
      .groupBy(identity).map { case (k, v) => k -> v.size.toLong }
    a.foreach { case (g, v) =>
      assert(math.abs(v - truths(g)) <= 20L, s"$g noise out of bound") }
    // rotating the seed moves at least one group's release
    val c = run(d, "s2")
    assert(c != a)
    // exact replay of the documented formula for one group
    val hex = java.security.MessageDigest.getInstance("SHA-256")
      .digest("s1:g0".getBytes("UTF-8")).map("%02x".format(_)).mkString
    val u = (java.lang.Long.parseLong(hex.take(7), 16) + 0.5) / 268435456.0
    val lap = -1.0 * math.signum(u - 0.5) * math.log(1.0 - 2.0 * math.abs(u - 0.5))
    val rnd = if (lap >= 0) math.floor(lap + 0.5) else math.ceil(lap - 0.5)
    assert(a("g0") == truths("g0") + rnd.toLong)
    intercept[IllegalArgumentException](
      Validation.noisedCounts(d, Nil, 1.0, "s"))
    intercept[IllegalArgumentException](
      Validation.noisedCounts(d, Seq("g"), 0.0, "s"))
    intercept[IllegalArgumentException](
      Validation.noisedCounts(d, Seq("g"), 1.0, "a:b"))
  }

  test("cohenKappa matches the hand-worked contingency table") {
    // 20 a/a, 5 a/b, 10 b/a, 15 b/b: po = 0.7, marginals A(25,25)
    // B(30,20) -> pe_num = 1250, kappa = (50*35-1250)/(2500-1250) = 0.4
    val rows = Seq.fill(20)(("a", "a")) ++ Seq.fill(5)(("a", "b")) ++
      Seq.fill(10)(("b", "a")) ++ Seq.fill(15)(("b", "b"))
    val out = Validation.cohenKappa(rows.toDF("r1", "r2"), "r1", "r2").head()
    assert(out.getAs[Long]("n") == 50)
    assert(out.getAs[Long]("agree") == 35)
    assert(out.getAs[Double]("kappa") == 0.4)
  }

  test("cohenKappa: NULL is a category; degenerate frame yields NULL") {
    // both raters abstain on the same row -> that IS an agreement
    val withNulls = Seq(
      (Some("a"), Some("a")), (None, None), (Some("a"), None))
      .toDF("r1", "r2")
    val out = Validation.cohenKappa(withNulls, "r1", "r2").head()
    assert(out.getAs[Long]("agree") == 2)
    // single shared constant label: pe == 1, kappa undefined -> NULL
    val const = Seq(("x", "x"), ("x", "x")).toDF("r1", "r2")
    assert(Validation.cohenKappa(const, "r1", "r2").head().isNullAt(2))
    // perfect two-category agreement -> exactly 1.0
    val perfect = Seq(("a", "a"), ("b", "b")).toDF("r1", "r2")
    assert(Validation.cohenKappa(perfect, "r1", "r2")
      .head().getAs[Double]("kappa") == 1.0)
    intercept[IllegalArgumentException](
      Validation.cohenKappa(perfect, "r1", "r1"))
  }

  test("fleissKappa matches the hand-worked 3-item 2-rater fixture") {
    // i1: a,a  i2: a,b  i3: b,b -> P̄ = 2/3, pe = 1/2, kappa = 1/3
    val ratings = Seq(
      (1L, "a"), (1L, "a"), (2L, "a"), (2L, "b"), (3L, "b"), (3L, "b"))
      .toDF("item", "label")
    val out = Validation.fleissKappa(ratings, "item", "label").head()
    assert(out.getAs[Long]("n_items") == 3)
    assert(out.getAs[Long]("n_raters") == 2)
    assert(out.getAs[Double]("kappa") == 0.333333)
  }

  test("fleissKappa is loud on varying or single rater counts; NULL on one category") {
    val varying = Seq((1L, "a"), (1L, "a"), (2L, "a"))
      .toDF("item", "label")
    val e = intercept[IllegalArgumentException](
      Validation.fleissKappa(varying, "item", "label"))
    assert(e.getMessage.contains("constant rater count"))
    val single = Seq((1L, "a"), (2L, "b")).toDF("item", "label")
    intercept[IllegalArgumentException](
      Validation.fleissKappa(single, "item", "label"))
    // every rating one category: pe == 1 -> NULL, not NaN
    val const = Seq((1L, "a"), (1L, "a"), (2L, "a"), (2L, "a"))
      .toDF("item", "label")
    assert(Validation.fleissKappa(const, "item", "label").head().isNullAt(2))
  }

  test("chiSquaredIndependence: textbook 2x2, perfect association V=1, independence ~0, NULL category, degenerate NULL V") {
    def rows(spec: Seq[((String, String), Int)]) =
      spec.flatMap { case (p, n) => Seq.fill(n)(p) }.toDF("a", "b")
    // textbook 2x2 (A:10y/20n, B:30y/40n): chi2 = 50/63 = 0.793651,
    // V = sqrt(chi2/100) = 0.089087 (hand-checked against the classic
    // sum-over-all-cells form)
    val t = Validation.chiSquaredIndependence(
      rows(Seq(("A", "y") -> 10, ("A", "n") -> 20,
        ("B", "y") -> 30, ("B", "n") -> 40)), "a", "b").head()
    assert(t.getAs[Long]("n") == 100L && t.getAs[Long]("dof") == 1L)
    assert(t.getAs[Double]("chi2") == 0.793651)
    assert(t.getAs[Double]("cramers_v") == 0.089087)
    // perfect association (diagonal 2x2): V = 1, chi2 = N
    val p = Validation.chiSquaredIndependence(
      rows(Seq(("A", "y") -> 7, ("B", "n") -> 5)), "a", "b").head()
    assert(p.getAs[Double]("chi2") == 12.0)
    assert(p.getAs[Double]("cramers_v") == 1.0)
    // exact independence: chi2 clamps to 0 (not a tiny negative)
    val ind = Validation.chiSquaredIndependence(
      rows(Seq(("A", "y") -> 2, ("A", "n") -> 2,
        ("B", "y") -> 2, ("B", "n") -> 2)), "a", "b").head()
    assert(ind.getAs[Double]("chi2") == 0.0)
    assert(ind.getAs[Double]("cramers_v") == 0.0)
    // NULL is a category: a (null, *) stratum changes r and the cells
    val withNull = Seq(("A", "y"), ("A", "n"), (null, "y"), (null, "y"))
      .toDF("a", "b")
    val nu = Validation.chiSquaredIndependence(withNull, "a", "b").head()
    assert(nu.getAs[Long]("dof") == 1L) // r=2 (A, NULL), c=2
    assert(nu.getAs[Double]("cramers_v") > 0.0)
    // single category on one axis: dof 0, V undefined -> NULL
    val deg = Validation.chiSquaredIndependence(
      rows(Seq(("A", "y") -> 3, ("A", "n") -> 4)), "a", "b").head()
    assert(deg.getAs[Long]("dof") == 0L)
    assert(deg.isNullAt(3))
    intercept[IllegalArgumentException](
      Validation.chiSquaredIndependence(withNull, "a", "a"))
  }

  test("cliffsDelta: hand-counted wins/ties/losses, poles, symmetry, loud contracts") {
    def df(a: Seq[Long], b: Seq[Long]) =
      (a.map((true, _)) ++ b.map((false, _))).toDF("g", "v")
    // A = [1, 3, 3], B = [2, 3]: wins (a>b) = 2 (3>2 twice),
    // ties = 2 (3==3 twice), losses (a<b) = 2 (1<2, 1<3)
    val r = Validation.cliffsDelta(df(Seq(1L, 3L, 3L), Seq(2L, 3L)), "g", "v")
      .head()
    assert(r.getAs[Long]("n_a") == 3L && r.getAs[Long]("n_b") == 2L)
    assert(r.getAs[Long]("wins") == 2L && r.getAs[Long]("ties") == 2L &&
      r.getAs[Long]("losses") == 2L)
    assert(r.getAs[Double]("cliffs_delta") == 0.0)
    assert(r.getAs[Double]("auc") == 0.5)
    // complete dominance: delta 1 / -1, auc 1 / 0
    val hi = Validation.cliffsDelta(df(Seq(10L, 11L), Seq(1L, 2L)), "g", "v")
      .head()
    assert(hi.getAs[Double]("cliffs_delta") == 1.0 &&
      hi.getAs[Double]("auc") == 1.0)
    val lo = Validation.cliffsDelta(df(Seq(1L, 2L), Seq(10L, 11L)), "g", "v")
      .head()
    assert(lo.getAs[Double]("cliffs_delta") == -1.0 &&
      lo.getAs[Double]("auc") == 0.0)
    // delta(A,B) = -delta(B,A)
    val ab = Validation.cliffsDelta(df(Seq(1L, 5L, 9L), Seq(2L, 3L)), "g", "v")
      .head().getAs[Double]("cliffs_delta")
    val ba = Validation.cliffsDelta(
      (Seq(1L, 5L, 9L).map((false, _)) ++ Seq(2L, 3L).map((true, _)))
        .toDF("g", "v"), "g", "v").head().getAs[Double]("cliffs_delta")
    assert(ab == 0.333333 && ba == -0.333333)
    // loud: double values, NULLs, non-boolean group
    intercept[IllegalArgumentException](Validation.cliffsDelta(
      Seq((true, 1.5)).toDF("g", "v"), "g", "v"))
    intercept[IllegalArgumentException](Validation.cliffsDelta(
      Seq((true, Option.empty[Long])).toDF("g", "v"), "g", "v"))
    intercept[IllegalArgumentException](Validation.cliffsDelta(
      Seq(("x", 1L)).toDF("g", "v"), "g", "v"))
  }

  test("quantileMatch: nearest-rank equating, duplicates, identity, loud contracts") {
    def run(ref: Seq[Long], tgt: Seq[Long]) =
      Validation.quantileMatch(ref.toDF("v"), tgt.toDF("v"), "v")
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2)))).toMap
    // ranks 1..3 of 3 map to ceil(4/3 * rank)-th of [10,20,30,40]
    assert(run(Seq(10L, 20L, 30L, 40L), Seq(1L, 2L, 3L)) ==
      Map(1L -> ((1L, 20L)), 2L -> ((1L, 30L)), 3L -> ((1L, 40L))))
    // duplicate target values share one mapped row with n = 2
    assert(run(Seq(100L, 200L, 300L), Seq(5L, 5L, 9L)) ==
      Map(5L -> ((2L, 200L)), 9L -> ((1L, 300L))))
    // equating a distribution onto itself is the identity
    val self = Seq(3L, 1L, 4L, 1L, 5L, 9L, 2L, 6L)
    assert(run(self, self).forall { case (v, (_, m)) => m == v })
    // loud: doubles, NULLs, empty reference
    intercept[IllegalArgumentException](Validation.quantileMatch(
      Seq(1.5).toDF("v"), Seq(1L).toDF("v"), "v"))
    intercept[IllegalArgumentException](Validation.quantileMatch(
      Seq(1L).toDF("v"), Seq(Option.empty[Long]).toDF("v"), "v"))
    intercept[IllegalArgumentException](Validation.quantileMatch(
      Seq.empty[Long].toDF("v"), Seq(1L).toDF("v"), "v"))
  }

  test("trimmedMean: hand trim bands, outlier robustness, tie overlap, loud guards") {
    import spark.implicits._
    val df = Seq(("A", 0.0), ("A", 10.0), ("A", 10.0), ("A", 20.0),
      ("A", 1000.0), ("B", 5.0)).toDF("g", "v")
    val out = Validation.trimmedMean(df, Seq("g"), "v", trim = 0.2)
      .collect().map(r => r.getAs[String]("g") ->
        ((r.getAs[Long]("n"), r.getAs[Long]("n_kept"),
          r.getAs[Double]("trimmed_mean")))).toMap
    // A: n=5, k=1 -> keep ranks 1..3 = {10, 10, 20} -> 40/3
    assert(out("A") == ((5L, 3L, 13.333333)), out("A").toString)
    // B: n=1, k=0 -> the value itself
    assert(out("B") == ((1L, 1L, 5.0)))
    // trim 0 = plain mean; the outlier dominates it
    val plain = Validation.trimmedMean(df, Seq("g"), "v", trim = 0.0)
      .collect().map(r => r.getAs[String]("g") ->
        r.getAs[Double]("trimmed_mean")).toMap
    assert(plain("A") == 208.0)
    assert(out("A")._3 < plain("A"), "trimming must defeat the outlier")
    // partition invariance (keyedRangePrefix rank discipline)
    val shuffled = Validation.trimmedMean(df.repartition(7), Seq("g"), "v",
      trim = 0.2).collect().map(r => r.getAs[String]("g") ->
        r.getAs[Double]("trimmed_mean")).toMap
    assert(shuffled("A") == 13.333333)
    // ties spanning the cut: [1,1,1,1] trim 0.25 -> k=1, keep 2 ones
    val ties = Validation.trimmedMean(
      Seq(("T", 1.0), ("T", 1.0), ("T", 1.0), ("T", 1.0)).toDF("g", "v"),
      Seq("g"), "v", trim = 0.25).head()
    assert(ties.getAs[Long]("n_kept") == 2L &&
      ties.getAs[Double]("trimmed_mean") == 1.0)
    intercept[IllegalArgumentException](
      Validation.trimmedMean(df, Seq("g"), "v", trim = 0.5))
    intercept[IllegalArgumentException](Validation.trimmedMean(
      Seq(("A", Option.empty[Double])).toDF("g", "v"), Seq("g"), "v"))
    // no LONG micro-value: a require, not a mid-executor cast overflow
    Seq(Double.NaN, Double.PositiveInfinity, 1e13).foreach { bad =>
      val e = intercept[IllegalArgumentException](Validation.trimmedMean(
        Seq(("A", 1.0), ("A", bad)).toDF("g", "v"), Seq("g"), "v"))
      assert(e.getMessage.contains("1 NaN, infinite"), e.getMessage)
    }
    // NULL group keys are a group (contract pin): the offsets/totals
    // joins are null-safe per key, so the NULL group survives with the
    // same trim band as any other — values {2,4,6,8,100}, k=1 keeps
    // {4,6,8} -> 6.0
    val withNull = Validation.trimmedMean(
      Seq((Option("A"), 1.0), (Option.empty[String], 2.0),
        (Option.empty[String], 4.0), (Option.empty[String], 6.0),
        (Option.empty[String], 8.0), (Option.empty[String], 100.0))
        .toDF("g", "v"), Seq("g"), "v", trim = 0.2)
    assert(withNull.count() == 2L, "NULL-key group must not be dropped")
    val nullRow = withNull.where(col("g").isNull).head()
    assert(nullRow.getAs[Long]("n") == 5L &&
      nullRow.getAs[Long]("n_kept") == 3L &&
      nullRow.getAs[Double]("trimmed_mean") == 6.0)
  }

  test("groupedQuantiles: hand nearest-rank picks, ties, NULL-key group, partition invariance, loud guards") {
    import spark.implicits._
    val a = (1 to 10).map(i => ("A", i.toDouble))
    val b = Seq(("B", 5.0), ("B", 5.0), ("B", 7.0))
    val df = (a ++ b).toDF("g", "v")
    def run(d: org.apache.spark.sql.DataFrame) =
      Validation.groupedQuantiles(d, Seq("g"), "v",
        Seq(0.1, 0.5, 0.9, 1.0))
        .collect().map(r => (r.getAs[String]("g"), r.getAs[Double]("p")) ->
          ((r.getAs[Long]("n"), r.getAs[Double]("value")))).toMap
    val out = run(df)
    // A = 1..10: ceil(p·10) ranks 1, 5, 9, 10
    assert(out(("A", 0.1)) == ((10L, 1.0)))
    assert(out(("A", 0.5)) == ((10L, 5.0)))
    assert(out(("A", 0.9)) == ((10L, 9.0)))
    assert(out(("A", 1.0)) == ((10L, 10.0)))
    // B = {5, 5, 7}: ranks 1, 2 hit the tied 5; ranks 3 -> 7
    assert(out(("B", 0.1)) == ((3L, 5.0)) && out(("B", 0.5)) == ((3L, 5.0)))
    assert(out(("B", 0.9)) == ((3L, 7.0)) && out(("B", 1.0)) == ((3L, 7.0)))
    // exactly one row per (group, p)
    assert(out.size == 8)
    // partition invariance (keyedRangePrefix rank discipline)
    assert(run(df.repartition(7)) == out)
    // NULL group keys are a group
    val withNull = Validation.groupedQuantiles(
      Seq((Option("A"), 1.0), (Option.empty[String], 2.0),
        (Option.empty[String], 4.0)).toDF("g", "v"),
      Seq("g"), "v", Seq(0.5))
    assert(withNull.where(col("g").isNull).head()
      .getAs[Double]("value") == 2.0)
    intercept[IllegalArgumentException](Validation.groupedQuantiles(
      df, Seq("g"), "v", Seq(0.0)))
    intercept[IllegalArgumentException](Validation.groupedQuantiles(
      df, Seq("g"), "v", Seq(0.5, 0.5)))
    intercept[IllegalArgumentException](Validation.groupedQuantiles(
      Seq(("A", Option.empty[Double])).toDF("g", "v"), Seq("g"), "v"))
    Seq(Double.NaN, Double.PositiveInfinity, 1e13).foreach { bad =>
      val e = intercept[IllegalArgumentException](Validation.groupedQuantiles(
        Seq(("A", 1.0), ("A", bad)).toDF("g", "v"), Seq("g"), "v"))
      assert(e.getMessage.contains("1 NaN, infinite"), e.getMessage)
    }
  }

  test("groupedQuantiles under collectPins: pins.release() frees its rank checkpoint") {
    val d = Seq(("A", 1.0), ("A", 3.0), ("B", 2.0)).toDF("g", "v")
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val (out, pins) = graft.core.Caches.collectPins {
      Validation.groupedQuantiles(d, Seq("g"), "v", Seq(0.5, 1.0))
    }
    assert(out.count() == 4L) // materialize before releasing
    pins.release()
    assert((spark.sparkContext.getPersistentRDDs.keySet.toSet -- before).isEmpty,
      "keyedRangePrefix's checkpoint must belong to the pin scope")
  }

  test("bhAdjust under collectPins: pins.release() frees its step-up checkpoint") {
    val ps = Seq(0.005, 0.011, 0.02, 0.04, 0.13).toDF("p")
    val before = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val (out, pins) = graft.core.Caches.collectPins {
      Validation.bhAdjust(ps, "p")
    }
    assert(out.count() == 5L) // materialize before releasing
    pins.release()
    assert((spark.sparkContext.getPersistentRDDs.keySet.toSet -- before).isEmpty,
      "rangeSuffixMin's checkpoint must belong to the pin scope")
  }

  test("bhAdjust: textbook step-up q-values, ties at largest index, partition invariance, loud guards") {
    import spark.implicits._
    // classic worked example (m = 5, α = 0.05): candidate terms
    // 0.025, 0.0275, 0.033333, 0.05, 0.13 — step-up min leaves the
    // first four under α, including p=0.04 whose own term EQUALS α
    val ps = Seq(0.005, 0.011, 0.02, 0.04, 0.13).toDF("p")
    def run(df: org.apache.spark.sql.DataFrame) =
      Validation.bhAdjust(df, "p", alpha = 0.05)
        .collect().map(r => r.getAs[Double]("p") ->
          ((r.getAs[Long]("rank"), r.getAs[Double]("q_value"),
            r.getAs[Boolean]("reject")))).toMap
    val out = run(ps)
    assert(out(0.005) == ((1L, 0.025, true)), out(0.005).toString)
    assert(out(0.011) == ((2L, 0.0275, true)))
    assert(out(0.02) == ((3L, 0.033333, true)))
    assert(out(0.04) == ((4L, 0.05, true)))
    assert(out(0.13) == ((5L, 0.13, false)))
    // ties rank at their largest index: two tests at 0.01 among 3 ->
    // rank 2, q = 0.01·3/2 = 0.015 for BOTH
    val tied = run(Seq(0.01, 0.01, 0.5).toDF("p"))
    assert(tied(0.01) == ((2L, 0.015, true)) && tied(0.5)._1 == 3L)
    // the step-up matters: a non-monotone raw sequence gets flattened
    // (q is non-decreasing in p by construction)
    val sorted = run(ps.repartition(7)).toSeq.sortBy(_._1).map(_._2._2)
    assert(sorted == sorted.sorted, s"q not monotone: $sorted")
    assert(run(ps.repartition(7)) == out, "partition invariance")
    intercept[IllegalArgumentException](
      Validation.bhAdjust(Seq(Option.empty[Double]).toDF("p"), "p"))
    intercept[IllegalArgumentException](
      Validation.bhAdjust(Seq(1.5).toDF("p"), "p"))
    intercept[IllegalArgumentException](
      Validation.bhAdjust(ps, "p", alpha = 0.0))
  }

  test("wilsonIntervals + shrunkenRates: hand-checked intervals, shrinkage direction, loud guards") {
    def flags(spec: (String, Int, Int)*) = spec.flatMap { case (k, x, n) =>
      Seq.fill(x)((k, true)) ++ Seq.fill(n - x)((k, false))
    }.toDF("k", "s")
    // Wilson at 3/4 (hand-replayed), plus the boundary clamps
    val wi = Validation.wilsonIntervals(
      flags(("a", 3, 4), ("z", 0, 10), ("o", 10, 10)), Seq("k"), "s")
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(3), r.getDouble(4), r.getDouble(5)))).toMap
    assert(wi("a") == ((0.75, 0.300642, 0.954413)), wi("a").toString)
    assert(wi("z") == ((0.0, 0.0, 0.277533)))
    assert(wi("o") == ((1.0, 0.722467, 1.0)))
    // shrinkage: the lucky 2/2 source pulls DOWN toward the pool, the
    // 50/100 one barely moves; values replay the MoM fit exactly
    val sh = Validation.shrunkenRates(
      flags(("a", 2, 2), ("b", 50, 100), ("c", 10, 100)), Seq("k"), "s")
      .collect().map(r => r.getString(0) ->
        ((r.getDouble(3), r.getDouble(4), r.getDouble(5),
          r.getDouble(6)))).toMap
    assert(sh("a") == ((1.0, 0.862428, 0.445902, 0.390164)),
      sh("a").toString)
    assert(sh("b") == ((0.5, 0.500276, 0.445902, 0.390164)))
    assert(sh("c") == ((0.1, 0.103593, 0.445902, 0.390164)))
    assert(sh("a")._2 < 1.0 && sh("c")._2 > 0.1)
    // loud: one group / zero variance are unidentifiable priors —
    // and the guards are EAGER: they fire at call time, before any
    // action on the returned frame
    intercept[IllegalArgumentException](Validation.shrunkenRates(
      flags(("only", 3, 5)), Seq("k"), "s"))
    intercept[IllegalArgumentException](Validation.shrunkenRates(
      flags(("x", 1, 2), ("y", 2, 4)), Seq("k"), "s"))
    // empty input is ZERO groups — the in-plan raise_error an earlier
    // draft used never evaluates on an empty frame; the eager guard
    // must still refuse loudly
    intercept[IllegalArgumentException](Validation.shrunkenRates(
      flags(), Seq("k"), "s"))
    intercept[IllegalArgumentException](Validation.wilsonIntervals(
      Seq(("a", 1L)).toDF("k", "s"), Seq("k"), "s"))
    intercept[IllegalArgumentException](Validation.wilsonIntervals(
      flags(("a", 1, 2)), Seq("k"), "s", z = 0.0))
  }

  test("spearmanCorrelation: tie-averaged ranks, poles, NULL-key drop, loud guards") {
    def run(rows: Seq[(String, Long, Long)], maxRows: Long = 3000000L) =
      Validation.spearmanCorrelation(rows.toDF("k", "x", "y"), Seq("k"),
        "x", "y", maxRows)
        .collect().map(r => r.getAs[String]("k") ->
          ((r.getAs[Long]("n"), r.getAs[Long]("sum_dxdy"),
            Option(r.getAs[java.lang.Double]("rho")).map(_.doubleValue))))
        .toMap
    // perfect monotone (with a tie pair moving together): rho = 1
    val mono = Seq(("a", 1L, 10L), ("a", 2L, 20L), ("a", 2L, 20L),
      ("a", 4L, 40L))
    assert(run(mono)("a")._3.contains(1.0))
    // perfect reversal: rho = -1
    val rev = Seq(("b", 1L, 30L), ("b", 2L, 20L), ("b", 3L, 10L))
    assert(run(rev)("b")._3.contains(-1.0))
    // hand case with a one-sided tie: x ranks 1,2,3 (2x: 2,4,6),
    // y ranks 1.5,1.5,3 (2x: 3,3,6); d_x = -2,0,2; d_y = -1,-1,2
    // -> sum_dxdy = 6, sxx = 8, syy = 6, rho = 6/sqrt(48) = 0.866025
    val hand = run(Seq(("c", 1L, 1L), ("c", 2L, 1L), ("c", 3L, 2L)))("c")
    assert(hand == ((3L, 6L, Some(0.866025))), hand.toString)
    // zero variance on one side: rho undefined -> NULL, moments kept
    val flat = run(Seq(("d", 1L, 7L), ("d", 2L, 7L), ("d", 3L, 7L)))("d")
    assert(flat._3.isEmpty && flat._1 == 3L)
    // NULL-keyed rows drop and must not trip the maxRows guard
    val nk = run(Seq(("e", 1L, 1L), ("e", 2L, 2L), ("e", 3L, 3L)) ++
      (1L to 50L).map(i => (null.asInstanceOf[String], i, i)),
      maxRows = 10L)
    assert(nk.keySet == Set("e") && nk("e")._3.contains(1.0))
    // loud: doubles, NULL values, oversized key, empty keyCols
    intercept[IllegalArgumentException](Validation.spearmanCorrelation(
      Seq(("a", 1.5, 1L)).toDF("k", "x", "y"), Seq("k"), "x", "y"))
    intercept[IllegalArgumentException](Validation.spearmanCorrelation(
      Seq(("a", Option.empty[Long], 1L)).toDF("k", "x", "y"),
      Seq("k"), "x", "y"))
    intercept[IllegalArgumentException](
      run((1L to 11L).map(i => ("f", i, i)), maxRows = 10L))
    intercept[IllegalArgumentException](Validation.spearmanCorrelation(
      Seq(("a", 1L, 1L)).toDF("k", "x", "y"), Nil, "x", "y"))
    // the moment-overflow cap: maxRows may not exceed 3M (n(n²−1)/3
    // wraps 2^63 past n ≈ 3.02e6 — the r14 ADVICE finding)
    intercept[IllegalArgumentException](Validation.spearmanCorrelation(
      Seq(("a", 1L, 1L)).toDF("k", "x", "y"), Seq("k"), "x", "y",
      maxRows = 10000000L))
    intercept[IllegalArgumentException](Validation.spearmanFromCells(
      Seq((1L, 1L, 1L)).toDF("__x", "__y", "__n"), maxRows = 10000000L))
  }

  test("krippendorffAlpha: published 2-coder example, poles, singleton drop, loud contracts") {
    def run(rows: Seq[(Long, String)]) =
      Validation.krippendorffAlpha(rows.toDF("unit", "value"),
        "unit", "value")
        .collect().map(r => (r.getAs[Long]("n_units"),
          r.getAs[Long]("n_ratings"), r.getAs[Double]("d_o"),
          r.getAs[Double]("d_e"),
          Option(r.getAs[java.lang.Double]("alpha")).map(_.doubleValue)))
        .head
    // Krippendorff's canonical 2-observer nominal example (alpha
    // ~ 0.692 in the literature): coders A/B over 12 units
    val a = "a a b b d c c c e d d a".split(" ")
    val b = "b a b b b c c c e d d d".split(" ")
    val ex = (0 until 12).flatMap(i =>
      Seq((i.toLong, a(i)), (i.toLong, b(i))))
    assert(run(ex) == ((12L, 24L, 6.0, 19.478261, Some(0.691964))),
      run(ex).toString)
    // a singleton unit (one rating) is unpairable and must not move
    // anything
    assert(run(ex :+ ((99L, "zzz"))) ==
      ((12L, 24L, 6.0, 19.478261, Some(0.691964))))
    // perfect agreement -> alpha 1; one observed value -> D_e = 0, NULL
    val perfect = (0L until 4L).flatMap(u =>
      Seq.fill(3)((u, if (u < 2) "a" else "b")))
    assert(run(perfect) == ((4L, 12L, 0.0, 6.545455, Some(1.0))))
    assert(run(Seq((1L, "a"), (1L, "a")))._5.isEmpty)
    // loud: NULL ratings, nothing pairable
    intercept[IllegalArgumentException](Validation.krippendorffAlpha(
      Seq((1L, Option.empty[String])).toDF("unit", "value"),
      "unit", "value"))
    intercept[IllegalArgumentException](
      run(Seq((1L, "a"), (2L, "b"))))
  }
}
