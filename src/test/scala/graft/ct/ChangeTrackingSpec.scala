package graft.ct

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkTestBase

class ChangeTrackingSpec extends SparkTestBase {
  import spark.implicits._

  private def tmpTarget(): String =
    Files.createTempDirectory("graft_ct_spec_").toString + "/tgt"

  private val ts1 = Some("to_timestamp('2020-01-01 00:00:00')")
  private val ts2 = Some("to_timestamp('2020-02-01 00:00:00')")

  private def readTgt(path: String): DataFrame = spark.read.parquet(path)

  test("SCD2 bootstrap + changed-key close/insert across two batches") {
    val target = tmpTarget()
    val b1 = Seq((1L, "a", 100L), (2L, "b", 100L)).toDF("id", "val", "ts")
    ChangeTracking.trackHistoryUpsert(spark, b1, target, Seq("id"),
      orderBy = Seq("ts"), loadTsExpr = ts1)
    val b2 = Seq((1L, "a2", 200L), (3L, "c", 200L)).toDF("id", "val", "ts")
    ChangeTracking.trackHistoryUpsert(spark, b2, target, Seq("id"),
      orderBy = Seq("ts"), loadTsExpr = ts2)

    val out = readTgt(target)
    assert(out.count() == 4) // id1 v1 closed + v2, id2 v1 open, id3 v1 open
    val id1 = out.filter($"id" === 1).orderBy("version").collect()
    assert(id1.length == 2)
    assert(!id1(0).getAs[Boolean]("is_current") &&
      id1(0).getAs[java.sql.Timestamp]("effective_end_ts") != null)
    assert(id1(1).getAs[Boolean]("is_current") &&
      id1(1).getAs[Long]("version") == 2L &&
      id1(1).getAs[String]("val") == "a2")
    val id2 = out.filter($"id" === 2).collect()
    assert(id2.length == 1 && id2(0).getAs[Boolean]("is_current"))
    // unchanged key resubmitted → no new version
    ChangeTracking.trackHistoryUpsert(spark, b2, target, Seq("id"),
      orderBy = Seq("ts"), loadTsExpr = ts2)
    assert(readTgt(target).count() == 4)
  }

  test("asOf snapshots: boundary is [start, end), pre-history keys absent") {
    val target = tmpTarget()
    val b1 = Seq((1L, "a", 100L), (2L, "b", 100L)).toDF("id", "val", "ts")
    ChangeTracking.trackHistoryUpsert(spark, b1, target, Seq("id"),
      orderBy = Seq("ts"), loadTsExpr = ts1)
    val b2 = Seq((1L, "a2", 200L), (3L, "c", 200L)).toDF("id", "val", "ts")
    ChangeTracking.trackHistoryUpsert(spark, b2, target, Seq("id"),
      orderBy = Seq("ts"), loadTsExpr = ts2)
    def snap(t: String) = ChangeTracking.asOf(spark, target,
      to_timestamp(lit(t)))
      .select("id", "val").as[(Long, String)].collect().toSet
    // mid-history: batch-1 state, id 3 not yet born
    assert(snap("2020-01-15 00:00:00") == Set(1L -> "a", 2L -> "b"))
    // exactly at the close boundary: the OLD id-1 row is gone, the new
    // one (starting at ts2) is visible — [start, end) semantics
    assert(snap("2020-02-01 00:00:00") == Set(1L -> "a2", 2L -> "b", 3L -> "c"))
    // before any history
    assert(snap("2019-12-31 00:00:00") == Set.empty)
    // each key at most once at ANY instant
    Seq("2020-01-15 00:00:00", "2020-02-01 00:00:00").foreach { t =>
      val ids = ChangeTracking.asOf(spark, target, to_timestamp(lit(t)))
        .groupBy("id").count().where(col("count") > 1).count()
      assert(ids == 0L, s"duplicate key visible at $t")
    }
    // not-a-history-table is loud
    val flat = tmpTarget()
    b1.write.parquet(flat)
    val e = intercept[IllegalArgumentException](
      ChangeTracking.asOf(spark, flat, current_timestamp()))
    assert(e.getMessage.contains("track-history"))
  }

  test("asOf on a bucketed SCD2 target matches flat, without the bucket column") {
    val flat = tmpTarget()
    val bucketed = tmpTarget()
    val b1 = (1L to 12L).map(i => (i, s"v$i", 100L)).toDF("id", "val", "ts")
    val b2 = Seq((3L, "v3x", 200L), (13L, "v13", 200L)).toDF("id", "val", "ts")
    for ((tgt, nb) <- Seq((flat, None), (bucketed, Some(4)))) {
      ChangeTracking.trackHistoryUpsert(spark, b1, tgt, Seq("id"),
        orderBy = Seq("ts"), loadTsExpr = ts1, numBuckets = nb)
      ChangeTracking.trackHistoryUpsert(spark, b2, tgt, Seq("id"),
        orderBy = Seq("ts"), loadTsExpr = ts2, numBuckets = nb)
    }
    def snap(tgt: String) = ChangeTracking.asOf(spark, tgt,
      to_timestamp(lit("2020-01-15 00:00:00")))
    val got = snap(bucketed)
    assert(!got.columns.contains(TableStore.BucketCol), got.columns.toSeq)
    assert(got.columns.toSet == snap(flat).columns.toSet)
    val cols = got.columns.sorted.toSeq
    assert(got.select(cols.map(col): _*).collect().toSet ==
      snap(flat).select(cols.map(col): _*).collect().toSet)
    assert(got.count() == 12L)
  }

  test("asOf reads a catalog-addressed SCD2 target") {
    val table = "graft_ct_spec_asof_catalog"
    spark.sql(s"DROP TABLE IF EXISTS $table")
    try {
      val b1 = Seq((1L, "a", 100L), (2L, "b", 100L)).toDF("id", "val", "ts")
      ChangeTracking.trackHistoryUpsert(spark, b1, table, Seq("id"),
        orderBy = Seq("ts"), loadTsExpr = ts1)
      val b2 = Seq((1L, "a2", 200L)).toDF("id", "val", "ts")
      ChangeTracking.trackHistoryUpsert(spark, b2, table, Seq("id"),
        orderBy = Seq("ts"), loadTsExpr = ts2)
      def snap(t: String) = ChangeTracking.asOf(spark, table, to_timestamp(lit(t)))
        .select("id", "val").as[(Long, String)].collect().toSet
      assert(snap("2020-01-15 00:00:00") == Set(1L -> "a", 2L -> "b"))
      assert(snap("2020-02-01 00:00:00") == Set(1L -> "a2", 2L -> "b"))
    } finally spark.sql(s"DROP TABLE IF EXISTS $table")
  }

  test("SCD2 within-batch multi-version processes ranks oldest to newest") {
    val target = tmpTarget()
    val b = Seq((1L, "v1", 100L), (1L, "v2", 200L), (1L, "v3", 300L))
      .toDF("id", "val", "ts")
    ChangeTracking.trackHistoryUpsert(spark, b, target, Seq("id"),
      orderBy = Seq("ts"), loadTsExpr = ts1)
    val rows = readTgt(target).orderBy("version").collect()
    assert(rows.map(_.getAs[Long]("version")).toSeq == Seq(1L, 2L, 3L))
    assert(rows.map(_.getAs[String]("val")).toSeq == Seq("v1", "v2", "v3"))
    assert(rows.count(_.getAs[Boolean]("is_current")) == 1)
    assert(rows.last.getAs[String]("val") == "v3")
  }

  test("SCD2 schema evolution adds new column when allowed") {
    val target = tmpTarget()
    val b1 = Seq((1L, "a")).toDF("id", "val")
    ChangeTracking.trackHistoryUpsert(spark, b1, target, Seq("id"), loadTsExpr = ts1)
    val b2 = Seq((1L, "a2", "red")).toDF("id", "val", "color")
    intercept[IllegalArgumentException] {
      ChangeTracking.trackHistoryUpsert(spark, b2, target, Seq("id"), loadTsExpr = ts2)
    }
    ChangeTracking.trackHistoryUpsert(spark, b2, target, Seq("id"),
      loadTsExpr = ts2, allowSchemaEvolution = true)
    val out = readTgt(target)
    assert(out.columns.contains("color"))
    val cur = out.filter($"is_current").collect()
    assert(cur.length == 1 && cur(0).getAs[String]("color") == "red")
    val old = out.filter(!$"is_current").collect()
    assert(old(0).getAs[String]("color") == null)
  }

  test("SCD1 upsert keeps one row per key, updates only changed") {
    val target = tmpTarget()
    val b1 = Seq((1L, "a"), (2L, "b")).toDF("id", "val")
    ChangeTracking.currentOnlyUpsert(spark, b1, target, Seq("id"))
    val b2 = Seq((2L, "b2"), (3L, "c")).toDF("id", "val")
    ChangeTracking.currentOnlyUpsert(spark, b2, target, Seq("id"))
    val out = readTgt(target).orderBy("id").collect()
    assert(out.map(r => (r.getAs[Long]("id"), r.getAs[String]("val"))).toSeq ==
      Seq((1L, "a"), (2L, "b2"), (3L, "c")))
    assert(readTgt(target).columns.contains("row_hash"))
  }

  test("SCD1 dedups batch via orderBy keep-latest") {
    val target = tmpTarget()
    val b = Seq((1L, "old", 100L), (1L, "new", 200L)).toDF("id", "val", "ts")
    ChangeTracking.currentOnlyUpsert(spark, b, target, Seq("id"), orderBy = Seq("ts"))
    val out = readTgt(target).collect()
    assert(out.length == 1 && out(0).getAs[String]("val") == "new")
  }

  test("null key policy: error throws, drop filters") {
    val target = tmpTarget()
    val b = Seq((Some(1L), "a"), (None, "b")).toDF("id", "val")
    intercept[IllegalArgumentException] {
      ChangeTracking.currentOnlyUpsert(spark, b, target, Seq("id"))
    }
    ChangeTracking.currentOnlyUpsert(spark, b, target, Seq("id"),
      nullKeyPolicy = "drop")
    assert(readTgt(target).count() == 1)
  }

  test("fluent builder routes via mode aliases") {
    import graft.ct.implicits._
    val target = tmpTarget()
    val b = Seq((1L, "a")).toDF("id", "val")
    b.changeTracking.mode("2").businessKeys("id")
      .option(_.copy(loadTsExpr = ts1)).table(target)
    val out = readTgt(target).collect()
    assert(out.length == 1 && out(0).getAs[Long]("version") == 1L)
    intercept[IllegalArgumentException] {
      b.changeTracking.businessKeys("id").table(target) // missing mode
    }
    intercept[IllegalArgumentException] { ChangeTracking.resolveMode("bogus") }
  }

  test("bucketed SCD2 matches flat results and only rewrites touched buckets") {
    val flat = tmpTarget()
    val bucketed = tmpTarget()
    val n = 8
    val b1 = (1L to 64L).map(i => (i, s"v$i", 100L)).toDF("id", "val", "ts")
    // second batch touches a small subset of keys (and so of buckets)
    val b2 = Seq((4L, "v4x", 200L), (12L, "v12x", 200L)).toDF("id", "val", "ts")
    for (tgt <- Seq(flat, bucketed)) {
      val nb = if (tgt == bucketed) Some(n) else None
      ChangeTracking.trackHistoryUpsert(spark, b1, tgt, Seq("id"),
        orderBy = Seq("ts"), loadTsExpr = ts1, numBuckets = nb)
    }
    // snapshot per-bucket file listings before the selective merge
    def bucketFiles(): Map[String, Set[String]] = {
      val root = new java.io.File(bucketed)
      root.listFiles().filter(_.getName.startsWith(TableStore.BucketCol + "="))
        .map(d => d.getName -> d.listFiles().map(_.getName).toSet).toMap
    }
    val before = bucketFiles()
    for (tgt <- Seq(flat, bucketed)) {
      val nb = if (tgt == bucketed) Some(n) else None
      ChangeTracking.trackHistoryUpsert(spark, b2, tgt, Seq("id"),
        orderBy = Seq("ts"), loadTsExpr = ts2, numBuckets = nb)
    }
    val after = bucketFiles()
    val touchedBuckets = Seq(4L, 12L).map { id =>
      Seq(id).toDF("id").select(graft.functions.Hashing.bucketOf(Seq("id"), n))
        .head().getInt(0)
    }.toSet
    before.keys.foreach { dir =>
      val b = dir.stripPrefix(TableStore.BucketCol + "=").toInt
      if (touchedBuckets.contains(b)) assert(before(dir) != after(dir),
        s"touched bucket $b should have been rewritten")
      else assert(before(dir) == after(dir),
        s"untouched bucket $b was rewritten")
    }
    // logical contents identical (modulo the physical bucket column)
    val f = readTgt(flat).orderBy("id", "version")
      .select("id", "val", "is_current", "version")
    val g = readTgt(bucketed).orderBy("id", "version")
      .select("id", "val", "is_current", "version")
    assert(f.collect().toSeq == g.collect().toSeq)
    assert(readTgt(bucketed).filter($"id" === 4L).count() == 2)
  }

  test("bucketed SCD1 matches flat results") {
    val flat = tmpTarget()
    val bucketed = tmpTarget()
    val b1 = (1L to 40L).map(i => (i, s"a$i")).toDF("id", "val")
    val b2 = Seq((3L, "zz"), (41L, "new")).toDF("id", "val")
    for ((tgt, nb) <- Seq((flat, None), (bucketed, Some(4)))) {
      ChangeTracking.currentOnlyUpsert(spark, b1, tgt, Seq("id"), numBuckets = nb)
      ChangeTracking.currentOnlyUpsert(spark, b2, tgt, Seq("id"), numBuckets = nb)
    }
    val f = readTgt(flat).orderBy("id").select("id", "val", "row_hash")
    val g = readTgt(bucketed).orderBy("id").select("id", "val", "row_hash")
    assert(f.collect().toSeq == g.collect().toSeq)
    assert(g.count() == 41)
  }
}
