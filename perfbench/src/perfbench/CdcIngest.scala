package perfbench

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.{ConcurrentHashMap, Executors}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.net.httpserver.{HttpExchange, HttpServer}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.connector.catalog.TableProvider
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

import graft.ct.ChangeTracking
import graft.operators.Validation
import graft.streaming.StreamingOps

/** Change-data-capture ingest: change batches are read through the REST
  * connector (resolved by provider class name) from a local paged HTTP
  * server that answers the first request for page 2 of each batch with
  * 429 and for page 3 with 503; each batch is upserted into an SCD2
  * (`trackHistoryUpsert`) and an SCD1 (`currentOnlyUpsert`) table, then
  * point-in-time `asOf` reads follow. The same change files, landed as
  * JSON lines, stream through a stat-log sink (`Trigger.AvailableNow`, one
  * file per micro-batch) that is compacted and read back beside its
  * `Validation` batch twin (per-tier exact score quantiles). The only
  * workload that writes beside reads, and the only one that reaches io,
  * ct, streaming and Validation.
  *
  * Batches: batch 1 loads [[Keys]] customers; every later batch updates
  * [[Updates]] existing keys (one in ten with unchanged values, a no-op
  * for SCD2) and inserts [[Inserts]] new ones. One row per key per batch.
  */
final class CdcIngest extends Workload {
  val Keys = 1000
  val Batches = 3
  val Updates = 150
  val Inserts = 50
  val PageSize = 100
  val Provider = "graft.io.rest.RestApiTableProvider"
  val Schema: StructType =
    StructType.fromDDL("id BIGINT, name STRING, tier STRING, city STRING, score BIGINT")
  val Tiers = Vector("bronze", "silver", "gold", "platinum")
  val Cities = Vector("lisbon", "oslo", "lima", "perth", "quito", "tunis", "hanoi", "accra")

  final case class Rec(id: Long, name: String, tier: String, city: String, score: Long) {
    def json: String =
      s"""{"id": $id, "name": "$name", "tier": "$tier", "city": "$city", "score": $score}"""
    def sameValues(o: Rec): Boolean = name == o.name && tier == o.tier && city == o.city && score == o.score
  }

  private var spark: SparkSession = _
  private var work: String = _
  private var batches: IndexedSeq[IndexedSeq[Rec]] = IndexedSeq.empty
  private var server: ChangeFeedServer = _
  private var inputBytes = 0L
  private var changesDf: DataFrame = _
  private var refStates: IndexedSeq[Map[Long, Rec]] = IndexedSeq.empty
  private var refVersions: Map[Long, Long] = Map.empty

  private def history = s"$work/ct/history"
  private def current = s"$work/ct/current"
  private def landing = s"$work/landing"
  private def statLog = s"$work/statlog"
  private def checkpoint = s"$work/stream-checkpoint"
  private def loadTs(b: Int) = f"TIMESTAMP '2024-01-$b%02d 00:00:00'"
  private def readTs(b: Int) = f"TIMESTAMP '2024-01-$b%02d 12:00:00'"

  // outputs of the last pass
  private var asOfOut: IndexedSeq[Seq[Rec]] = IndexedSeq.empty
  private var fromLog: Seq[Row] = Nil
  private var twin: Seq[Row] = Nil
  private var streamBatchMs: Seq[Long] = Nil
  private var filesWritten = 0L
  private val seenFiles = mutable.Set.empty[String]
  private var requests = (0L, 0L) // last traced pass: (requests, pages delivered)
  private var storage = (0L, 0L, 0L) // last traced pass: (files, history bytes, current bytes)

  def inputs: String =
    s"${batches.map(_.size).sum} change rows in $Batches batches of " +
      s"${batches.map(_.size).mkString("/")} rows, $inputBytes JSON bytes served per pass"

  def setup(spark: SparkSession, seed: Long, work: String): Unit = {
    this.spark = spark
    this.work = work
    // the connector must load by class name: the sources-only build has no
    // META-INF/services, so short names are unavailable by design
    val cls =
      try Class.forName(Provider)
      catch { case e: Throwable => throw new IllegalStateException(s"REST provider $Provider does not load: $e") }
    require(classOf[TableProvider].isAssignableFrom(cls), s"$Provider is not a DSv2 TableProvider")

    val rnd = new scala.util.Random(seed * 1000003L + 37)
    def rec(id: Long) = Rec(id, s"cust$id", Tiers(rnd.nextInt(Tiers.size)),
      Cities(rnd.nextInt(Cities.size)), rnd.nextInt(100000).toLong + 1)
    val first = (0L until Keys).map(rec)
    var live = first.map(r => r.id -> r).toMap
    var nextId = Keys.toLong
    val later = (2 to Batches).map { _ =>
      val ups = rnd.shuffle(live.keys.toVector.sorted).take(Updates).map { id =>
        if (rnd.nextInt(10) == 0) live(id) else rec(id).copy(name = live(id).name)
      }
      val ins = (0 until Inserts).map { _ => nextId += 1; rec(nextId) }
      val b = rnd.shuffle(ups ++ ins)
      live ++= b.map(r => r.id -> r)
      b
    }
    batches = first +: later
    // the reference: the live value per key after each batch, and the SCD2
    // version count per key (a new version only when a value changes)
    val fold = mutable.Map.empty[Long, Rec]
    val ver = mutable.Map.empty[Long, Long].withDefaultValue(0L)
    refStates = batches.map { b =>
      b.foreach { r => if (!fold.get(r.id).exists(_.sameValues(r))) { ver(r.id) += 1; fold(r.id) = r } }
      fold.toMap
    }
    refVersions = ver.toMap
    if (server != null) server.stop()
    server = new ChangeFeedServer(batches.zipWithIndex.flatMap { case (rows, i) =>
      rows.grouped(PageSize).zipWithIndex.map { case (page, p) =>
        (i + 1, p + 1) -> page.map(_.json).mkString("""{"records": [""", ", ", "]}")
      }
    }.toMap)
    inputBytes = server.totalBytes
    val dir = new java.io.File(landing)
    dir.mkdirs()
    batches.zipWithIndex.foreach { case (rows, i) =>
      java.nio.file.Files.write(new java.io.File(dir, f"changes-${i + 1}%03d.json").toPath,
        rows.map(_.json).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
    }
    changesDf = spark.createDataFrame(
      batches.flatten.map(r => Row(r.id, r.name, r.tier, r.city, r.score)).asJava, Schema)
  }

  override def reset(): Unit = {
    Seq(s"$work/ct", statLog, checkpoint).foreach(p => deleteTree(new java.io.File(p)))
    server.reset()
    seenFiles.clear()
    filesWritten = 0
  }

  private def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }

  private def dataFiles(root: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else if (f.getName.endsWith(".parquet")) Seq(f) else Nil
    walk(new java.io.File(root))
  }

  private def countNewFiles(): Unit = {
    val now = (dataFiles(history) ++ dataFiles(current)).map(_.getName)
    filesWritten += now.count(n => !seenFiles(n))
    seenFiles ++= now
  }

  private def restConfig(b: Int): String = {
    val pages = (batches(b - 1).size + PageSize - 1) / PageSize
    s"""{"sources": ["http://127.0.0.1:${server.port}/batch/$b"], "records_field": "records",""" +
      s""" "pagination": {"mode": "query", "param": "page", "start": 1, "stop": $pages},""" +
      """ "parallelism": 4, "max_retries": 3, "backoff_factor": 0.01, "timeout": 10, "infer_schema": false}"""
  }

  def pass(p: Pass): Unit = {
    (1 to Batches).foreach { b =>
      val batch = p.call("io.rest.read") {
        val rows = spark.read.format(Provider).schema(Schema)
          .option("graft.rest.config", restConfig(b)).load().collect()
        spark.createDataFrame(rows.toSeq.asJava, Schema)
      }
      p.call("ct.trackHistoryUpsert") {
        ChangeTracking.trackHistoryUpsert(spark, batch, history, Seq("id"), loadTsExpr = Some(loadTs(b)))
      }
      if (p.traced) countNewFiles()
      p.call("ct.currentOnlyUpsert") {
        ChangeTracking.currentOnlyUpsert(spark, batch, current, Seq("id"))
      }
      if (p.traced) countNewFiles()
    }
    asOfOut = (1 to Batches).map { b =>
      p.call("ct.asOf") {
        recs(ChangeTracking.asOf(spark, history, expr(readTs(b))).collect().toSeq)
      }
    }
    streamBatchMs = p.call("streaming.trimmedMeanSink") {
      val events = spark.readStream.schema(Schema).option("maxFilesPerTrigger", 1).json(landing)
      val q = StreamingOps.trimmedMeanSink(events, Seq("tier"), "score", statLog)
        .trigger(Trigger.AvailableNow()).option("checkpointLocation", checkpoint).start()
      q.awaitTermination()
      q.recentProgress.filter(_.numInputRows > 0).map(_.batchDuration).toSeq
    }
    p.call("streaming.compactStatLog") { StreamingOps.compactStatLog(spark, statLog) }
    fromLog = p.call("streaming.groupedQuantilesFromLog") {
      StreamingOps.groupedQuantilesFromLog(spark, statLog, Seq("tier")).collect().toSeq
    }
    twin = p.call("validation.groupedQuantiles") {
      Validation.groupedQuantiles(changesDf, Seq("tier"), "score").collect().toSeq
    }
    if (p.traced) {
      requests = (server.requests.get, server.delivered.get)
      storage = (filesWritten, dirBytes(history), dirBytes(current))
    }
  }

  private def dirBytes(root: String): Long = dataFiles(root).map(_.length).sum

  private def recs(rows: Seq[Row]): Seq[Rec] =
    rows.map(r => Rec(r.getAs[Long]("id"), r.getAs[String]("name"),
      r.getAs[String]("tier"), r.getAs[String]("city"), r.getAs[Long]("score")))

  private def readTable(path: String): Seq[Row] = spark.read.parquet(path).collect().toSeq

  def check(): Seq[String] = {
    val bad = mutable.ArrayBuffer.empty[String]
    def byId(rows: Seq[Rec]) = rows.map(r => r.id -> r).toMap
    val live = refStates.last
    // SCD1: exactly the folded latest value per key
    val cur = recs(readTable(current))
    if (cur.size != live.size || byId(cur) != live)
      bad += s"currentOnlyUpsert: ${cur.size} rows differ from the folded state of ${live.size} keys"
    // SCD2: exactly one current row per key, equal to the fold; versions as folded
    val hist = readTable(history)
    val currentRows = recs(hist.filter(_.getAs[Boolean]("is_current")))
    if (currentRows.size != live.size || byId(currentRows) != live)
      bad += s"trackHistoryUpsert: ${currentRows.size} current rows differ from the folded state of ${live.size} keys"
    val versions = hist.groupBy(_.getAs[Long]("id")).map { case (k, v) => k -> v.map(_.getAs[Long]("version")).max }
    if (versions != refVersions) bad += "trackHistoryUpsert: version counts differ from the fold"
    asOfOut.zip(refStates).zipWithIndex.foreach { case ((got, want), i) =>
      if (got.size != want.size || byId(got) != want)
        bad += s"asOf(batch ${i + 1}): ${got.size} rows, folded state has ${want.size}"
    }
    if (fromLog.isEmpty || !Refs.sameRows(fromLog, twin))
      bad += s"groupedQuantilesFromLog rows differ from the batch twin: $fromLog vs $twin"
    if (streamBatchMs.size != Batches) bad += s"stream ran ${streamBatchMs.size} micro-batches, expected $Batches"
    bad.toSeq
  }

  override def layerMetrics(traced: Seq[PassResult]): Map[String, (Double, String)] = {
    def med(xs: Seq[Double]) = Stats.median(xs)
    val ctWritten = traced.map(p => Seq("ct.trackHistoryUpsert", "ct.currentOnlyUpsert")
      .map(p.group(_).written).sum.toDouble)
    val (reqs, pages) = requests
    val (files, histBytes, curBytes) = storage
    Map(
      "io.rest.requests" -> (reqs.toDouble, "count"),
      "io.rest.retries" -> ((reqs - pages).toDouble, "count"),
      "io.rest.useful_ratio" -> (pages.toDouble / math.max(reqs, 1), "ratio"),
      "upsert_s" -> (med(traced.flatMap(p => p.spans.filter(_.name == "ct.trackHistoryUpsert").map(_.seconds))), "s"),
      "asof_s" -> (med(traced.flatMap(p => p.spans.filter(_.name == "ct.asOf").map(_.seconds))), "s"),
      "ct.bytes_written" -> (med(ctWritten), "B"),
      "ct.files_written" -> (files.toDouble, "count"),
      "ct.table_bytes" -> (histBytes.toDouble, "B"),
      "write_amp" -> (med(ctWritten) / inputBytes, "ratio"),
      "space_amp" -> (histBytes.toDouble / math.max(curBytes, 1), "ratio"),
      "stream_batch_s" -> (Stats.median(streamBatchMs.map(_ / 1000.0)), "s"))
  }

  override def close(): Unit = if (server != null) server.stop()
}

/** Paged change-feed server: `/batch/<b>?page=<p>` returns that page's
  * records; the first request of every pass for page 2 gets 429 and for
  * page 3 gets 503, so the connector's retry path runs at fixed pages. */
final class ChangeFeedServer(pages: Map[(Int, Int), String]) {
  val requests = new AtomicLong
  val delivered = new AtomicLong
  private val failedOnce = ConcurrentHashMap.newKeySet[(Int, Int)]()
  private val pool = Executors.newFixedThreadPool(4)
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", 0), 0)
  server.setExecutor(pool)
  server.createContext("/batch/", (ex: HttpExchange) => handle(ex))
  server.start()

  def port: Int = server.getAddress.getPort
  def totalBytes: Long = pages.values.map(_.getBytes(StandardCharsets.UTF_8).length.toLong).sum

  def reset(): Unit = { failedOnce.clear(); requests.set(0); delivered.set(0) }

  private def handle(ex: HttpExchange): Unit = {
    requests.incrementAndGet()
    val b = ex.getRequestURI.getPath.stripPrefix("/batch/").toInt
    val p = Option(ex.getRequestURI.getQuery).toSeq.flatMap(_.split("&"))
      .collectFirst { case kv if kv.startsWith("page=") => kv.drop(5).toInt }.getOrElse(1)
    val fault = if (p == 2) 429 else if (p == 3) 503 else 0
    val (status, body) =
      if (fault != 0 && failedOnce.add((b, p))) (fault, "{}")
      else pages.get((b, p)) match {
        case Some(json) => delivered.incrementAndGet(); (200, json)
        case None => (404, "{}")
      }
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.getResponseHeaders.add("Content-Type", "application/json")
    ex.sendResponseHeaders(status, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  def stop(): Unit = { server.stop(0); pool.shutdownNow() }
}
