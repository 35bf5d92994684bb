package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal-column plumbing: images/audio/video as opaque `binary`
  * columns with typed metadata, processed in batched partition iterators
  * (the JVM analogue of `mapInPandas` batches).
  *
  * The actual codec work is STUBBED — this container has no image/audio
  * libraries — behind [[StubCodec]]: a deterministic fake keyed off the
  * content's SHA-256 so the Spark-side plumbing (schema, batching,
  * partitioning, null handling) is real and testable, and results are
  * oracle-able. A production deployment swaps [[Codec]] for a JNI/library
  * implementation without touching the operator code.
  */
object Multimodal {

  /** Decoded media metadata. */
  val MetaSchema: StructType = StructType(Seq(
    StructField("format", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_bytes", LongType)))

  /** The codec seam: decode bytes → (format, width, height). */
  trait Codec extends Serializable {
    def decode(content: Array[Byte]): (String, Int, Int)
  }

  /** STUB: deterministic fake decode derived from the content digest.
    * format = {png,jpg,webp}[digest(0) % 3], width/height = 16 + 16·(digest
    * byte % 16). A real codec replaces this class.
    */
  object StubCodec extends Codec {
    private val formats = Array("png", "jpg", "webp")
    def decode(content: Array[Byte]): (String, Int, Int) = {
      val d = java.security.MessageDigest.getInstance("SHA-256").digest(content)
      (formats(java.lang.Byte.toUnsignedInt(d(0)) % 3),
        16 + (java.lang.Byte.toUnsignedInt(d(1)) % 16) * 16,
        16 + (java.lang.Byte.toUnsignedInt(d(2)) % 16) * 16)
    }
  }

  /** Append a decoded-metadata struct column for a binary content column.
    * Per-row codec invocation inside one mapPartitions pass; null
    * content → null meta. (A real Arrow/pandas-UDF codec would take the
    * whole batch in one call — the `Codec` seam is where that plugs in.)
    */
  def withDecodedMeta(
      df: DataFrame,
      contentCol: String,
      metaCol: String = "meta",
      codec: Codec = StubCodec,
      batchSize: Int = 64): DataFrame = {
    val idx = df.columns.indexOf(contentCol)
    require(idx >= 0, s"content column '$contentCol' missing")
    val outSchema = StructType(df.schema.fields :+ StructField(metaCol, MetaSchema))
    val c = codec
    df.mapPartitions { rows =>
      // plain per-row map: grouping into batches bought nothing while the
      // codec is invoked per row, and buffered binary payloads for free
      rows.map { r =>
        val bytes = r.get(idx).asInstanceOf[Array[Byte]]
        val meta = if (bytes == null) null else {
          val (fmt, w, h) = c.decode(bytes)
          Row(fmt, w, h, bytes.length.toLong)
        }
        Row.fromSeq(r.toSeq :+ meta)
      }
    }(RowEncoder.encoderFor(outSchema))
  }

  /** Sample up to `n` fixed-size "frames" (chunks) from a binary payload —
    * the video-frame-sampling operator shape. Pure expressions: substr over
    * binary works bytewise.
    */
  def frameSample(content: org.apache.spark.sql.Column, n: Int, frameBytes: Int)
      : org.apache.spark.sql.Column =
    filter(
      transform(sequence(lit(0), lit(n - 1)),
        i => content.substr(i * frameBytes + 1, lit(frameBytes))),
      f => length(f) > 0)

  /** Perceptual hash of a binary payload: `cells` samples, bit i set iff
    * sample i is strictly above the MEDIAN of all samples — pHash's
    * balance trick (the DCT family thresholds on the median precisely so
    * ~half the bits set regardless of the payload's value distribution).
    * A mean threshold is degenerate on real payloads: text bytes are
    * bimodal (space vs letter), the mean sits below every letter, ~5/6 of
    * bits come out 1, and the banded near-dup join melts down on the
    * all-ones hot bucket (measured: max band bucket 516 docs under mean
    * vs 22 under median at sf0.1).
    *
    * The DECODE step is the stub seam, as everywhere in this module: with
    * no codec in the container, "pixel" i is the raw byte at stride
    * position `i·n_bytes/cells` — a real deployment feeds the decoded
    * grayscale grid instead (classic pHash thresholds a 64-cell DCT
    * block; the default here is 60 so the fingerprint obeys the same
    * sign-free ≤60-bit long discipline as [[Dedup.simhash]], whose
    * banding and Hamming machinery it shares via
    * [[Dedup.hashNearDupPairs]]).
    *
    * Pure integer expressions end to end — sort the samples, compare to
    * the upper-middle element — so any engine reproduces the bits.
    * Unlike digest-based stubs this is locality-preserving for real:
    * payloads differing in a few bytes of equal length differ in few
    * cells, so near-dup pairing behaves like production pHash.
    * Empty/null/constant payloads hash to 0.
    */
  def perceptualHash(content: org.apache.spark.sql.Column, cells: Int = 60)
      : org.apache.spark.sql.Column = {
    require(cells >= 1 && cells <= 60, "cells must be in [1, 60] (long-packed, sign-free)")
    val n = length(content)
    // positions stride the payload; a byte is read back as its unsigned
    // value via hex→conv (no get_byte builtin)
    val samples = transform(sequence(lit(0), lit(cells - 1)), i =>
      coalesce(
        conv(hex(content.substr(
          (floor((i.cast("long") * n) / lit(cells)) + 1).cast("int"),
          lit(1))), 16, 10)
          .cast("long"),
        lit(0L)))
    // Bind samples and median ONCE as lambda variables (the one-element
    // struct-array trick): referenced naively from inside the bit-pack
    // lambda, the hex/conv sample array re-evaluates per BIT — O(cells²)
    // byte decodes per row, measured 15 s vs sub-second for the same
    // corpus. Lambda variables are bound attributes, evaluated once.
    val powers = array((0 until cells).map(b => lit(1L << b)): _*)
    val hash = transform(array(struct(samples.as("s"))), r1 =>
      transform(
        array(struct(r1.getField("s").as("s"),
          // upper-middle order statistic = exact median for odd cells,
          // the conventional pHash choice for even
          element_at(array_sort(r1.getField("s")), cells / 2 + 1).as("m"))),
        r2 => aggregate(
          zip_with(r2.getField("s"), powers,
            (c, p) => when(c > r2.getField("m"), p).otherwise(lit(0L))),
          lit(0L), (a, x) => a + x)
      ).getItem(0)
    ).getItem(0)
    when(content.isNull, lit(0L)).otherwise(hash)
  }

  /** Content-defined chunk table of a binary column: one row per chunk,
    * `(idCol, chunk_idx, chunk_offset, chunk_size, chunk_hash)` — the
    * sub-document dedup coordinate for large/multimodal payloads (two
    * crawls of the same video differing by a prepended metadata header
    * share every chunk after the edit window; fixed-size blocks would
    * share none). Boundaries are Gear-CDC
    * ([[graft.functions.GearChunks]]); null payloads produce no rows,
    * empty payloads one zero-length marker row is NOT emitted (nothing
    * to dedup).
    *
    * Shape: a codegen'd-fallback scalar expression + posexplode — one
    * scan, no shuffle; downstream `groupBy(chunk_hash)` is where dedup
    * pays its exchange, carrying (id, hash) pairs, never payload bytes.
    */
  def contentChunks(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      payloadCol: String,
      minSize: Int = 2048,
      avgSize: Int = 8192,
      maxSize: Int = 65536): org.apache.spark.sql.DataFrame = {
    df.select(col(idCol),
        posexplode(graft.functions.CdcFunctions.gearChunks(
          col(payloadCol), minSize, avgSize, maxSize))
          .as(Seq("chunk_idx", "__c")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        col("__c.offset").cast("long").as("chunk_offset"),
        col("__c.size").cast("long").as("chunk_size"),
        col("__c.hash").as("chunk_hash"))
  }

  /** Binary near-duplicate pairs by SHARED CHUNK BYTES: two payloads
    * pair when the Gear-CDC chunks they have in common cover at least
    * `threshold` of the smaller payload (containment semantics — a
    * video re-uploaded with a new metadata header, a tarball with one
    * member changed). Repeated chunks within a doc count ONCE (the
    * shared set is a set of distinct chunk hashes).
    *
    * Scale shape: the pair space is bounded by the chunk-hash join, and
    * chunks appearing in more than `maxChunkFreq` docs are excluded
    * from pairing ENTIRELY (the [[graft.operators.Dedup]] boilerplate-
    * cap discipline — a firmware blob embedded in a million archives
    * would otherwise create a quadratic hot hash; docs pairing only
    * through such universal chunks are not duplicates of each other).
    * Exchanges: one per side on the hash, one on the pair key — never a
    * payload-bytes shuffle (hashes and sizes travel, bytes don't).
    */
  def chunkOverlapPairs(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      payloadCol: String,
      threshold: Double,
      minSize: Int = 2048,
      avgSize: Int = 8192,
      maxSize: Int = 65536,
      maxChunkFreq: Int = 100): org.apache.spark.sql.DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0, 1], got $threshold")
    require(maxChunkFreq >= 2, s"maxChunkFreq must be >= 2, got $maxChunkFreq")
    val chunks = contentChunks(df, idCol, payloadCol, minSize, avgSize, maxSize)
      .select(col(idCol).as("__id"), col("chunk_hash").as("__h"),
        col("chunk_size").as("__sz"))
    // distinct (doc, hash): repeated chunks in one doc collapse; total
    // bytes per doc counts each distinct chunk once so frac <= 1 holds
    val docChunks = chunks.groupBy("__id", "__h")
      .agg(min(col("__sz")).as("__sz"))
    val totals = docChunks.groupBy("__id")
      .agg(sum(col("__sz")).as("__total"))
    // boilerplate cap as groupBy + semi join, NOT a per-hash window: the
    // window would pin a universal chunk's million rows into one
    // unsplittable partition exactly where the cap is supposed to save
    // us; the aggregate's map-side partials absorb the hot hash and the
    // join stays AQE-skew-splittable (the noveltyFrac discipline)
    val okHashes = docChunks.groupBy("__h")
      .agg(count(lit(1)).as("__freq"))
      .where(col("__freq") <= maxChunkFreq)
      .select("__h")
    val freqOk = docChunks.join(okHashes, Seq("__h"), "left_semi")
    val a = freqOk.select(col("__id").as("id_a"), col("__h"), col("__sz"))
    val b = freqOk.select(col("__id").as("id_b"), col("__h"))
    val shared = a.join(b, Seq("__h"))
      .where(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b")
      .agg(sum(col("__sz")).as("shared_bytes"))
    shared
      .join(totals.select(col("__id").as("id_a"), col("__total").as("__ta")), "id_a")
      .join(totals.select(col("__id").as("id_b"), col("__total").as("__tb")), "id_b")
      .withColumn("overlap_frac", round(
        col("shared_bytes") / least(col("__ta"), col("__tb")), 6))
      .where(col("overlap_frac") >= threshold)
      .select("id_a", "id_b", "shared_bytes", "overlap_frac")
  }
}
