package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.core.Determinism._
import java.io.{BufferedInputStream, BufferedOutputStream, ByteArrayInputStream, DataInputStream, DataOutputStream, EOFException, InputStream}
import java.util.zip.{GZIPInputStream, GZIPOutputStream}

/** Reader (and fixture-grade writer) for the reference's at-rest archive
  * format: gzipped baldr record streams laid out Hive-style as
  * `{group}/{topic}/partition=N/{first-offset %010d}.baldr.gz`
  * (layout: s3.clj:15-20, azureblob.clj:13-18; writer: kafka.clj:69-82;
  * format: README.md:18-20 — "a minimal design", length-prefixed record
  * frames with no indexing, gzipped before upload).
  *
  * WHY a reader: the engine's own archive is columnar (SURVEY §1.3 —
  * Parquet replaces baldr+gzip, deliberately), but a migrating bifrost
  * user's first query runs against YEARS of existing baldr.gz objects.
  * Reading that estate back is an analysis capability, not format
  * fidelity; writing stays Parquet-first (this module's writer exists to
  * build archives for round-trip proof and migration tests — it mirrors
  * the reference's rotation/naming semantics so the reader is exercised
  * against the real layout).
  *
  * Frame encoding: each record is one 8-byte BIG-ENDIAN length header
  * followed by the payload bytes (the JVM `DataOutputStream.writeLong`
  * framing a minimal length-prefixed stream lands on; the public format
  * description pins "length-prefixed, no index, gzipped" but not the
  * header width/endianness — [[frameReader]] is the single seam to
  * adjust against a particular archive generation).
  *
  * Scale shape: one task per file via the built-in `binaryFile` source —
  * an archive of N rotated objects decodes with N-way parallelism and
  * zero shuffles; the per-file payload is bounded by the reference's own
  * rotation envelope (60 s of one partition's traffic,
  * etc/config.example.edn:10), so whole-file bytes in memory is the
  * format's contract, not a reader shortcut. Corrupt or truncated
  * objects (at archive scale there are always some) surface as loud
  * `decode_ok = false` rows — frames already decoded from the same file
  * are kept (gzip + framing are sequential: a truncated tail never
  * corrupts decoded prefixes), the error row pins (topic, partition,
  * file) so the operator can re-fetch exactly the damaged object. */
object Baldr {

  // ------------------------------------------------------------ codec

  /** Append `value` to `out` as one baldr frame. */
  def writeFrame(out: DataOutputStream, value: Array[Byte]): Unit = {
    out.writeLong(value.length.toLong)
    out.write(value)
  }

  /** Iterate the frames of one decoded (un-gzipped) baldr stream.
    * Clean EOF at a frame boundary ends the iterator; EOF inside a
    * header or payload — a truncated object — throws EOFException for
    * the caller's honesty row. A negative or absurd length (bit rot in
    * the header) throws likewise rather than allocating. */
  def frameReader(in: InputStream, maxFrameBytes: Long = 1L << 30): Iterator[Array[Byte]] = {
    val din = new DataInputStream(in)
    new Iterator[Array[Byte]] {
      private var nextFrame: Array[Byte] = _
      private var done = false
      private def advance(): Unit = {
        val b0 = din.read()
        if (b0 < 0) { done = true; return } // clean EOF at boundary
        var len = b0.toLong
        var i = 0
        while (i < 7) { // remaining 7 header bytes, big-endian
          val b = din.read()
          if (b < 0) throw new EOFException("truncated frame header")
          len = (len << 8) | b.toLong
          i += 1
        }
        if (len < 0 || len > maxFrameBytes)
          throw new EOFException(s"implausible frame length $len")
        val buf = new Array[Byte](len.toInt)
        din.readFully(buf) // EOFException on payload truncation
        nextFrame = buf
      }
      def hasNext: Boolean = {
        if (!done && nextFrame == null) advance()
        !done && nextFrame != null
      }
      def next(): Array[Byte] = {
        if (!hasNext) throw new NoSuchElementException
        val f = nextFrame; nextFrame = null; f
      }
    }
  }

  // ----------------------------------------------------------- writer

  /** Object key inside the archive root — the reference's exact layout
    * (s3.clj:15-20): zero-padding makes lexicographic key order = offset
    * order, the property every offset-range scan of the estate leans on. */
  def objectKey(group: String, topic: String, partition: Int,
                firstOffset: Long): String =
    f"$group/$topic/partition=$partition/$firstOffset%010d.baldr.gz"

  /** Distributed archive writer: `df` must carry (topic: string,
    * partition: int, offset: long, value: binary). One gzipped baldr
    * object per (topic, partition, ⌊offset/recordsPerFile⌋) — the
    * rotation boundary plays the reference's 60 s timer — named by its
    * first offset. Executors write files directly (the staging-then-
    * upload FSM of s3.clj:40-80 collapses into the file system /
    * object-store committer); groups are routed by hash and laid out
    * contiguously by an in-partition sort, so each task streams each of
    * its objects exactly once, holding ONE open frame writer at a time. */
  def writeArchive(df: DataFrame, root: String, group: String,
                   recordsPerFile: Long): Unit = {
    require(recordsPerFile > 0)
    df.select(col("topic"), col("partition").cast("int"),
        col("offset").cast("long"), col("value"))
      .withColumn("file_first",
        (col("offset") - pmod(col("offset"), lit(recordsPerFile))).cast("long"))
      .repartition(col("topic"), col("partition"))
      .sortWithinPartitions("topic", "partition", "offset")
      .foreachPartition { rows: Iterator[Row] =>
        var cur: (String, Int, Long) = null
        var out: DataOutputStream = null
        def close(): Unit = if (out != null) { out.close(); out = null }
        rows.foreach { r =>
          val key = (r.getString(0), r.getInt(1), r.getLong(4))
          if (key != cur) {
            close()
            cur = key
            val f = new java.io.File(root,
              objectKey(group, key._1, key._2, key._3))
            f.getParentFile.mkdirs()
            out = new DataOutputStream(new GZIPOutputStream(
              new BufferedOutputStream(new java.io.FileOutputStream(f))))
          }
          writeFrame(out, r.getAs[Array[Byte]](3))
        }
        close()
      }
  }

  // ----------------------------------------------------------- reader

  /** One decoded archive row. `seq` is the frame's position inside its
    * object; baldr stores no per-record offset (only the file name's
    * first offset survives, kafka.clj:65-71), so `offset` is the
    * reconstruction `first_offset + seq` — exact whenever the archived
    * partition's offsets were contiguous (the normal case: bifrost
    * archives every message it consumes), an ordinal otherwise. */
  val archiveSchema: StructType = StructType(Seq(
    StructField("topic", StringType, nullable = false),
    StructField("partition", IntegerType, nullable = false),
    StructField("file_first_offset", LongType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("offset", LongType, nullable = true),
    StructField("value", BinaryType, nullable = true),
    StructField("decode_ok", BooleanType, nullable = false)))

  private val KeyRe =
    """.*/([^/]+)/partition=(\d+)/(\d+)\.baldr\.gz$""".r

  /** Read a bifrost archive back as a DataFrame: every `.baldr.gz`
    * object under `root/group`, one row per record (+ one
    * `decode_ok = false` row per damaged object, carrying the count of
    * frames salvaged before the damage in `seq`). Files whose path does
    * not match the reference layout are skipped at the listing by the
    * glob, not read. */
  def readArchive(spark: SparkSession, root: String, group: String): DataFrame = {
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder
      .encoderFor(archiveSchema)
    spark.read.format("binaryFile")
      .load(s"$root/$group/*/partition=*/*.baldr.gz")
      .select(col("path"), col("content"))
      .mapPartitions { files =>
        files.flatMap { f =>
          val (topic, part, first) = f.getString(0) match {
            case KeyRe(t, p, o) => (t, p.toInt, o.toLong)
            case _ => ("_unparsed", -1, -1L)
          }
          val decoded = scala.collection.mutable.ArrayBuffer.empty[Row]
          var seq = 0L
          try {
            val in = new GZIPInputStream(new BufferedInputStream(
              new ByteArrayInputStream(f.getAs[Array[Byte]](1))))
            frameReader(in).foreach { v =>
              decoded += Row(topic, part, first, seq, first + seq, v, true)
              seq += 1
            }
            decoded
          } catch {
            case _: Throwable =>
              // truncated gzip / torn frame: keep the salvaged prefix,
              // append ONE loud error row naming the object (q272's
              // corrupt-bytes honesty pattern — never a job failure)
              decoded += Row(topic, part, first, seq, null, null, false)
              decoded
          }
        }
      }(enc)
  }

  // ------------------------------------------------------------- q295

  /** q295: full migration round-trip against the reference's own layout.
    * The events table becomes a topic/partition/offset stream (dense
    * per-partition offsets, the Kafka shape), is archived through
    * [[writeArchive]] — gzipped baldr frames, offset-named rotated
    * objects, Hive partition dirs — plus one deliberately TRUNCATED
    * object under its own topic; [[readArchive]] decodes the estate
    * back. Readout per topic: object/partition/record counts, a content
    * checksum over the decoded payload bytes, the max reconstructed
    * offset, and the damaged-object count. The oracle recomputes all of
    * it straight from events (rotation arithmetic included) with the
    * corrupt topic's row spelled literally — a hash match proves every
    * payload byte survived framing+gzip+rotation and the damage
    * surfaced exactly once, exactly where planted. */
  def baldrRoundTrip(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tmp = java.nio.file.Files.createTempDirectory("graft-baldr").toString
    val src = graft.core.Tables.load(spark, dir, "events")
      .select(col("event_type").as("topic"),
        (col("user_id") % 4).cast("int").as("partition"),
        col("event_id"))
      .withColumn("offset", row_number().over(
        Window.partitionBy("topic", "partition").orderBy("event_id"))
        .cast("long") - 1)
      .withColumn("value",
        encode(concat(col("event_id").cast("string"), lit("|"), col("topic")),
          "UTF-8"))
      .drop("event_id")
    // rotation sized to the corpus (q75's discipline): ~256 objects at
    // any sf, never thousands of tiny gzip streams timing the file system
    val total = src.count()
    val rpf = math.max(256L, total / 256L)
    writeArchive(src, tmp, "graft", rpf)
    // the planted damage: a gzip stream cut mid-member under its own
    // topic — decodes to zero frames and must surface as ONE error row
    val corrupt = new java.io.File(tmp, objectKey("graft", "corrupt_topic", 0, 0L))
    corrupt.getParentFile.mkdirs()
    java.nio.file.Files.write(corrupt.toPath,
      Array[Byte](0x1f, 0x8b.toByte, 0x08, 0x00, 0x00))
    readArchive(spark, tmp, "graft")
      .groupBy("topic")
      .agg(
        countDistinct(col("partition"), col("file_first_offset")).as("n_files"),
        countDistinct(col("partition")).as("n_partitions"),
        count(when(col("decode_ok"), 1)).as("n_records"),
        coalesce(sum(when(col("decode_ok"),
          xhash(decode(col("value"), "UTF-8")) % lit(1000000007L))), lit(0L))
          .as("checksum"),
        coalesce(max(col("offset")), lit(-1L)).as("max_offset"),
        count(when(!col("decode_ok"), 1)).as("n_bad"))
      .orderBy("topic")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q295_baldr_roundtrip" -> baldrRoundTrip _
  )

  val oracles: Map[String, String] = Map(
    "q295_baldr_roundtrip" -> s"""
      WITH src AS (
        SELECT event_type AS topic, CAST(user_id % 4 AS INT) AS part,
               event_id
        FROM events),
      r AS (SELECT GREATEST(256, (SELECT count(1) FROM src) // 256) AS rpf),
      pc AS (SELECT topic, part, count(1) AS cnt FROM src GROUP BY 1, 2),
      agg AS (
        SELECT topic,
          CAST(sum((cnt + rpf - 1) // rpf) AS BIGINT) AS n_files,
          CAST(count(1) AS BIGINT) AS n_partitions,
          CAST(sum(cnt) AS BIGINT) AS n_records,
          CAST(max(cnt) - 1 AS BIGINT) AS max_offset
        FROM pc CROSS JOIN r GROUP BY topic),
      chk AS (
        SELECT event_type AS topic,
          sum(${xhashSql("event_id::VARCHAR || '|' || event_type")}
            % 1000000007)::BIGINT AS checksum
        FROM events GROUP BY 1)
      SELECT a.topic, a.n_files, a.n_partitions, a.n_records, c.checksum,
             a.max_offset, CAST(0 AS BIGINT) AS n_bad
      FROM agg a JOIN chk c USING (topic)
      UNION ALL
      SELECT 'corrupt_topic', 1, 1, 0, 0, -1, 1
      ORDER BY topic"""
  )
}
