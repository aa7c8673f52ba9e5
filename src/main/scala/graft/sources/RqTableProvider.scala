package graft.sources

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, SupportsTruncate, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.{BinaryType, DataType, StringType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.formats.{ByteOut, JsonCodec, MsgPackCodec, Value}

/** DataSource V2 provider for rq record streams (SURVEY §2.1/§2.2,
  * §4.3): `spark.read.format("rq").option("recordFormat", fmt)
  * .load(path)` yields one row per record in a single `value` column;
  * the writer encodes each row into the target format, one output file
  * per partition.
  *
  * Row forms. A frame's schema selects one of two; a read takes the
  * user schema (`.schema(...)`, batch or streaming), a write the schema
  * of the written frame, and any other schema is rejected:
  *  - `value STRING`, the default: the record's canonical JSON text
  *    (`JsonCodec.emit`), which the writer parses back.
  *  - `value BINARY`: msgpack of `JsonCodec.normalize(v)`, i.e. of the
  *    value the JSON text would parse back to, so both forms write the
  *    same bytes. `RqEngine.run` uses it to skip the JSON emit and
  *    parse. The writer hands each row to
  *    `RecordEncoder.writeMsgPack`: the msgpack sink copies it
  *    unchanged (encode ∘ decode is the identity on encode's output),
  *    the other sinks decode it. Both first check that the row is one
  *    msgpack value in `encode`'s canonical form without bin/ext/f32
  *    markers ([[MsgPackCodec.isRowValue]]), so the copy is the bytes
  *    decoding and re-encoding would give, and fail the task with
  *    [[InvalidRowException]] if it is not, or if the row is null.
  *
  * Scale notes: concatenated varlen binary streams (msgpack/cbor) and
  * whole-document formats (toml/yaml) carry no sync markers, so the
  * BASE parallelism is per-FILE (one InputPartition each) — exactly
  * how Spark's own multiLine JSON behaves. Record-stream shards
  * written with the `frameEvery` option additionally carry an
  * [[RqFrameIndex]] sidecar and split into one InputPartition per
  * frame, so a few huge files no longer serialize the read; files
  * without a sidecar (and all compressed/whole-doc inputs) keep the
  * per-file path. Decoding is per-partition streaming with no driver
  * involvement.
  *
  * Hadoop configuration: the planner, readers, writers, truncate and
  * the micro-batch source all use one `Configuration` per JVM
  * ([[RqTableProvider.hadoopConf]]), not a new one per reader or
  * writer.
  */
class RqTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "rq"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    RqTableProvider.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new RqTable(properties.asScala.toMap, RqTableProvider.binaryRows(schema))

  override def supportsExternalMetadata(): Boolean = true
}

/** Record-boundary frame index for splittable binary rq inputs
  * (VERDICT r8 #4): concatenated varlen streams (msgpack/cbor — and
  * equally NDJSON/csv/raw) carry no sync markers, so a single huge
  * file is otherwise one InputPartition. The WRITER (which is the one
  * party that knows record boundaries for free) emits a hidden
  * sidecar `.<shard>.rqx` of byte offsets at record boundaries every
  * `frameEvery` bytes, each the encoder's position right after a
  * record (`RecordEncoder.position`), so marks do not depend on when
  * the encoder's buffer reaches the file. The reader splits the file
  * into one InputPartition per frame when the sidecar is present and
  * the file is uncompressed, and falls back to per-file otherwise —
  * reference semantics and old files untouched. A crash between data
  * commit and sidecar write just loses the split hints, never
  * correctness.
  *
  * Sidecar format: line 1 `rqx1`, then one decimal offset per line
  * (strictly increasing, each the byte position of a record start).
  * Offsets depend only on the records and `frameEvery`. Older writers
  * marked at buffer flushes, so their sidecars hold other offsets for
  * the same data bytes; both are record starts and read the same.
  */
object RqFrameIndex {
  val Magic = "rqx1"

  /** Formats whose encoded output is a plain record concatenation —
    * the ones a byte-offset split is valid for. toml/yaml are
    * whole-document, avro is its own container.
    */
  val Splittable: Set[String] = Set("json", "csv", "raw", "msgpack", "cbor")

  def sidecarPath(file: Path): Path =
    new Path(file.getParent, "." + file.getName + ".rqx")

  def write(fs: org.apache.hadoop.fs.FileSystem, file: Path,
      offsets: Seq[Long]): Unit = {
    val out = fs.create(sidecarPath(file), true)
    try {
      val sb = new StringBuilder(Magic).append('\n')
      offsets.foreach(o => sb.append(o).append('\n'))
      out.write(sb.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    } finally out.close()
  }

  /** Offsets from a sidecar, or None (absent/unreadable/foreign —
    * every failure mode degrades to the unsplit read).
    */
  def read(fs: org.apache.hadoop.fs.FileSystem,
      file: Path): Option[Array[Long]] = {
    val sc = sidecarPath(file)
    try {
      if (!fs.exists(sc)) return None
      val in = fs.open(sc)
      try {
        val lines = scala.io.Source.fromInputStream(in, "UTF-8")
          .getLines().toArray
        if (lines.isEmpty || lines.head != Magic) return None
        val offs = lines.tail.filter(_.nonEmpty).map(_.toLong)
        if (offs.sorted.sameElements(offs)) Some(offs) else None
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }
  }
}

/** Reads at most `limit` bytes from `in` — the per-split window of a
  * frame-indexed file; record boundaries align with window edges by
  * sidecar construction, so the decoder's clean-EOF contract ends the
  * split exactly.
  */
private[sources] final class BoundedInputStream(in: java.io.InputStream,
    private var remaining: Long) extends java.io.InputStream {
  override def read(): Int =
    if (remaining <= 0) -1
    else { val b = in.read(); if (b >= 0) remaining -= 1; b }
  override def read(b: Array[Byte], off: Int, len: Int): Int =
    if (remaining <= 0) -1
    else {
      val n = in.read(b, off, math.min(len.toLong, remaining).toInt)
      if (n > 0) remaining -= n
      n
    }
  override def close(): Unit = in.close()
}

object RqTableProvider {
  val schema: StructType = rowSchema(StringType)
  val binarySchema: StructType = rowSchema(BinaryType)

  private def rowSchema(t: DataType): StructType =
    StructType(Seq(StructField("value", t, nullable = false)))

  /** Whether `schema` selects the binary row form (see the provider). */
  def binaryRows(schema: StructType): Boolean = schema.fields match {
    case Array(StructField(n, t, _, _)) if n.equalsIgnoreCase("value") &&
        (t == StringType || t == BinaryType) => t == BinaryType
    case _ => throw new IllegalArgumentException(
      "rq: a record frame is one column, `value STRING` (JSON text) or " +
        s"`value BINARY` (msgpack), got ${schema.simpleString}; " +
        "RqEngine.write converts other frames")
  }

  /** The one Hadoop `Configuration` of this JVM, for every
    * `getFileSystem` of the planner, reader, writer, truncate and
    * micro-batch source. Building one parses `core-default.xml` and
    * searches the classpath for `core-site.xml`, so it is built once,
    * not per reader and writer; it is only read after that, so tasks
    * share it.
    */
  lazy val hadoopConf: Configuration = new Configuration()

  /** Extension→codec mapping is static; share one factory instead of
    * paying a codec registry scan per partition reader (millions of
    * small files = millions of readers).
    */
  lazy val codecFactory: org.apache.hadoop.io.compress.CompressionCodecFactory =
    new org.apache.hadoop.io.compress.CompressionCodecFactory(hadoopConf)

  def opts(options: Map[String, String]): (String, String, Map[String, String]) = {
    val path = options.getOrElse("path",
      throw new IllegalArgumentException("rq source requires a path"))
    val fmt = options.getOrElse("recordformat",
      options.getOrElse("recordFormat", "json"))
    (path, fmt, options)
  }
}

final class RqTable(properties: Map[String, String], binary: Boolean)
    extends Table with SupportsRead with SupportsWrite {

  private val props = properties.map { case (k, v) => k.toLowerCase -> v }

  override def name(): String = s"rq(${props.getOrElse("path", "?")})"
  override def schema(): StructType =
    if (binary) RqTableProvider.binarySchema else RqTableProvider.schema
  // ACCEPT_ANY_SCHEMA: a write's row form is the written frame's schema,
  // checked in newWriteBuilder; Spark would otherwise resolve the frame
  // against the STRING schema that getTable infers for a write
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.BATCH_WRITE,
      TableCapability.TRUNCATE, TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE, TableCapability.ACCEPT_ANY_SCHEMA)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan with Batch
        with org.apache.spark.sql.connector.read.SupportsPushDownLimit {
      private val merged = props ++ options.asScala.map {
        case (k, v) => k.toLowerCase -> v }
      // LIMIT pushdown: each partition reader stops decoding after
      // `limit` records (partial push — Spark keeps its global Limit),
      // so `read.format("rq").load(huge.gz).limit(5)` decodes a few
      // records instead of the whole stream.
      private var pushedLimit: Option[Int] = None
      override def pushLimit(limit: Int): Boolean = {
        pushedLimit = Some(limit); true
      }
      override def isPartiallyPushed: Boolean = true

      override def build(): Scan = this
      override def readSchema(): StructType = schema()
      override def toBatch: Batch = this
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
        new RqMicroBatchStream(merged, binary)
      override def description(): String =
        s"rq(${merged.getOrElse("path", "?")})" +
          pushedLimit.map(l => s" PushedLimit: $l").getOrElse("")

      override def planInputPartitions(): Array[InputPartition] = {
        val (path, fmt, o) = RqTableProvider.opts(merged)
        val fs = new Path(path).getFileSystem(RqTableProvider.hadoopConf)
        val files = {
          val p = new Path(path)
          if (fs.getFileStatus(p).isDirectory)
            fs.listStatus(p).filter(_.isFile).map(_.getPath)
              .filterNot(f => f.getName.startsWith("_") ||
                f.getName.startsWith(".")) // hidden + in-flight temps
              .sortBy(_.toString)
          else Array(p)
        }
        files.flatMap { f =>
          // frame-indexed split: only uncompressed record-stream
          // files with a valid sidecar; everything else keeps the
          // proven one-partition-per-file path. A pushed LIMIT keeps
          // its per-partition meaning (each split stops after n).
          val splits =
            if (RqFrameIndex.Splittable(fmt) &&
                RqTableProvider.codecFactory.getCodec(f) == null)
              RqFrameIndex.read(fs, f)
            else None
          splits match {
            case Some(offs) if offs.nonEmpty =>
              val len = fs.getFileStatus(f).getLen
              val bounds = (0L +: offs.filter(x => x > 0 && x < len)
                .distinct.toSeq) :+ len
              bounds.sliding(2).collect {
                case Seq(s, e) if e > s =>
                  RqInputPartition(f.toString, fmt, o, binary, pushedLimit,
                    s, e): InputPartition
              }.toSeq
            case _ =>
              Seq(RqInputPartition(f.toString, fmt, o, binary, pushedLimit)
                : InputPartition)
          }
        }.toArray
      }

      override def createReaderFactory(): PartitionReaderFactory =
        RqReaderFactory()
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val merged = props ++ info.options.asScala.map {
      case (k, v) => k.toLowerCase -> v }
    val binaryIn = RqTableProvider.binaryRows(info.schema())
    new WriteBuilder with SupportsTruncate {
      private var doTruncate = false
      override def truncate(): WriteBuilder = { doTruncate = true; this }
      override def build(): Write = new Write {
        override def toBatch: BatchWrite =
          new RqBatchWrite(merged, binaryIn, doTruncate)
        override def toStreaming: streaming.StreamingWrite =
          new RqStreamingWrite(merged, binaryIn)
      }
    }
  }
}

/** Streaming sink: `df.writeStream.format("rq")...` — the full
  * reference pipeline shape (unbounded in → rq-format out). Each
  * epoch's partitions write epoch-unique shards through the same
  * streaming per-record encoders as the batch path.
  */
final class RqStreamingWrite(options: Map[String, String], binary: Boolean)
    extends streaming.StreamingWrite {
  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): streaming.StreamingDataWriterFactory =
    RqStreamingWriterFactory(options, binary)
  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = ()
}

final case class RqStreamingWriterFactory(options: Map[String, String],
    binary: Boolean) extends streaming.StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new RqDataWriter(options, binary,
      f"part-$epochId%05d-$partitionId%05d", taskId)
}

/** `binary` selects the row form; `start`/`end` bound a frame-indexed
  * byte range; end = -1 means the whole file (the unsplit path).
  */
final case class RqInputPartition(file: String, format: String,
    options: Map[String, String], binary: Boolean,
    limit: Option[Int] = None, start: Long = 0L, end: Long = -1L)
    extends InputPartition

final case class RqReaderFactory() extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] =
    new RqPartitionReader(p.asInstanceOf[RqInputPartition])
}

final class RqPartitionReader(part: RqInputPartition)
    extends PartitionReader[InternalRow] {
  private val stream: java.io.InputStream = {
    val p = new Path(part.file)
    val raw = p.getFileSystem(RqTableProvider.hadoopConf).open(p)
    if (part.end >= 0) {
      // frame-indexed split: seek to the record boundary and read
      // the window only (splits are never compressed — the planner
      // gates on codec == null)
      raw.seek(part.start)
      new BoundedInputStream(raw, part.end - part.start)
    } else {
      // transparent decompression by extension (.gz/.bz2/...), exactly
      // like Hadoop text inputs — crawl dumps arrive compressed;
      // decompression composes with the incremental decode below
      val codec = RqTableProvider.codecFactory.getCodec(p)
      if (codec != null) codec.createInputStream(raw) else raw
    }
  }
  // incremental decode straight off the open FS stream: one record in
  // flight, constant memory per task regardless of file size (only
  // toml/yaml/protobuf slurp, by their whole-document semantics);
  // a pushed LIMIT stops the decode loop after n records per partition
  private val records: Iterator[Value] = {
    val all = RqFormat.decodeStream(part.format, stream, part.options)
    part.limit.fold(all)(all.take)
  }
  private val toRow: Value => InternalRow =
    if (part.binary) {
      val buf = ByteOut() // one row buffer per reader
      v => {
        buf.reset()
        MsgPackCodec.encodeTo(JsonCodec.normalize(v), buf)
        InternalRow(buf.toByteArray)
      }
    } else v => InternalRow(UTF8String.fromString(JsonCodec.emit(v)))
  private var current: InternalRow = _

  override def next(): Boolean = {
    if (records.hasNext) {
      current = toRow(records.next())
      true
    } else false
  }
  override def get(): InternalRow = current
  override def close(): Unit = stream.close()
}

final class RqBatchWrite(options: Map[String, String], binary: Boolean,
    truncate: Boolean) extends BatchWrite {
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = {
    if (truncate) {
      // a REAL truncate: clear prior shards driver-side before tasks
      // launch. Relying on same-filename replacement is not enough —
      // partition counts or the compression extension can change
      // between runs, leaving stale shards that double-read later.
      val (dir, _, _) = RqTableProvider.opts(options)
      val d = new Path(dir)
      val fs = d.getFileSystem(RqTableProvider.hadoopConf)
      // sweep data shards AND .rqx frame sidecars: a stale sidecar
      // surviving a truncate would split the NEXT run's same-named
      // shard at the OLD file's byte offsets (silent mid-record
      // corruption). Other dot/underscore files (in-flight attempt
      // temps, markers) stay untouched.
      if (fs.exists(d)) fs.listStatus(d).filter(_.isFile).map(_.getPath)
        .filterNot(p => (p.getName.startsWith("_") ||
          p.getName.startsWith(".")) && !p.getName.endsWith(".rqx"))
        .foreach(fs.delete(_, false))
    }
    RqWriterFactory(options, binary)
  }
  override def commit(messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(messages: Array[WriterCommitMessage]): Unit = ()
}

final case class RqWriterFactory(options: Map[String, String],
    binary: Boolean) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new RqDataWriter(options, binary, f"part-$partitionId%05d", taskId)
}

final class RqDataWriter(options: Map[String, String], binary: Boolean,
    baseName: String, taskId: Long) extends DataWriter[InternalRow] {

  private val (dir, fmt, _) = RqTableProvider.opts(options)
  // optional whole-file compression (option "compression": gzip|none);
  // the reader auto-detects by extension
  private val gzip = options.get("compression").map(_.toLowerCase) match {
    case Some("gzip") => true
    case None | Some("none") => false
    case Some(other) => throw new IllegalArgumentException(
      s"rq sink: unsupported compression $other (gzip|none)")
  }
  private val ext = (fmt match {
    case "json" => "json"; case "msgpack" => "mp"; case "cbor" => "cbor"
    case "raw" => "txt"; case "yaml" => "yaml"; case "toml" => "toml"
    case "avro" => "avro"; case "csv" => "csv"; case other => other
  }) + (if (gzip) ".gz" else "")
  // Streaming sink: the file opens on the FIRST record (empty
  // partitions emit nothing — record-per-file formats would otherwise
  // produce empty shards, avro header-only files) and every record is
  // encoded into the open stream through the encoder's 64 KiB window.
  // No partition-sized buffer: a 100 GB partition needs one record and
  // one window of executor memory.
  //
  // Attempt safety: records stream into an ATTEMPT-UNIQUE temp file
  // (dot-prefixed → invisible to the reader's listing); commit()
  // renames it onto the final shard name. Concurrent speculative /
  // zombie attempts of the same partition therefore never touch each
  // other's bytes, and abort() deletes only this attempt's temp.
  // Spark's commit coordinator admits one commit per partition, so the
  // rename target is written exactly once.
  private val finalPath = new Path(dir, s"$baseName.$ext")
  private val tmpPath = new Path(dir, s".$baseName-attempt-$taskId.$ext.tmp")
  private var out: java.io.OutputStream = _
  private var enc: RqFormat.RecordEncoder = _
  // frame index (option "frameEvery", bytes): record a boundary
  // offset roughly every frameEvery bytes so the committed shard
  // splits into N InputPartitions on read. Writer-side framing is
  // free — the encoder IS the party that knows where records end
  // (its position); only uncompressed record-stream formats qualify.
  private val frameEvery: Long =
    options.get("frameevery").map(_.toLong).getOrElse(0L)
  private val framing =
    frameEvery > 0 && !gzip && RqFrameIndex.Splittable(fmt)
  private var lastMark = 0L
  private val marks = scala.collection.mutable.ArrayBuffer.empty[Long]

  override def write(record: InternalRow): Unit = {
    // ACCEPT_ANY_SCHEMA drops Spark's not-null check on `value`
    if (record.isNullAt(0))
      throw new InvalidRowException("rq sink: null `value` row")
    if (enc == null) {
      val raw = tmpPath.getFileSystem(RqTableProvider.hadoopConf)
        .create(tmpPath, true)
      out = if (gzip) new java.util.zip.GZIPOutputStream(raw, 1 << 16)
        else raw
      enc = RqFormat.encoder(fmt, out, options)
    }
    if (binary) enc.writeMsgPack(record.getBinary(0))
    else enc.write(JsonCodec.parse(record.getUTF8String(0).toString))
    // the encoder's position after a record is that record's end, so
    // a mark never depends on when the encoder passes bytes to `out`
    if (framing && enc.position - lastMark >= frameEvery) {
      lastMark = enc.position
      marks += lastMark
    }
  }

  override def commit(): WriterCommitMessage = {
    if (enc != null) {
      enc.finish()
      out.close() // closes the full wrapper chain incl. gzip trailer
      enc = null; out = null
      val fs = finalPath.getFileSystem(RqTableProvider.hadoopConf)
      fs.delete(finalPath, false) // clear any stale shard, then move
      if (!fs.rename(tmpPath, finalPath))
        throw new java.io.IOException(
          s"rq sink: failed to commit $tmpPath -> $finalPath")
      if (framing && marks.nonEmpty)
        RqFrameIndex.write(fs, finalPath, marks.toSeq)
      else
        // overwrite of a previously-framed shard with an unframed one
        // (no frameEvery / gzip / no marks): a surviving stale sidecar
        // would split the new bytes at the old offsets — remove it
        fs.delete(RqFrameIndex.sidecarPath(finalPath), false)
    }
    new WriterCommitMessage {}
  }
  override def abort(): Unit = if (out != null) {
    // drop only this attempt's temp; committed shards stay intact.
    // close() may itself throw (gzip trailer into a dead stream) —
    // the temp must still be deleted and the ORIGINAL task failure
    // must stay visible, so swallow close errors here.
    try out.close() catch { case _: java.io.IOException => () }
    tmpPath.getFileSystem(RqTableProvider.hadoopConf).delete(tmpPath, false)
  }
  override def close(): Unit = ()
}
